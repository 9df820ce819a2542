"""SnapshotSink's serving reads plan on the driver from the snapshot
JSON and run only the Spark work that produces rows:

- no sink read or compaction launches a file-listing job, however many
  bucket/delta directories it reads;
- ``read_changes`` diffs the window's delta files, and equals the diff
  of ``read_state`` at the two versions over every commit kind
  (append, inline compaction, rename, rebucket, purge, rollback), for
  row-LWW and per-cell patch tables;
- ``lookup`` buckets come from the Python hash twin: a one-bucket
  probe is answered on the driver (no Spark job, a local relation), and
  a multi-bucket probe keeps the key filter pushed into the parquet
  scan of exactly its buckets."""

import io
import re
import uuid
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.operators.patch import CELL
from beehive_data_etl_spark.sinks.snapshot import KEY, SEQ, SnapshotSink, bucket_of
from beehive_data_etl_spark.sources.arrow_fold import _bucket_files

ROW_SCHEMA = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string"
)
PATCH_SCHEMA = (
    "op string, op_sequence long, doc_id string, "
    "a double, b string, c long, patch_cols array<string>"
)


def _job_ids(spark, fn):
    """(result of fn(), ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it ran)."""
    out, ids = _job_ids(spark, fn)
    return out, len(ids)


def _key(i: int) -> str:
    return f"k-{i:04d}"


def _row_batch(spark, rows, source_col="source"):
    """rows: (op, seq, key index) → row-LWW envelope rows."""
    schema = ROW_SCHEMA.replace("source string", f"{source_col} string")
    return spark.createDataFrame(
        [(op, seq, _key(i), [seq, i], 2, f"s{seq}") for op, seq, i in rows],
        schema,
    )


# ------------------------------------------------------------ listing jobs
def _layered(spark, root, n_deltas):
    """16 buckets, ``n_deltas`` deltas in every one, and a threshold
    that makes the next write compact every bucket."""
    s = SnapshotSink(spark, root, n_buckets=16, compact_threshold=n_deltas)
    for d in range(n_deltas):
        s.apply_batch(
            _row_batch(spark, [("U", 1000 * d + i, i) for i in range(256)]),
            f"b{d}",
        )
    snap = s.current_snapshot()
    assert [len(snap["buckets"][str(b)]) for b in range(16)] == [n_deltas] * 16
    return s


def test_no_listing_job_for_wide_reads_and_compaction(spark, tmp_path):
    """A read over 16 buckets × 4 deltas (64 dirs, past Spark's default
    32-path parallel-listing threshold) runs no more jobs than the same
    read over 16 × 2: every directory is listed on the driver. The read
    asks for pre-images (``include_old``), so it plans Spark scans."""
    counts = {}
    for n in (2, 4):
        s = _layered(spark, str(tmp_path / f"t{n}"), n)
        v = s.current_snapshot()["version"]
        _, changes = _jobs(
            spark, lambda: s.read_changes(v - 1, v, include_old=True).collect()
        )
        assert changes > 0
        m, write = _jobs(
            spark,
            lambda: s.apply_batch(
                _row_batch(spark, [("U", 10_000 + i, i) for i in range(256)]),
                "compacting",
            ),
        )
        assert sorted(m["compacted_buckets"]) == list(range(16))
        counts[n] = (changes, write)
    assert counts[4][0] <= counts[2][0], counts
    assert counts[4][1] <= counts[2][1], counts


# ------------------------------------------------------ changelog equivalence
def _patch_batch(spark, rows, b_col="b"):
    """rows: (op, seq, key index, mask) → patch envelope rows."""
    recs = []
    for op, seq, i, mask in rows:
        full = op in ("I", "U")
        recs.append(
            {
                "op": op,
                "op_sequence": seq,
                "doc_id": _key(i),
                "a": float(seq) if full or "a" in mask else None,
                b_col: f"s{seq}" if full or "b" in mask else None,
                "c": seq * 10 if full or "c" in mask else None,
                "patch_cols": [m.replace("b", b_col) for m in mask] if op == "P" else None,
            }
        )
    return spark.createDataFrame(
        pd.DataFrame(recs), PATCH_SCHEMA.replace("b string", f"{b_col} string")
    )


def _build(spark, root, patch):
    """Commits v1..v10, one kind each:
    v1 insert, v2 append, v3 inline compaction, v4 rename_column,
    v5 append under the new name, v6 rebucket, v7 append, v8 purge_keys,
    v9 rollback_to(v6), v10 append after the rollback."""
    s = SnapshotSink(
        spark, root, n_buckets=4, compact_threshold=2, patch=patch, lineage=False
    )
    old, new = ("b", "bb") if patch else ("source", "src")

    def write(ops, bid, col):
        if patch:
            rows = [(op, seq, i, ["a"] if op == "P" else []) for op, seq, i in ops]
            # a late out-of-order patch: a seq below the row's clock
            # changes a cell without advancing it
            return s.apply_batch(_patch_batch(spark, rows, col), bid)
        return s.apply_batch(
            _row_batch(spark, [(o if o != "P" else "U", q, i) for o, q, i in ops], col),
            bid,
        )

    write([("I", 100 + i, i) for i in range(40)], "v1", old)
    write(
        [("U", 200 + i, i) for i in range(10)]
        + [("D", 200 + i, i) for i in range(10, 15)]
        + [("I", 200 + i, i) for i in range(40, 50)],
        "v2",
        old,
    )
    m = write(
        [("P", 300 + i, i) for i in range(20, 30)]
        + [("D", 300 + i, i) for i in range(3)]
        + [("P", 150, 5)],  # late: below key 5's clock (200+5)
        "v3",
        old,
    )
    assert m["compacted_buckets"], m
    s.rename_column(old, new)
    write([("U", 500 + i, i) for i in range(30, 35)], "v5", new)
    s.rebucket(8)
    write(
        [("P", 700 + i, i) for i in range(35, 40)]
        + [("I", 700 + i, i) for i in range(50, 55)],
        "v7",
        new,
    )
    s.purge_keys([_key(3), _key(4), _key(45)], skip_vacuum=True)
    s.rollback_to(6)
    write([("U", 1000 + i, i) for i in range(5, 9)], "v10", new)
    assert s.current_snapshot()["version"] == 10
    return s, (old, new)


def _state(sink, v, rename=None):
    """read_state at ``v`` as {key: row}; ``rename`` = (old, new) brings
    a renamed column and its cells to the new name."""
    old, new = rename or (None, None)
    out = {}
    for r in sink.read_state(version=v).collect():
        row = r.asDict()
        if old in row:
            row[new] = row.pop(old)
        if CELL in row:
            row[CELL] = {(new if k == old else k): q for k, q in row[CELL].items()}
        out[row[KEY]] = row
    return out


def _expected(old, new, cols, patch):
    """The full-state diff: I (not live → live), U (live → live with an
    advanced clock or, per cell, a changed cell map), D (live → deleted
    or absent; an absent key's columns are all NULL)."""
    out = {}
    for k in old.keys() | new.keys():
        o, n = old.get(k), new.get(k)
        o_live = o is not None and not o["deleted"]
        n_live = n is not None and not n["deleted"]
        if n_live and not o_live:
            t = "I"
        elif n_live and o_live and (
            n[SEQ] > o[SEQ] or (patch and n[CELL] != o[CELL])
        ):
            t = "U"
        elif o_live and not n_live:
            t = "D"
        else:
            continue
        out[k] = {c: (None if n is None else n[c]) for c in cols} | {
            KEY: k,
            "change_type": t,
        }
    return out


def _got(df):
    return {r[KEY]: r.asDict() for r in df.collect()}


# (3, 1) runs backwards over deletes and inserts, before the rename
WINDOWS = [(v - 1, v) for v in range(2, 11)] + [
    (1, 7), (6, 9), (7, 10), (2, 2), (3, 1)
]


@pytest.mark.parametrize("patch", [False, True], ids=["row_lww", "patch"])
def test_read_changes_equals_state_diff(spark, tmp_path, patch):
    s, rename = _build(spark, str(tmp_path / "t"), patch)
    for frm, to in WINDOWS:
        ch = s.read_changes(frm, to)
        cols = [c for c in ch.columns if c not in (KEY, "change_type")]
        crosses_rename = frm < 4 <= to  # rename_column is v4
        want = _expected(
            _state(s, frm, rename if crosses_rename else None),
            _state(s, to),
            cols,
            patch,
        )
        got = _got(ch)
        assert got == want, (frm, to)
        if frm <= 8 < to:  # the window holds rollback_to (v9)
            with pytest.raises(RuntimeError, match="rollback"):
                s.read_changes_pruned(frm, to)
        else:
            assert _got(s.read_changes_pruned(frm, to)) == got, (frm, to)
    # the purge window reports the purged live keys as D rows with an
    # all-NULL new side (no forward event exists for a purge)
    purged = _got(s.read_changes(7, 8))
    assert purged[_key(45)]["change_type"] == "D"
    assert purged[_key(45)][SEQ] is None


def test_tombstone_written_and_expired_inside_window(spark, tmp_path):
    """A delete whose tombstone is folded away (expire_tombstones) in
    the same window leaves no fresh row: the window still reports D."""
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=2, lineage=False)
    s.apply_batch(_row_batch(spark, [("I", 10 + i, i) for i in range(6)]), "b0")
    s.apply_batch(_row_batch(spark, [("D", 100, 2)]), "b1")
    s.expire_tombstones(1000)
    assert _key(2) not in _state(s, 3)
    for reader in (s.read_changes, s.read_changes_pruned):
        got = _got(reader(1, 3))
        assert {k: r["change_type"] for k, r in got.items()} == {_key(2): "D"}


def test_purge_window_reads_only_the_purged_bucket(spark, tmp_path):
    """A purge window is diffed over the buckets whose entries changed:
    one purged key reads its own bucket of the two versions, not all 16."""
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=16, lineage=False)
    s.apply_batch(_row_batch(spark, [("I", 10 + i, i) for i in range(64)]), "b0")
    s.apply_batch(_row_batch(spark, [("U", 100 + i, i) for i in range(0, 64, 2)]), "b1")
    before = s.current_snapshot()["version"]
    k = _key(7)
    s.purge_keys([k], skip_vacuum=True)
    ch = s.read_changes(before, s.current_snapshot()["version"])
    assert [(r[KEY], r["change_type"]) for r in ch.collect()] == [(k, "D")]
    files = ch.inputFiles()
    assert files and all(
        f"/bucket={bucket_of(k, 16)}/" in f for f in files
    ), files


# ------------------------------------------------------------------- lookup
@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    s = SnapshotSink(
        spark, str(tmp_path_factory.mktemp("served")), n_buckets=8,
        compact_threshold=100,
    )
    s.apply_batch(_row_batch(spark, [("I", 10 + i, i) for i in range(400)]), "b0")
    s.apply_batch(
        _row_batch(
            spark,
            [("U", 1000 + i, i) for i in range(0, 400, 3)]
            + [("D", 1000 + i, i) for i in range(1, 400, 7)],
        ),
        "b1",
    )
    return s


def _spread(n_buckets: int, k: int = 3) -> list[str]:
    """``k`` keys in ``k`` different buckets: a probe the Spark fold
    answers."""
    by_bucket = {}
    for i in range(400):
        by_bucket.setdefault(bucket_of(_key(i), n_buckets), _key(i))
    return list(by_bucket.values())[:k]


def test_lookup_plan_has_no_exchange_and_keeps_pushed_filter(served):
    """A one-bucket probe plans no scan at all (a local relation); a
    multi-bucket probe pushes the key filter into its parquet scan."""
    df = served.lookup([_key(5)])
    assert len(df.collect()) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "LocalTableScan" in plan, plan
    buf = io.StringIO()
    with redirect_stdout(buf):
        served.lookup(_spread(served.n_buckets)).explain("formatted")
    m = re.search(r"PushedFilters: \[(.*?)\]", buf.getvalue())
    assert m and "doc_id" in m.group(1), buf.getvalue()[:2000]


def test_lookup_job_counts(spark, served):
    """A one-bucket lookup runs no Spark job; a multi-bucket probe runs
    its scan-and-fold as one job per stage (AQE submits the shuffle
    map stage as its own job), the same count for 3 buckets as for 2."""
    served.lookup([_key(9)]).collect()  # warm
    rows, n = _jobs(spark, lambda: served.lookup([_key(9)]).collect())
    assert len(rows) == 1 and n == 0
    counts = []
    for k in (2, 3):
        probe = _spread(served.n_buckets, k)
        served.lookup(probe).collect()  # warm
        rows, n = _jobs(spark, lambda: served.lookup(probe).collect())
        assert len(rows) >= 1
        counts.append(n)
    assert counts[0] == counts[1] and 1 <= counts[0] <= 2, counts


def test_lookup_reads_only_the_twins_bucket(served):
    """The driver plans one-bucket probes from the twin's bucket alone;
    a multi-bucket probe's scan reads only its buckets' files."""
    snap = served.current_snapshot()
    b = bucket_of(_key(12), served.n_buckets)
    files = _bucket_files(served.root, snap, b, [_key(12)])
    assert files and all(f"bucket={b}/" in f for f in files), files
    probe = _spread(served.n_buckets)
    buckets = {bucket_of(k, served.n_buckets) for k in probe}
    files = served.lookup(probe).inputFiles()
    assert files and all(
        int(re.search(r"bucket=(\d+)/", f).group(1)) in buckets for f in files
    ), files


def test_lookup_wrong_typed_probe_raises_on_driver(spark, served):
    _, n = _jobs(spark, lambda: pytest.raises(TypeError, served.lookup, [12345]))
    assert n == 0


def test_lookup_large_probe_set(served):
    """More ids than the deleted createDataFrame fallback's threshold
    (1024): the same rows as the live state filtered to the ids."""
    ids = [_key(i) for i in range(0, 1400)] + ["nope-1", "nope-2"]
    got = {r[KEY]: r.asDict() for r in served.lookup(ids).collect()}
    want = {
        r[KEY]: r.asDict()
        for r in served.read_final().filter(F.col(KEY).isin(ids)).collect()
    }
    assert got == want and len(got) > 300


@pytest.mark.parametrize(
    "ddl,keys",
    [
        ("int", [-5, 0, 7, 2**31 - 1]),
        ("bigint", [-(2**63), 3, 2**40]),
        ("double", [-0.0, 1.5, -2.25]),
        ("float", [0.1, -3.5, 1e-3]),
    ],
)
def test_lookup_typed_keys(spark, tmp_path, ddl, keys):
    """Non-string keys land in the bucket the twin computes (a wrong
    bucket would return no row), float probes match the stored float32
    value, and -0.0 finds the key stored as 0.0."""
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8, lineage=False)
    s.apply_batch(
        spark.createDataFrame(
            [("I", 10 + i, k, i) for i, k in enumerate(keys)],
            f"op string, op_sequence long, doc_id {ddl}, n_tok int",
        ),
        "b0",
    )
    for i, k in enumerate(keys):
        assert [r.n_tok for r in s.lookup([k]).collect()] == [i], (ddl, k)
