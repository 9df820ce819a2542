"""SnapshotSink answers one-bucket point reads and row-LWW changelog
windows with the Arrow fold on the driver (sources/arrow_fold.py):

- a one-bucket ``lookup`` of a row-LWW table runs no Spark job and
  returns the rows, columns and types of the Spark fold
  (``read_final().filter(isin)``), over key types, evolved schemas,
  tombstones, time travel and projections;
- ``read_changes`` on a row-LWW window without a rebucket, alter,
  purge, rollback or tombstone-floor advance runs no Spark job and
  equals ``_delta_diff`` and the diff of ``read_state`` at the two
  versions;
- multi-bucket probes, patch tables, ``include_old=True`` and every
  refused window keep the Spark path;
- the ``beehive`` Data Source prunes point reads of int and bigint
  keys to the key's bucket."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import EqualTo, In

from beehive_data_etl_spark.sinks.snapshot import (
    KEY,
    SEQ,
    SnapshotSink,
    _probe_keys,
    bucket_of,
)
from beehive_data_etl_spark.sources.arrow_fold import _bucket_files
from beehive_data_etl_spark.sources.spark_datasource import (
    plan_state_partitions,
    register,
)

from test_serving_reads import _jobs

ROW = "op string, op_sequence long, doc_id {key}, tokens array<int>, n_tok int"
EVOLVED = ROW + ", lang string"


def _spark_lookup(s, ids, version=None, columns=None):
    """The Spark fold's answer: the live state filtered to ``ids``."""
    state = s.read_state(version=version, columns=columns)
    keys = _probe_keys(ids, state.schema[KEY])  # float32 rounding, -0.0
    return s._live_rows(state, None, columns).filter(F.col(KEY).isin(keys))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_driver_lookup(spark, s, ids, **kw):
    """lookup(ids) is answered by the driver and equals the Spark fold."""
    got, n = _jobs(spark, lambda: s.lookup(ids, **kw))
    rows, n_collect = _jobs(spark, got.collect)
    assert n == 0 and n_collect == 0, (ids, n, n_collect)
    want = _spark_lookup(s, ids, **kw)
    assert got.schema == want.schema, (got.schema, want.schema)
    assert sorted(map(tuple, rows), key=repr) == _rows(want), ids
    return rows


def _one_bucket(s, keys):
    n = s.n_buckets
    dtype = T.StructType.fromDDL(s.current_snapshot()["schema"])[KEY].dataType
    return len({bucket_of(k, n, dtype) for k in keys}) == 1


# -------------------------------------------------------------- point reads
KEYS = {
    "string": ["a", "b", "c", "d", "e", "f"],
    "int": [-5, 0, 7, 11, 2**31 - 1, 42],
    "bigint": [-(2**63), 3, 7, 2**40, 99, 123456789012],
    "double": [0.0, 1.5, -2.25, 3.0, 1e300, -7.5],
    "float": [0.1, -3.5, 1e-3, 2.0, 0.0, 8.25],
}


@pytest.mark.parametrize("key", list(KEYS))
def test_lookup_typed_keys_match_spark_fold(spark, tmp_path, key):
    """Every live key, a tombstone, an update and a duplicate delivery
    of each key type; -0.0 finds the double key stored as 0.0."""
    keys = KEYS[key]
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4, lineage=False)
    schema = ROW.format(key=key)
    s.apply_batch(
        spark.createDataFrame(
            [("I", 10 + i, k, [i], i) for i, k in enumerate(keys)], schema
        ),
        "b0",
    )
    s.apply_batch(
        spark.createDataFrame(
            [("U", 100, keys[0], [7, 7], 2), ("U", 100, keys[0], [7, 7], 2),
             ("D", 101, keys[1], [], 0)],
            schema,
        ),
        "b1",
    )
    for k in keys:
        _assert_driver_lookup(spark, s, [k])
    assert _assert_driver_lookup(spark, s, [keys[1]]) == []
    if key == "double":
        assert len(_assert_driver_lookup(spark, s, [-0.0])) == 1


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """v1: 60 string keys; v2: n_tok widened to bigint, lang added,
    updates and deletes; v3: more updates; tag 'two' on v2; 16 buckets
    so that some buckets stay empty of the probed keys."""
    s = SnapshotSink(
        spark, str(tmp_path_factory.mktemp("evolved")), n_buckets=16,
        lineage=False, compact_threshold=100,
    )
    k = lambda i: f"doc-{i:03d}"  # noqa: E731
    s.apply_batch(
        spark.createDataFrame(
            [("I", 10 + i, k(i), [i], i) for i in range(60)],
            ROW.format(key="string"),
        ),
        "b0",
    )
    evo = EVOLVED.format(key="string").replace("n_tok int", "n_tok bigint")
    s.apply_batch(
        spark.createDataFrame(
            [("U", 100 + i, k(i), [i, i], 2**40 + i, "en") for i in range(0, 60, 3)]
            + [("D", 100 + i, k(i), [], 0, None) for i in range(1, 60, 7)],
            evo,
        ),
        "b1",
    )
    s.tag("two", 2)
    s.apply_batch(
        spark.createDataFrame(
            [("U", 300 + i, k(i), [3], 3, "de") for i in range(0, 60, 5)], evo
        ),
        "b2",
    )
    return s, [k(i) for i in range(60)]


def test_lookup_evolved_schema_tombstones_missing_duplicates(spark, evolved):
    s, keys = evolved
    for k in keys:
        _assert_driver_lookup(spark, s, [k])
    dead = keys[1]  # deleted at v2
    assert _assert_driver_lookup(spark, s, [dead]) == []
    assert _assert_driver_lookup(spark, s, ["doc-missing"]) == []
    assert len(_assert_driver_lookup(spark, s, [keys[3], keys[3]])) == 1
    # several keys of one bucket fold in one driver read
    b = bucket_of(keys[0], s.n_buckets)
    same = [k for k in keys if bucket_of(k, s.n_buckets) == b]
    missing = next(
        m for m in (f"doc-x{i}" for i in range(1000)) if bucket_of(m, s.n_buckets) == b
    )
    assert len(same) > 1
    assert len(_assert_driver_lookup(spark, s, same + [missing])) > 1


def test_lookup_version_tag_and_columns(spark, evolved):
    s, keys = evolved
    for k in (keys[0], keys[3], keys[5], keys[8]):
        for ref in (1, 2, "two", 3):
            _assert_driver_lookup(spark, s, [k], version=ref)
        _assert_driver_lookup(spark, s, [k], columns=["lang"])
        _assert_driver_lookup(spark, s, [k], columns=["n_tok", "tokens"])
        _assert_driver_lookup(spark, s, [k], version=1, columns=["tokens"])


def test_lookup_empty_bucket(spark, evolved):
    s, _ = evolved
    snap = s.current_snapshot()
    empty = next(
        f"probe-{i}" for i in range(10_000)
        if not _bucket_files(s.root, snap, bucket_of(f"probe-{i}", s.n_buckets), [f"probe-{i}"])
    )
    assert _assert_driver_lookup(spark, s, [empty]) == []
    assert _assert_driver_lookup(spark, s, [empty], columns=["lang"]) == []


def test_multi_bucket_and_patch_lookups_keep_spark(spark, evolved, tmp_path):
    s, keys = evolved
    probe = keys[:6]
    assert not _one_bucket(s, probe)
    got, n = _jobs(spark, lambda: s.lookup(probe).collect())
    assert n >= 1
    assert sorted(map(tuple, got), key=repr) == _rows(_spark_lookup(s, probe))
    p = SnapshotSink(spark, str(tmp_path / "p"), n_buckets=2, patch=True, lineage=False)
    p.apply_batch(
        spark.createDataFrame(
            [("I", 1, "a", [1], 1, None)],
            ROW.format(key="string") + ", patch_cols array<string>",
        ),
        "p0",
    )
    got, n = _jobs(spark, lambda: p.lookup(["a"]).collect())
    assert n >= 1 and [r[KEY] for r in got] == ["a"]


def test_driver_lookup_prunes_by_key_ranges(spark, tmp_path):
    """The planner that lookup calls skips entries whose key_range, and
    files whose file_ranges range, cannot hold the probe."""
    s = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=1, lineage=False,
        compact_threshold=100, target_file_rows=25,
    )
    schema = ROW.format(key="string")
    for prefix, seq in (("a", 100), ("b", 200)):
        s.apply_batch(
            spark.createDataFrame(
                [("I", seq + i, f"{prefix}-{i:04d}", [i], 1) for i in range(100)],
                schema,
            ),
            f"b-{prefix}",
        )
    snap = s.current_snapshot()
    every = _bucket_files(s.root, snap, 0)
    a_only = _bucket_files(s.root, snap, 0, ["a-0042"])
    assert a_only and set(a_only) < set(every)
    assert all("ingest=b-a" in f for f in a_only), a_only
    s.compact()
    snap = s.current_snapshot()
    [[ent]] = snap["buckets"].values()
    assert len(ent["file_ranges"]) == 8
    assert len(_bucket_files(s.root, snap, 0, ["a-0042"])) == 1
    assert len(_bucket_files(s.root, snap, 0, ["a-0042", "b-0099"])) == 2
    assert _bucket_files(s.root, snap, 0, ["c-0000"]) == []
    _assert_driver_lookup(spark, s, ["a-0042"])
    _assert_driver_lookup(spark, s, ["b-0099", "a-0000", "a-0099"])


# ---------------------------------------------------------------- changelog
@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """v1 insert, v2 append, v3 inline compaction, v4 widening batch
    (n_tok bigint, lang added), v5 explicit compact, v6 append."""
    s = SnapshotSink(
        spark, str(tmp_path_factory.mktemp("history")), n_buckets=4,
        lineage=False, compact_threshold=2,
    )
    k = lambda i: f"k-{i:03d}"  # noqa: E731
    row = ROW.format(key="string")
    evo = EVOLVED.format(key="string").replace("n_tok int", "n_tok bigint")
    s.apply_batch(
        spark.createDataFrame([("I", 10 + i, k(i), [i], i) for i in range(40)], row),
        "v1",
    )
    s.apply_batch(
        spark.createDataFrame(
            [("U", 100 + i, k(i), [i, 1], 2) for i in range(10)]
            + [("D", 100 + i, k(i), [], 0) for i in range(10, 14)]
            + [("I", 100 + i, k(i), [i], 1) for i in range(40, 46)],
            row,
        ),
        "v2",
    )
    m = s.apply_batch(
        spark.createDataFrame(
            [("U", 200 + i, k(i), [2], 1) for i in range(20, 30)]
            + [("D", 200, k(0), [], 0), ("I", 201, k(10), [5], 1)]
            # a stale update loses to the row's clock
            + [("U", 50, k(40), [0], 0)],
            row,
        ),
        "v3",
    )
    assert m["compacted_buckets"], m
    s.apply_batch(
        spark.createDataFrame(
            [("U", 300 + i, k(i), [3], 2**40, "en") for i in range(30, 36)]
            + [("I", 300, k(0), [9], 1, "fr"), ("D", 301, k(41), [], 0, None)],
            evo,
        ),
        "v4",
    )
    s.compact()
    s.apply_batch(
        spark.createDataFrame(
            [("U", 400 + i, k(i), [4], 4, "de") for i in range(5)], evo
        ),
        "v6",
    )
    assert s.current_snapshot()["version"] == 6
    return s


def _state_diff_rows(s, frm, to, cols):
    """The diff of read_state at the two versions, as read_changes rows."""
    old = {r[KEY]: r.asDict() for r in s.read_state(version=frm).collect()}
    new = {r[KEY]: r.asDict() for r in s.read_state(version=to).collect()}
    out = []
    for key in old.keys() | new.keys():
        o, n = old.get(key), new.get(key)
        o_live = o is not None and not o["deleted"]
        n_live = n is not None and not n["deleted"]
        if n_live and not o_live:
            t = "I"
        elif n_live and o_live and n[SEQ] > o[SEQ]:
            t = "U"
        elif o_live and not n_live:
            t = "D"
        else:
            continue
        out.append(tuple(n[c] for c in cols) + (t,))
    return sorted(out, key=repr)


WINDOWS = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 3), (2, 6), (1, 6), (3, 3), (6, 6)]


@pytest.mark.parametrize("frm,to", WINDOWS)
def test_read_changes_driver_path_parity(spark, history, frm, to):
    s = history
    for columns in (None, ["n_tok"], ["lang"] if to >= 4 else ["tokens"]):
        got, n = _jobs(spark, lambda: s.read_changes(frm, to, columns=columns))
        rows, n_collect = _jobs(spark, got.collect)
        assert n == 0 and n_collect == 0, (frm, to, n, n_collect)
        want = s._delta_diff(
            frm, to, s.snapshot(frm), s.snapshot(to), include_cells=False,
            include_old=False, columns=columns,
        )
        assert got.schema == want.schema, (got.schema, want.schema)
        assert sorted(map(tuple, rows), key=repr) == _rows(want), (frm, to)
        cols = [c for c in got.columns if c != "change_type"]
        assert sorted(map(tuple, rows), key=repr) == _state_diff_rows(s, frm, to, cols)


# ------------------------------------------------------------ typed payload
TYPED = (
    "op string, op_sequence long, doc_id string, ts timestamp, "
    "ntz timestamp_ntz, amount decimal(12,3), "
    "events array<struct<a:timestamp,b:string>>"
)
SESSION_CONFS = {
    "zone": ("spark.sql.session.timeZone", "America/Los_Angeles"),
    "large_var_types": ("spark.sql.execution.arrow.useLargeVarTypes", "true"),
}


@pytest.mark.parametrize("conf", list(SESSION_CONFS))
def test_typed_payload_driver_reads_match_spark(spark, tmp_path, conf):
    """Timestamp, timestamp_ntz, decimal and array<struct<timestamp,
    string>> payloads read the same from a driver lookup and a driver
    changelog as from the Spark fold, under a non-UTC session time zone
    and under large Arrow var types."""
    import datetime
    import decimal

    name, value = SESSION_CONFS[conf]
    prev = spark.conf.get(name)
    spark.conf.set(name, value)
    try:
        s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4, lineage=False)
        t = lambda h: datetime.datetime(2024, 3, 10, h, 30, 15, 123456)  # noqa: E731

        def row(op, seq, i, h):
            return (
                op, seq, f"k{i}", t(h), t(h + 1),
                decimal.Decimal(f"{i}{h}.125"), [(t(h + 2), f"e{i}"), (None, None)],
            )

        s.apply_batch(
            spark.createDataFrame([row("I", 10 + i, i, i) for i in range(8)], TYPED),
            "b1",
        )
        s.apply_batch(
            spark.createDataFrame(
                [row("U", 100, 1, 20), row("D", 101, 2, 0), row("I", 102, 9, 5)],
                TYPED,
            ),
            "b2",
        )
        for i in (0, 1, 2, 9):
            if _one_bucket(s, [f"k{i}"]):
                _assert_driver_lookup(spark, s, [f"k{i}"])
        got, n = _jobs(spark, lambda: s.read_changes(1, 2))
        rows, n_collect = _jobs(spark, got.collect)
        assert n == 0 and n_collect == 0, (n, n_collect)
        want = s._delta_diff(
            1, 2, s.snapshot(1), s.snapshot(2), include_cells=False,
            include_old=False, columns=None,
        )
        assert got.schema == want.schema, (got.schema, want.schema)
        assert sorted(map(tuple, rows), key=repr) == _rows(want)
        assert {r["change_type"] for r in rows} == {"I", "U", "D"}
    finally:
        spark.conf.set(name, prev)


def test_refused_windows_keep_spark(spark, tmp_path, monkeypatch):
    """Windows holding a rebucket, a column alter, a purge, a rollback or
    a tombstone-floor advance, and include_old=True, keep the Spark
    diffs; a plain append window takes the driver path."""
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=2, lineage=False)
    routed = []
    driver = s._driver_changes
    monkeypatch.setattr(
        s, "_driver_changes", lambda *a: routed.append(a) or driver(*a)
    )

    def write(rows, bid):
        s.apply_batch(spark.createDataFrame(rows, ROW.format(key="string")), bid)
        return s.current_snapshot()["version"]

    v1 = write([("I", 10 + i, f"k{i}", [i], i) for i in range(8)], "b1")
    v2 = write([("U", 100, "k1", [1], 1), ("D", 101, "k2", [], 0)], "b2")
    s.read_changes(v1, v2, include_old=True).collect()
    assert not routed
    s.read_changes(v1, v2).collect()
    assert len(routed) == 1
    routed.clear()
    s.rebucket(4)
    v3 = s.current_snapshot()["version"]
    s.rename_column("n_tok", "count")
    v4 = s.current_snapshot()["version"]
    s.purge_keys(["k3"], skip_vacuum=True)
    v5 = s.current_snapshot()["version"]
    s.expire_tombstones(1000)
    v6 = s.current_snapshot()["version"]
    s.rollback_to(v5)
    v7 = s.current_snapshot()["version"]
    for frm, to in ((v2, v3), (v3, v4), (v4, v5), (v5, v6), (v6, v7), (v1, v7)):
        s.read_changes(frm, to).collect()
        assert not routed, (frm, to)


# -------------------------------------------------------- data source keys
@pytest.mark.parametrize("key", ["int", "bigint"])
def test_datasource_point_read_prunes_numeric_keys(spark, tmp_path, key):
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8, lineage=False)
    s.apply_batch(
        spark.createDataFrame(
            [("I", 10 + i, i, [i], i) for i in range(40)], ROW.format(key=key)
        ),
        "b0",
    )
    snap = s.current_snapshot()
    dtype = T.IntegerType() if key == "int" else T.LongType()
    parts = plan_state_partitions(s.root, snap, [EqualTo((KEY,), 7)])
    assert [p.bucket for p in parts] == [bucket_of(7, 8, dtype)]
    parts = plan_state_partitions(s.root, snap, [In((KEY,), (7, 8))])
    assert {p.bucket for p in parts} == {bucket_of(k, 8, dtype) for k in (7, 8)}
    register(spark)
    df = spark.read.format("beehive").load(s.root).filter("doc_id = 7")
    assert df.rdd.getNumPartitions() == 1
    assert _rows(df) == _rows(s.lookup([7])) != []
