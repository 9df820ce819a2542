"""Entry-level key_range stats pruning (the Iceberg manifest
column-stats analogue): every commit entry records its files' doc_id
[min, max] harvested from the staged parquet footers, and scan
planning (lookup / scan_range) drops whole delta files whose range
provably cannot contain the probe — driver-side, before any Spark job.

Pins: ranges recorded on ingest/compaction/rebucket/crash-replay
entries; pruning skips provably-irrelevant files and ONLY those;
lookup/scan_range results are identical to the unpruned full-state
read (LWW fold over surviving files is exact because a skipped file
holds no version of any surviving key — tombstones carry the key too);
legacy entries without a range are never skipped."""

import shutil

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import (
    KEY,
    SnapshotSink,
    _range_intersects,
    _range_may_contain,
    bucket_of,
)
from beehive_data_etl_spark.sources.arrow_fold import _bucket_files

SCHEMA = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(prefix, n, seq0, op="I"):
    return [
        (op, seq0 + i, f"{prefix}-{i:04d}", [seq0 + i, i], 2, "s")
        for i in range(n)
    ]


@pytest.fixture()
def sink(spark, tmp_path):
    """Three batches with DISJOINT lexical key ranges (a-*, b-*, c-*):
    hashing scatters each prefix across all buckets, but every delta
    FILE's [min, max] stays confined to its batch's prefix — the layout
    where entry stats pruning bites."""
    root = str(tmp_path / "sink")
    shutil.rmtree(root, ignore_errors=True)
    s = SnapshotSink(spark, root, n_buckets=4, compact_threshold=100)
    s.apply_batch(_batch(spark, _rows("a", 30, 1000)), "b-a")
    s.apply_batch(_batch(spark, _rows("b", 30, 2000)), "b-b")
    s.apply_batch(_batch(spark, _rows("c", 30, 3000)), "b-c")
    return s


def _all_entries(snap):
    return [e for ents in snap["buckets"].values() for e in ents]


def test_key_range_recorded_on_ingest_entries(sink):
    snap = sink.current_snapshot()
    ents = _all_entries(snap)
    assert ents
    for e in ents:
        rng = e.get("key_range")
        assert rng and rng[0] is not None and rng[0] <= rng[1]
        # each delta's range is confined to its batch's prefix
        assert rng[0][0] == rng[1][0], rng


def test_lookup_skips_disjoint_prefix_files(sink):
    """The driver's planner (one-bucket probes) and the Spark scan
    (multi-bucket probes) both keep only the a-* batch's files."""
    snap = sink.current_snapshot()
    for key in ("a-0003", "a-0017"):
        b = bucket_of(key, sink.n_buckets)
        files = _bucket_files(sink.root, snap, b, [key])
        assert files and all("ingest=b-a" in f for f in files), files
    probe = [f"a-{i:04d}" for i in range(30)]
    assert len({bucket_of(k, sink.n_buckets) for k in probe}) > 1
    files = sink.lookup(probe).inputFiles()
    assert files
    assert all("ingest=b-a" in f for f in files), files


def test_scan_range_skips_disjoint_prefix_files(sink):
    df = sink.scan_range("b-0000", "b-9999")
    files = df.inputFiles()
    assert files
    assert all("ingest=b-b" in f for f in files), files
    got = sorted(r[0] for r in df.select(KEY).collect())
    assert got == [f"b-{i:04d}" for i in range(30)]


def test_scan_range_matches_full_state_filter(sink):
    full = (
        sink.read_final()
        .filter((F.col(KEY) >= "a-0010") & (F.col(KEY) <= "b-0005"))
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    got = (
        sink.scan_range("a-0010", "b-0005")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert list(got[KEY]) == list(full[KEY])
    assert [list(t) for t in got["tokens"]] == [list(t) for t in full["tokens"]]


def test_scan_range_open_bounds_and_empty(sink):
    assert sink.scan_range(None, "a-9999").count() == 30
    assert sink.scan_range("c-0000", None).count() == 30
    assert sink.scan_range(None, None).count() == 90
    assert sink.scan_range("zz", None).count() == 0
    with pytest.raises(ValueError):
        sink.scan_range("b", "a")


def test_range_scan_sees_full_lww_history(spark, sink):
    """An update and a delete land in a LATER delta (own range entry);
    the range fold must still resolve them — tombstones carry the key,
    so their file intersects the interval and is read."""
    sink.apply_batch(
        _batch(
            spark,
            [
                ("U", 9001, "a-0001", [99], 1, "s"),
                ("D", 9002, "a-0002", None, 0, "s"),
            ],
        ),
        "b-upd",
    )
    out = {
        r[0]: list(r[1]) for r in
        sink.scan_range("a-0000", "a-0003").select(KEY, "tokens").collect()
    }
    assert out["a-0001"] == [99]
    assert "a-0002" not in out
    assert set(out) == {"a-0000", "a-0001", "a-0003"}
    # lookup agrees, through its own pruning
    lk = sink.lookup(["a-0001", "a-0002"]).collect()
    assert len(lk) == 1 and list(lk[0]["tokens"]) == [99]


def test_compaction_and_rebucket_entries_carry_ranges(spark, sink):
    sink.compact()
    snap = sink.current_snapshot()
    for e in _all_entries(snap):
        assert e["compacted"] and e.get("key_range"), e
    # compacted bucket files mix prefixes, so the range widens — but
    # lookup equivalence holds and still prunes nothing incorrectly
    assert sink.lookup(["b-0004"]).count() == 1
    sink.rebucket(8)
    snap = sink.current_snapshot()
    assert snap["n_buckets"] == 8
    for e in _all_entries(snap):
        assert e.get("key_range"), e
    assert sink.lookup(["c-0029"]).count() == 1


def test_crash_replay_manifest_carries_range(spark, tmp_path):
    class _Boom(RuntimeError):
        pass

    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=2)
    state = {"fired": False}

    def hook(point):
        if point == "before_pointer_swap" and not state["fired"]:
            state["fired"] = True
            raise _Boom(point)

    sink.crash_hook = hook
    with pytest.raises(_Boom):
        sink.apply_batch(_batch(spark, _rows("a", 10, 100)), "b0")
    sink2 = SnapshotSink(spark, root, n_buckets=2)
    sink2.apply_batch(_batch(spark, _rows("a", 10, 100)), "b0")
    for e in _all_entries(sink2.current_snapshot()):
        rng = e.get("key_range")
        assert rng and rng[0].startswith("a-"), e


def test_legacy_entries_without_range_never_pruned(sink):
    """A snapshot written before stats harvesting (or with stats-less
    footers) must behave exactly as before: no skipping."""
    import json
    import os

    snap = sink.current_snapshot()
    for ents in snap["buckets"].values():
        for e in ents:
            e.pop("key_range", None)
    p = os.path.join(sink.root, "_snapshots", f"v{snap['version']:06d}.json")
    with open(p, "w") as fh:
        json.dump(snap, fh)
    reopened = SnapshotSink(sink.spark, sink.root, n_buckets=sink.n_buckets)
    assert reopened.lookup(["b-0007"]).count() == 1
    assert reopened.scan_range("c-0000", "c-0004").count() == 5


def test_target_file_rows_splits_and_prunes_within_bucket(spark, tmp_path):
    """target_file_rows (Iceberg write.target-file-size analogue) caps
    rows per data file; a compaction rewrite is key-sorted, so the
    split files cover DISJOINT key ranges and the per-file stats prune
    a point probe to ONE file even inside a single bucket's entry."""
    root = str(tmp_path / "tsink")
    s = SnapshotSink(
        spark, root, n_buckets=1, compact_threshold=100, target_file_rows=25
    )
    s.apply_batch(_batch(spark, _rows("k", 100, 1000)), "b0")
    s.compact()
    snap = s.current_snapshot()
    [ents] = snap["buckets"].values()
    [e] = ents
    fr = e["file_ranges"]
    assert len(fr) == 4, fr
    # key-sorted split ⇒ per-file ranges are pairwise disjoint
    spans = sorted(fr.values())
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo, spans
    # one bucket: the probe is planned on the driver, from file_ranges
    assert len(_bucket_files(root, snap, 0, ["k-0042"])) == 1
    assert s.lookup(["k-0042"]).count() == 1
    # a range crossing one file boundary reads exactly two files
    rng = s.scan_range("k-0024", "k-0026")
    assert len(rng.inputFiles()) == 2, rng.inputFiles()
    assert sorted(r[0] for r in rng.select(KEY).collect()) == [
        "k-0024", "k-0025", "k-0026",
    ]
    # full equivalence: pruned fold == unpruned state
    assert s.scan_range(None, None).count() == 100


def test_unsorted_ingest_split_files_stay_correct(spark, tmp_path):
    """Ingest deltas are NOT key-sorted (the hot merge path carries no
    sort), so split files overlap in range — pruning must then keep
    every overlapping file and results stay exact."""
    root = str(tmp_path / "usink")
    s = SnapshotSink(
        spark, root, n_buckets=1, compact_threshold=100, target_file_rows=10
    )
    s.apply_batch(_batch(spark, _rows("k", 40, 1000)), "b0")
    # LWW update in a second delta: the fold must still see both files
    s.apply_batch(
        _batch(spark, [("U", 9000, "k-0005", [42], 1, "s")]), "b1"
    )
    out = s.lookup(["k-0005"]).collect()
    assert len(out) == 1 and list(out[0]["tokens"]) == [42]
    assert s.scan_range(None, None).count() == 40


def test_patch_table_lookup_and_range_pruned(spark, tmp_path):
    """Per-cell (patch) tables ride the same entry stats: the key
    column is identical, so pruning and the cell fold compose."""
    root = str(tmp_path / "psink")
    s = SnapshotSink(spark, root, n_buckets=2, patch=True)
    full = [
        ("I", 100 + i, f"a-{i:02d}", [i], 1, "s", None) for i in range(5)
    ] + [("I", 200 + i, f"b-{i:02d}", [i], 1, "s", None) for i in range(5)]
    schema = SCHEMA + ", patch_cols array<string>"
    s.apply_batch(spark.createDataFrame(full, schema), "p0")
    s.apply_batch(
        spark.createDataFrame(
            [("P", 900, "a-03", [77], 1, None, ["tokens", "n_tok"])], schema
        ),
        "p1",
    )
    out = {r[0]: list(r[1]) for r in s.lookup(["a-03", "b-02"]).select(KEY, "tokens").collect()}
    assert out == {"a-03": [77], "b-02": [2]}
    rng = s.scan_range("a-00", "a-99")
    assert sorted(r[0] for r in rng.select(KEY).collect()) == [
        f"a-{i:02d}" for i in range(5)
    ]
    for e in _all_entries(s.current_snapshot()):
        assert e.get("key_range"), e


def test_range_predicates_unit():
    assert _range_may_contain(None, ["a"])
    assert _range_may_contain([None, None], ["a"])
    assert _range_may_contain(["b", "d"], ["a", "c"])
    assert _range_may_contain(["b", "d"], ["b"])
    assert _range_may_contain(["b", "d"], ["d"])
    assert not _range_may_contain(["b", "d"], ["a", "e"])
    assert not _range_may_contain(["b", "d"], [])
    assert _range_intersects(None, "a", "z")
    assert _range_intersects(["b", "d"], None, None)
    assert _range_intersects(["b", "d"], "d", None)
    assert _range_intersects(["b", "d"], None, "b")
    assert not _range_intersects(["b", "d"], "e", None)
    assert not _range_intersects(["b", "d"], None, "a")
