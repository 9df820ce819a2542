"""Fault injection for the exactly-once commit protocol (SURVEY.md §5.4,
FIXTURES.md F4): crash mid-batch at every protocol point, restart from
the same sink, assert the final state is unchanged vs a clean replay and
no (batch_id, partition_id) is applied twice."""

import json
import os

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.streaming.replay import replay_incremental
from beehive_data_etl_spark.verify import compare_final, oracle_final_spark
from test_merge_routes import route


class _Boom(RuntimeError):
    pass


def _crash_once_at(point_name: str):
    state = {"fired": False}

    def hook(point: str) -> None:
        if point == point_name and not state["fired"]:
            state["fired"] = True
            raise _Boom(point)

    return hook


_CRASH_POINTS = ["after_data_write", "after_manifest", "before_pointer_swap"]


@pytest.mark.parametrize(
    "crash_point,merge_route",
    [pytest.param(p, "arrow", id=p) for p in _CRASH_POINTS]
    + [pytest.param(p, "parallel", id=f"{p}-parallel") for p in _CRASH_POINTS],
)
def test_crash_and_resume(spark, smoke_log, tmp_path, crash_point, merge_route):
    """Small WAL batches fold and write on the driver (``apply_wal``);
    the ``parallel`` cases turn the size routing off so the bulk merge
    plan crashes and resumes too."""
    root = str(tmp_path / "sink")
    with route(spark, merge_route):
        sink = SnapshotSink(spark, root, n_buckets=8)
        sink.crash_hook = _crash_once_at(crash_point)
        with pytest.raises(_Boom):
            replay_incremental(spark, smoke_log, sink, files_per_batch=2)
        # "restart": a fresh sink object over the same table directory
        sink2 = SnapshotSink(spark, root, n_buckets=8)
        metrics = replay_incremental(spark, smoke_log, sink2, files_per_batch=2)
    assert {
        m["merge_plan"]["route"] for m in metrics if not m["skipped"]
    } == {merge_route}
    state = sink2.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], (crash_point, report)


def test_no_double_commits_and_manifest_uniqueness(spark, smoke_log, tmp_path):
    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=8)
    sink.crash_hook = _crash_once_at("after_manifest")
    with pytest.raises(_Boom):
        replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    sink2 = SnapshotSink(spark, root, n_buckets=8)
    replay_incremental(spark, smoke_log, sink2, files_per_batch=2)
    # each batch id committed exactly once
    committed = sink2.current_snapshot()["committed_batches"]
    assert len(committed) == len(set(committed))
    # each (batch_id, bucket) manifest exists at most once and its row
    # count matches the live data files it points at
    seen = set()
    for batch_dir in os.listdir(os.path.join(root, "_manifests")):
        for mf in os.listdir(os.path.join(root, "_manifests", batch_dir)):
            with open(os.path.join(root, "_manifests", batch_dir, mf)) as fh:
                m = json.load(fh)
            key = (m["batch_id"], m["bucket"])
            assert key not in seen
            seen.add(key)


def test_redelivered_batch_is_noop(spark, smoke_log, tmp_path):
    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=4)
    v = sink.current_snapshot()["version"]
    df = spark.read.option("mergeSchema", "true").parquet(smoke_log)
    m = sink.apply_batch(df, "wal-000000-part-00000.parquet")
    assert m["skipped"]
    assert sink.current_snapshot()["version"] == v


def test_stale_events_lose_lww(spark, smoke_log, tmp_path):
    """Re-applying the FIRST half of the log after the full replay must
    not change anything: every old event loses the op_sequence LWW
    comparison against the target (A3 cross-batch condition)."""
    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=4)
    import glob

    first_half = sorted(glob.glob(os.path.join(smoke_log, "part-*.parquet")))[:4]
    stale = spark.read.parquet(*first_half)
    sink.apply_batch(stale, "stale-redelivery")
    state = sink.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], report


@pytest.mark.parametrize(
    "crash_point", ["after_data_write", "after_manifest", "before_pointer_swap"]
)
def test_crash_then_vacuum_then_restart(spark, smoke_log, tmp_path, crash_point):
    """Round-1 ADVICE (high): vacuum() after a crash removes the
    uncommitted batch's data dirs but used to LEAVE its manifests, so
    the restarted replay reused manifested buckets whose files were
    gone — committing pointers to deleted paths (silent data loss).
    Now vacuum drops orphan manifests AND _manifested_buckets ignores
    manifests whose data dir is missing."""
    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=8)
    sink.crash_hook = _crash_once_at(crash_point)
    with pytest.raises(_Boom):
        replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    # maintenance runs BEFORE the restart — the sequence that lost data
    sink_m = SnapshotSink(spark, root, n_buckets=8)
    sink_m.vacuum()
    sink2 = SnapshotSink(spark, root, n_buckets=8)
    replay_incremental(spark, smoke_log, sink2, files_per_batch=2)
    state = sink2.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], (crash_point, report)
    # every bucket path referenced by CURRENT must exist on disk
    snap = sink2.current_snapshot()
    for entries in snap["buckets"].values():
        for e in entries:
            assert os.path.isdir(os.path.join(root, e["path"])), e["path"]


def test_crash_replay_keeps_interleaved_commit(spark, tmp_path):
    """Review-confirmed round-2 bug: a crashed compacting batch's
    manifest reuse must replace ONLY the deltas that attempt actually
    folded (recorded in the manifest), never the replay-time head —
    otherwise a batch that committed to the same bucket BETWEEN crash
    and replay has its delta silently dropped."""
    schema = (
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string"
    )

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=1, compact_threshold=1)
    sink.apply_batch(batch([("I", 1, "d1", [1], 1, "s")]), "b0")
    sink.crash_hook = _crash_once_at("before_pointer_swap")
    with pytest.raises(_Boom):
        sink.apply_batch(batch([("I", 2, "dA", [2], 1, "s")]), "b1")
    # an interleaved commit to the SAME bucket (pipelined out-of-order
    # commit, or restart processing the log in a different order)
    sink2 = SnapshotSink(spark, root, n_buckets=1, compact_threshold=1)
    sink2.apply_batch(batch([("I", 3, "dB", [3], 1, "s")]), "b2")
    # replay the crashed batch — the manifest-reuse path
    sink3 = SnapshotSink(spark, root, n_buckets=1, compact_threshold=1)
    m = sink3.apply_batch(batch([("I", 2, "dA", [2], 1, "s")]), "b1")
    assert m["reused_buckets"] == [0]
    docs = {r.doc_id for r in sink3.read_state().collect()}
    assert docs == {"d1", "dA", "dB"}, docs


def test_two_sink_objects_commit_concurrently_without_losing_batches(
    spark, smoke_log, tmp_path
):
    """Cross-process commit safety (flock table lock): two sink OBJECTS
    over the same root — each with its own in-process commit lock, the
    two-writer simulation — apply disjoint batches from two threads.
    Without the flock, interleaved head-read → pointer-swap sections
    drop the loser's bucket entries silently; with it, every batch id
    must be committed exactly once and the final state must equal the
    oracle."""
    import glob
    import threading

    from beehive_data_etl_spark.sources.readers import read_wal

    root = str(tmp_path / "sink")
    a = SnapshotSink(spark, root, n_buckets=8)
    b = SnapshotSink(spark, root, n_buckets=8)
    files = sorted(glob.glob(os.path.join(smoke_log, "part-*.parquet")))
    errors = []

    def run(sink, mine):
        try:
            for i, f in mine:
                sink.apply_batch(read_wal(spark, [f]), f"x-{i:03d}")
        except Exception as e:  # surfaces in the main thread's assert
            errors.append(e)

    work = list(enumerate(files))
    ta = threading.Thread(target=run, args=(a, work[0::2]))
    tb = threading.Thread(target=run, args=(b, work[1::2]))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors
    snap = a.current_snapshot()
    assert sorted(snap["committed_batches"]) == [
        f"x-{i:03d}" for i in range(len(files))
    ]
    state = a.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], report


def test_same_batch_committed_concurrently_is_skipped_at_commit(
    spark, smoke_log, tmp_path
):
    """Duplicate-delivery TOCTOU across writers: writer B passes the
    entry committed-check, then writer A commits the SAME batch id
    before B reaches its commit section. B must skip at commit (no
    double-listed id, no duplicate bucket entries) and the state must
    equal a single application."""
    import glob

    from beehive_data_etl_spark.sources.readers import read_wal

    root = str(tmp_path / "sink")
    a = SnapshotSink(spark, root, n_buckets=8)
    b = SnapshotSink(spark, root, n_buckets=8)
    files = sorted(glob.glob(os.path.join(smoke_log, "part-*.parquet")))
    df = read_wal(spark, files[:2])

    def interleave(point):
        if point == "after_data_write":
            b.crash_hook = lambda p: None  # fire once
            a.apply_batch(read_wal(spark, files[:2]), "dup-batch")

    b.crash_hook = interleave
    m = b.apply_batch(df, "dup-batch")
    assert m.get("skipped") and "concurrently" in m.get("reason", "")
    snap = a.current_snapshot()
    assert snap["committed_batches"].count("dup-batch") == 1
    # exactly one writer's entries are listed per bucket
    per_bucket = {k: len(v) for k, v in snap["buckets"].items()}
    assert all(n == 1 for n in per_bucket.values()), per_bucket


def test_duplicate_writer_cannot_destroy_winners_committed_fold(
    spark, smoke_log, tmp_path
):
    """Review finding: the duplicate-delivery skip must fire BEFORE the
    publish loop. Writer B plans batch X as an append from an old head;
    writer A (after another batch pushed buckets to the compact
    threshold) applies the same X as an inline FOLD carrying all prior
    rows. If B's publish ran before its skip, it would rmtree A's
    committed fold and replace it with X-only rows — silent loss of
    every pre-X row in those buckets."""
    import glob

    from beehive_data_etl_spark.operators.lww import lww_dedup
    from beehive_data_etl_spark.sources.readers import read_wal

    root = str(tmp_path / "sink")
    a = SnapshotSink(spark, root, n_buckets=4, compact_threshold=2)
    b = SnapshotSink(spark, root, n_buckets=4, compact_threshold=2)
    files = sorted(glob.glob(os.path.join(smoke_log, "part-*.parquet")))
    a.apply_batch(read_wal(spark, [files[0]]), "b0")  # 1 delta per bucket

    def interleave(point):
        if point == "after_data_write":
            b.crash_hook = lambda p: None
            # push buckets to the fold threshold, then A applies the
            # SAME batch id X — as an inline compaction
            a.apply_batch(read_wal(spark, [files[2]]), "w")
            a.apply_batch(read_wal(spark, [files[1]]), "x")

    b.crash_hook = interleave
    m = b.apply_batch(read_wal(spark, [files[1]]), "x")  # B planned append
    assert m.get("skipped") and "concurrently" in m.get("reason", "")
    # A's folds survived: state equals the LWW fold of all three files
    want = lww_dedup(
        read_wal(spark, files[:3]).drop("event_ts", "batch_hint"),
        "doc_id", "op_sequence",
    )
    report = compare_final(
        a.read_state().filter(~F.col("deleted")),
        want.filter(F.col("op") != "D").drop("op"),
    )
    assert report["ok"], report
