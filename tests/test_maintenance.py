"""Table maintenance: background compaction and vacuum (orphan/
superseded-file removal) keep the MoR sink's read path bounded."""

import glob
import os

import pytest

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.streaming.replay import replay_incremental
from beehive_data_etl_spark.verify import compare_final, oracle_final_spark


def test_compact_and_vacuum_preserve_state(spark, smoke_log, tmp_path):
    root = str(tmp_path / "sink")
    # high threshold → pure-append ingest, all folding left to compact()
    sink = SnapshotSink(spark, root, n_buckets=8, compact_threshold=100)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    snap = sink.current_snapshot()
    assert all(len(v) >= 2 for v in snap["buckets"].values()), "expected deltas"

    before = {r.doc_id: r.op_sequence for r in sink.read_state().collect()}
    res = sink.compact()
    assert res["compacted"]
    snap2 = sink.current_snapshot()
    assert all(len(v) == 1 for v in snap2["buckets"].values())
    after = {r.doc_id: r.op_sequence for r in sink.read_state().collect()}
    assert before == after

    n_dirs_before = len(glob.glob(os.path.join(root, "data", "ingest=*", "bucket=*")))
    removed = sink.vacuum()["removed"]
    assert removed > 0
    n_dirs_after = len(glob.glob(os.path.join(root, "data", "ingest=*", "bucket=*")))
    assert n_dirs_after == n_dirs_before - removed
    # state still byte-correct after vacuum
    state = sink.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], report


def test_vacuum_keeps_everything_when_fully_live(spark, smoke_log, tmp_path):
    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=8, compact_threshold=1)  # CoW
    replay_incremental(spark, smoke_log, sink, files_per_batch=4)
    sink.vacuum()
    state = sink.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], report


def test_stale_staging_dirs_ignored_and_vacuumed(spark, smoke_log, tmp_path):
    """A crash mid-write leaves an orphan _stage- directory: replay must
    ignore it (only the snapshot pointer defines the table) and vacuum
    must remove it."""
    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=8)
    stale = os.path.join(root, "data", "_stage-deadbeef")
    os.makedirs(os.path.join(stale, "_bucket=0"), exist_ok=True)
    with open(os.path.join(stale, "_bucket=0", "junk.parquet"), "wb") as fh:
        fh.write(b"not a real parquet file")
    replay_incremental(spark, smoke_log, sink, files_per_batch=4)
    state = sink.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], report
    assert sink.vacuum()["removed"] >= 1
    assert not os.path.isdir(stale)


def test_expire_tombstones(spark, smoke_log, tmp_path):
    """Tombstone GC: deletes below the retention floor disappear from
    state; live rows are untouched; the op is idempotent and the
    resulting table still matches the oracle's LIVE rows."""
    from beehive_data_etl_spark.verify import compare_final, oracle_final_spark

    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    pre = sink.read_state()
    n_tombstones = pre.filter(pre.deleted).count()
    assert n_tombstones > 0, "fixture produced no deletes"
    max_seq = pre.agg({"op_sequence": "max"}).collect()[0][0]

    out = sink.expire_tombstones(max_seq + 1)
    assert out["compacted"]
    post = sink.read_state()
    assert post.filter(post.deleted).count() == 0
    report = compare_final(
        post.filter(~post.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], report
    # idempotent
    sink.expire_tombstones(max_seq + 1)
    assert sink.read_state().filter("deleted").count() == 0


def test_expire_tombstones_respects_floor(spark, smoke_log, tmp_path):
    """Tombstones AT or ABOVE the floor are kept — they still guard
    against in-retention late updates."""
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    pre = sink.read_state()
    seqs = sorted(r.op_sequence for r in pre.filter(pre.deleted).collect())
    assert len(seqs) >= 2, "need at least two tombstones for a split floor"
    floor = seqs[len(seqs) // 2]
    sink.expire_tombstones(floor)
    post = sink.read_state().filter("deleted")
    remaining = sorted(r.op_sequence for r in post.collect())
    assert remaining == [s for s in seqs if s >= floor]


def test_cross_process_vacuum_age_cutoff(spark, smoke_log, tmp_path):
    """Round-2 verdict item #8: a vacuum from ANOTHER process cannot see
    this process's in-flight set — older_than_s is the Iceberg-style
    mitigation. A second sink object (fresh instance = empty _inflight,
    the cross-process simulation) vacuums mid-batch, exactly between
    data publish and commit; with the age cutoff the in-flight batch's
    fresh files survive and the replay commits byte-correct state,
    while genuinely old orphans are still reaped."""
    import time as _time

    root = str(tmp_path / "sink")
    sink = SnapshotSink(spark, root, n_buckets=8)

    # a stale orphan from a long-dead process: backdated mtimes
    stale = os.path.join(root, "data", "_stage-deadbeef")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "junk.parquet"), "wb") as fh:
        fh.write(b"junk")
    old = _time.time() - 7200
    os.utime(os.path.join(stale, "junk.parquet"), (old, old))
    os.utime(stale, (old, old))

    other = SnapshotSink(spark, root, n_buckets=8)  # "another process"
    vacuumed = {"n": 0}

    def _vacuum_midway(point):
        # fire on a LATER batch's publish point — vacuum is a no-op
        # before the first commit creates the snapshot pointer
        if (
            point == "after_data_write"
            and vacuumed["n"] == 0
            and sink.current_snapshot() is not None
        ):
            vacuumed["n"] = 1
            res = other.vacuum(older_than_s=3600)
            # the dead process's old orphan goes; nothing fresh does
            assert res["removed"] == 1
            assert not os.path.isdir(stale)

    sink.crash_hook = _vacuum_midway
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    assert vacuumed["n"] == 1
    state = sink.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )
    assert report["ok"], report
    # every bucket path referenced by CURRENT exists on disk
    snap = sink.current_snapshot()
    for entries in snap["buckets"].values():
        for e in entries:
            assert os.path.isdir(os.path.join(root, e["path"]))


def test_tombstone_gc_is_sticky_through_stale_folds(spark, tmp_path):
    """A crash-replayed pre-GC fold legitimately resurrects an expired
    tombstone (benign: the floor promises no pre-floor event can still
    arrive, so visible data is unchanged) — but the snapshot's recorded
    tombstone_floor must make the NEXT fold re-drop it, so the GC
    converges instead of being silently undone forever."""
    import pytest
    from pyspark.sql import functions as F

    SCHEMA = (
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int"
    )

    def _b(rows):
        return spark.createDataFrame(
            [(op, seq, doc, toks, len(toks), "s", None, 0)
             for op, seq, doc, toks in rows],
            SCHEMA,
        )

    class _Boom(RuntimeError):
        pass

    def _crash_at(name):
        def hook(point):
            if point == name:
                raise _Boom(point)
        return hook

    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=2,
                        compact_threshold=2)
    sink.apply_batch(_b([("I", 1, "x", [1]), ("I", 2, "y", [2])]), "b1")
    sink.apply_batch(_b([("D", 10, "x", [])]), "b2")
    # b3 folds (threshold reached) and crashes before the pointer swap:
    # its manifested fold still CONTAINS x's tombstone
    sink.crash_hook = _crash_at("before_pointer_swap")
    with pytest.raises(_Boom):
        sink.apply_batch(_b([("U", 11, "y", [3])]), "b3")
    sink.crash_hook = lambda p: None

    sink.expire_tombstones(min_op_sequence=11)
    assert sink.current_snapshot()["tombstone_floor"] == 11
    assert sink.read_state().filter(F.col("doc_id") == "x").count() == 0

    # crash-replay b3: the stale pre-GC fold commits and resurrects the
    # tombstone (documented-benign: read_final is unaffected)
    sink.apply_batch(_b([("U", 11, "y", [3])]), "b3")
    assert sink.read_state().filter(F.col("doc_id") == "x").count() == 1
    assert sink.read_final().filter(F.col("doc_id") == "x").count() == 0

    # stickiness: the next fold re-applies the floor
    sink.compact()
    assert sink.read_state().filter(F.col("doc_id") == "x").count() == 0
    assert {r.doc_id: list(r.tokens) for r in sink.read_final().collect()} == {
        "y": [3]
    }


@pytest.mark.parametrize("merge_route", ["arrow", "parallel"])
def test_inline_compaction_drops_expired_tombstones_after_folding(
    spark, tmp_path, merge_route
):
    """A tombstone below the table's floor still shadows the version it
    deleted until a fold has folded both: an inline compaction of
    deltas left unfolded by a one-bucket ``expire_tombstones`` must not
    resurrect the key, on either merge route."""
    from beehive_data_etl_spark.sinks.snapshot import bucket_of
    from test_merge_routes import route

    def _b(rows):
        # read back from parquet: a list-built frame has no size
        # estimate and would always take the parallel plan
        path = str(tmp_path / f"in-{rows[0][1]}")
        spark.createDataFrame(
            rows, "op string, op_sequence long, doc_id string, v long"
        ).write.parquet(path)
        return spark.read.parquet(path)

    k = "doc-a"
    b = bucket_of(k, 2)
    keys = [f"doc-{i}" for i in range(100)]
    same = next(x for x in keys if bucket_of(x, 2) == b)
    other = next(x for x in keys if bucket_of(x, 2) != b)
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=2, compact_threshold=2)
    with route(spark, merge_route):
        sink.apply_batch(_b([("U", 10, k, 10), ("U", 11, other, 11)]), "b1")
        sink.apply_batch(_b([("D", 20, k, 20), ("U", 21, other, 21)]), "b2")
        sink.expire_tombstones(30, buckets=[1 - b])
        m = sink.apply_batch(_b([("U", 40, same, 40)]), "b3")
    assert m["compacted_buckets"] == [b]
    assert sink.lookup([k]).count() == 0
    assert k not in {r.doc_id for r in sink.read_state().collect()}
    assert m["merge_plan"]["route"] == merge_route


def test_trim_committed_batches_bounds_metadata(spark, smoke_log, tmp_path):
    """The exactly-once dedup window is trimmable: dropped ids lose
    only the skip-on-redelivery fast path — re-application is
    LWW-idempotent, so a full re-replay still converges to the
    oracle."""
    from beehive_data_etl_spark.streaming.replay import replay_incremental
    from beehive_data_etl_spark.verify import compare_final, oracle_final_spark

    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    all_ids = list(sink.current_snapshot()["committed_batches"])
    assert len(all_ids) == 4

    out = sink.trim_committed_batches(retain_last=2)
    assert out["trimmed"] == 2
    snap = sink.current_snapshot()
    assert snap["committed_batches"] == all_ids[2:]
    for bid in all_ids[:2]:
        assert not sink.committed(bid)
        # manifests deleted: reuse is crash-replay-only — a trimmed
        # batch's manifest describes a stale fold (re-delivery replans)
        assert not os.path.isdir(os.path.join(sink.root, "_manifests", bid))
    for bid in all_ids[2:]:
        assert sink.committed(bid)

    # a full re-delivery re-applies the trimmed prefix (not skipped),
    # skips the retained suffix, and the state is still oracle-equal
    results = replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    skipped = [r for r in results if r.get("skipped")]
    assert len(skipped) == 2
    state = sink.read_state()
    assert compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )["ok"]

    # no-op below threshold; refuse nonsense
    import pytest

    assert sink.trim_committed_batches(retain_last=10)["trimmed"] == 0
    with pytest.raises(ValueError):
        sink.trim_committed_batches(retain_last=-1)


def test_trim_redelivery_cannot_destroy_live_fold(spark, smoke_log, tmp_path):
    """Review-found data-loss path: with copy-on-write, a batch's
    ingest dir holds the fold of ALL prior batches. After trim +
    vacuum, re-delivery of that batch must relink the live dirs (via
    surviving manifests), never replan-and-replace them."""
    import glob as _glob

    from beehive_data_etl_spark.sources.readers import read_wal

    files = sorted(_glob.glob(os.path.join(smoke_log, "part-*.parquet")))
    sink = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=2, compact_threshold=1
    )
    sink.apply_batch(read_wal(spark, files[0:2]), "b1")
    sink.apply_batch(read_wal(spark, files[2:4]), "b2")  # folds b1+b2
    expect = {
        r.doc_id: (r.op_sequence, tuple(r.tokens) if r.tokens is not None else None)
        for r in sink.read_state().filter("NOT deleted").collect()
    }

    sink.trim_committed_batches(retain_last=0)
    sink.vacuum()  # reaps b1's superseded dirs

    # re-delivery replans (trim deleted the stale manifests) and the
    # publish path refuses to replace the head-referenced live fold —
    # the bucket is skipped, state byte-identical
    sink.apply_batch(read_wal(spark, files[2:4]), "b2")
    got = {
        r.doc_id: (r.op_sequence, tuple(r.tokens) if r.tokens is not None else None)
        for r in sink.read_state().filter("NOT deleted").collect()
    }
    assert got == expect, "re-delivery of a trimmed batch lost folded rows"


def test_expire_tombstones_static_floor_is_noop(spark, smoke_log, tmp_path):
    """Steady-state cron with an unmoved floor must not rewrite the
    table every run (review-found O(table)-per-cycle)."""
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4)
    replay_incremental(spark, smoke_log, sink, files_per_batch=4)
    max_seq = sink.read_state().agg({"op_sequence": "max"}).collect()[0][0]

    out1 = sink.expire_tombstones(int(max_seq) + 1)
    assert out1["compacted"]
    v = sink.current_snapshot()["version"]

    out2 = sink.expire_tombstones(int(max_seq) + 1)  # same floor again
    assert out2["compacted"] == [] and "skipped" in out2
    assert sink.current_snapshot()["version"] == v  # no commit, no rewrite

    out3 = sink.expire_tombstones(int(max_seq) + 2)  # advanced floor runs
    assert out3["compacted"]


def test_trim_redelivery_with_tag_pinned_history(spark, smoke_log, tmp_path):
    """The verify-caught regression: a tag (here the replication
    cursor's) pins an OLD version whose dirs share the re-delivered
    batch's deterministic paths. Re-delivery must neither relink the
    stale fold as current state (manifest reuse is crash-replay-only)
    nor overwrite the pinned files (alternate-path publish) — head
    stays oracle-true AND the tagged version stays readable."""
    sink = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=4, compact_threshold=1
    )
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    v_pin = sink.tag("pin")  # pins v2 = batch2's fold
    pinned = {
        r.doc_id: (r.op_sequence, tuple(r.tokens) if r.tokens is not None else None)
        for r in sink.read_state(version="pin").filter("NOT deleted").collect()
    }
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    sink.trim_committed_batches(retain_last=1)
    sink.vacuum()

    # full re-delivery: 3 trimmed batches re-apply over the live table
    results = replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    assert sum(1 for r in results if not r.get("skipped")) == 3

    state = sink.read_state()
    assert compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )["ok"], "re-delivery over tag-pinned history corrupted head state"
    # the pinned version still reads its ORIGINAL content
    back = {
        r.doc_id: (r.op_sequence, tuple(r.tokens) if r.tokens is not None else None)
        for r in sink.read_state(version=v_pin).filter("NOT deleted").collect()
    }
    assert back == pinned, "re-delivery overwrote tag-pinned files"
