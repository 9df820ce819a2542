"""Snapshot refs (tags) + rollback_to — the table-management surface a
CDC target needs when a bad batch lands: pin known-good versions
against vacuum, roll the table back to one, and replay a corrected log
with exactly-once intact.

The serious property under test: rollback DE-COMMITS later batches and
deletes their manifests, because a de-committed batch's manifest can
point at a compacted file that folded OTHER de-committed batches' rows
— reusing it on re-apply would resurrect exactly the rows the rollback
removed (test_rollback_invalidates_decommitted_manifests reproduces the
ghost with compact_threshold=1)."""

import os

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sources import table_meta as tm
from beehive_data_etl_spark.sources.readers import read_wal
from beehive_data_etl_spark.streaming.replay import replay_incremental
from beehive_data_etl_spark.verify import compare_final, oracle_final_spark


def _final_map(df):
    return {
        r.doc_id: (r.op_sequence, tuple(r.tokens) if r.tokens is not None else None)
        for r in df.collect()
    }


def _log_files(log_dir):
    import glob

    return sorted(glob.glob(os.path.join(log_dir, "part-*.parquet")))


# ------------------------------------------------------------------ tags
def test_tag_pins_time_travel_read(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    v_mid = sink.tag("audit")
    assert v_mid == sink.current_snapshot()["version"]
    mid = _final_map(sink.read_state().filter("NOT deleted"))

    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    assert sink.current_snapshot()["version"] > v_mid
    # all three ref entry points resolve the tag
    assert sink.resolve_ref("audit") == v_mid
    assert sink.snapshot("audit")["version"] == v_mid
    back = _final_map(sink.read_state(version="audit").filter("NOT deleted"))
    assert back == mid
    # lookup through a tag
    some_key = next(iter(mid))
    row = sink.lookup([some_key], version="audit").collect()
    assert len(row) <= 1


def test_tag_semantics(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=4, max_batches=1)
    v1 = sink.tag("pin")
    assert sink.tag("pin") == v1  # idempotent re-tag of the same version
    replay_incremental(spark, smoke_log, sink, files_per_batch=4)
    with pytest.raises(ValueError, match="already pins"):
        sink.tag("pin")  # silent move refused
    assert sink.drop_tag("pin") == v1
    v2 = sink.tag("pin")  # re-create at new head
    assert v2 > v1
    with pytest.raises(KeyError):
        sink.drop_tag("nope")
    with pytest.raises(KeyError, match="no tag"):
        sink.read_state(version="nope")
    # one ref rule for the sink and the Data Source options: a digit
    # string is a version, so no tag may be named like one
    with pytest.raises(ValueError, match="version number"):
        sink.tag("3")
    with pytest.raises(ValueError, match="version number"):
        sink.move_tag("3", v1)
    assert sink.resolve_ref("1") == 1 == tm.resolve_ref(sink.root, "1")


def test_vacuum_retains_tagged_files(spark, smoke_log, tmp_path):
    # copy-on-write so every batch supersedes the previous files —
    # without the tag, vacuum reaps the old version's data immediately
    sink = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=4, compact_threshold=1
    )
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    v_mid = sink.tag("keep")
    mid = _final_map(sink.read_state().filter("NOT deleted"))
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)

    sink.vacuum()
    # tagged version still fully readable after vacuum
    assert _final_map(sink.read_state(version="keep").filter("NOT deleted")) == mid

    sink.drop_tag("keep")
    out = sink.vacuum()
    assert out["removed"] > 0  # the tag was the only thing retaining them
    mid_snap = sink.snapshot(v_mid)
    gone = [
        e["path"]
        for ents in mid_snap["buckets"].values()
        for e in ents
        if not os.path.isdir(os.path.join(sink.root, e["path"]))
    ]
    assert gone, "superseded files should be reaped once untagged"


# -------------------------------------------------------------- rollback
def test_rollback_then_replay_reconverges(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    v_mid = sink.current_snapshot()["version"]
    mid = _final_map(sink.read_state().filter("NOT deleted"))

    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    head_v = sink.current_snapshot()["version"]
    later_batches = [
        b
        for b in sink.current_snapshot()["committed_batches"]
        if b not in set(sink.snapshot(v_mid)["committed_batches"])
    ]
    assert later_batches

    out = sink.rollback_to(v_mid)
    assert out["rolled_back"] and out["restored"] == v_mid
    # version counter stays monotone — rollback is a NEW commit
    assert sink.current_snapshot()["version"] == head_v + 1
    assert _final_map(sink.read_state().filter("NOT deleted")) == mid
    # later batches are de-committed and their manifests gone
    for b in later_batches:
        assert not sink.committed(b)
        assert not os.path.isdir(os.path.join(sink.root, "_manifests", b))

    # a resuming replayer re-applies exactly the de-committed batches
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    state = sink.read_state()
    assert compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )["ok"]


def test_rollback_invalidates_decommitted_manifests(spark, smoke_log, tmp_path):
    """The ghost regression: with copy-on-write, b3's original apply
    folded b2's rows into its compacted output. After rollback past b2,
    re-applying ONLY b3 must not resurrect b2's rows via manifest
    reuse."""
    files = _log_files(smoke_log)
    sink = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=2, compact_threshold=1
    )

    def batch(file_group):
        return read_wal(spark, [files[i] for i in file_group])

    sink.apply_batch(batch([0, 1]), "b1")
    v1 = sink.current_snapshot()["version"]
    keys_b1 = {r.doc_id for r in batch([0, 1]).select("doc_id").collect()}
    keys_b2 = {r.doc_id for r in batch([2, 3]).select("doc_id").collect()}
    sink.apply_batch(batch([2, 3]), "b2")
    sink.apply_batch(batch([4, 5]), "b3")

    sink.rollback_to(v1)
    assert not os.path.isdir(os.path.join(sink.root, "_manifests", "b2"))
    assert not os.path.isdir(os.path.join(sink.root, "_manifests", "b3"))

    # re-apply ONLY b3 — b2 stays rolled back
    sink.apply_batch(batch([4, 5]), "b3")
    keys_b3 = {r.doc_id for r in batch([4, 5]).select("doc_id").collect()}
    present = {r.doc_id for r in sink.read_state().select("doc_id").collect()}
    ghosts = (keys_b2 - keys_b1 - keys_b3) & present
    assert not ghosts, f"rolled-back b2 rows resurrected: {sorted(ghosts)[:5]}"
    # and what IS present matches a fresh replay of just b1+b3
    oracle = SnapshotSink(spark, str(tmp_path / "o"), n_buckets=2)
    oracle.apply_batch(batch([0, 1]), "b1")
    oracle.apply_batch(batch([4, 5]), "b3")
    assert _final_map(sink.read_state().filter("NOT deleted")) == _final_map(
        oracle.read_state().filter("NOT deleted")
    )


def test_rollback_across_rebucket(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    v_pre = sink.current_snapshot()["version"]
    pre = _final_map(sink.read_state().filter("NOT deleted"))
    sink.rebucket(12)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=3)

    sink.rollback_to(v_pre)
    assert sink.n_buckets == 8
    assert sink.current_snapshot()["n_buckets"] == 8
    assert _final_map(sink.read_state().filter("NOT deleted")) == pre
    # the restored bucket space accepts new commits
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    state = sink.read_state()
    assert compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )["ok"]


def test_rollback_refuses_vacuumed_target(spark, smoke_log, tmp_path):
    sink = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=4, compact_threshold=1
    )
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    v_old = sink.current_snapshot()["version"]
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    sink.vacuum()  # reaps v_old's superseded files (untagged)
    with pytest.raises(ValueError, match="vacuumed"):
        sink.rollback_to(v_old)


def test_rollback_noop_and_refuses_inflight(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=4, max_batches=1)
    v = sink.current_snapshot()["version"]
    assert sink.rollback_to(v) == {"rolled_back": False, "version": v}
    sink._inflight.add("fake")
    try:
        with pytest.raises(RuntimeError, match="quiesced"):
            sink.rollback_to(v)
    finally:
        sink._inflight.discard("fake")


def test_crashed_attempt_manifests_rejected_after_rollback(
    spark, smoke_log, tmp_path
):
    """The rollback-epoch guard: a batch that CRASHED after writing
    manifests (never committed, so rollback doesn't delete them) must
    not reuse those manifests when retried after a rollback — with
    copy-on-write its folded files embed the de-committed batches'
    rows, and reuse would resurrect them."""
    files = _log_files(smoke_log)

    def batch(sink_spark, file_group):
        return read_wal(sink_spark, [files[i] for i in file_group])

    boom = {"armed": False}

    def hook(point):
        if point == "before_pointer_swap" and boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash")

    sink = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=2, compact_threshold=1,
        crash_hook=hook,
    )
    sink.apply_batch(batch(spark, [0, 1]), "b1")
    v1 = sink.current_snapshot()["version"]
    keys_b1 = {r.doc_id for r in batch(spark, [0, 1]).select("doc_id").collect()}
    keys_b2 = {r.doc_id for r in batch(spark, [2, 3]).select("doc_id").collect()}
    sink.apply_batch(batch(spark, [2, 3]), "b2")

    boom["armed"] = True
    with pytest.raises(RuntimeError, match="injected"):
        sink.apply_batch(batch(spark, [4, 5]), "b3")  # manifests written
    assert os.path.isdir(os.path.join(sink.root, "_manifests", "b3"))

    sink.rollback_to(v1)  # de-commits b2; b3's crash manifests survive
    assert os.path.isdir(os.path.join(sink.root, "_manifests", "b3"))
    assert sink.current_snapshot().get("rollback_epoch") == 1

    sink.apply_batch(batch(spark, [4, 5]), "b3")  # retry post-rollback
    keys_b3 = {r.doc_id for r in batch(spark, [4, 5]).select("doc_id").collect()}
    present = {r.doc_id for r in sink.read_state().select("doc_id").collect()}
    ghosts = (keys_b2 - keys_b1 - keys_b3) & present
    assert not ghosts, f"crash-manifest reuse resurrected b2 rows: {sorted(ghosts)[:5]}"
