"""sinks/outbox.py — outbound CDC through the engine's OWN Kafka
adapter: publish changelog windows as Kafka-record-shaped envelopes,
consume them with sources.kafka.kafka_envelope into a second sink, and
the replica's LIVE state must equal the source's.

(Tombstones for docs that were inserted AND deleted within one window
are correctly absent — the changelog emits nothing for a key the
consumer never saw, the same semantics Replicator relies on.)
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.outbox import Outbox, kafka_producer_records
from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sources.kafka import kafka_envelope
from beehive_data_etl_spark.streaming.replay import replay_incremental

LIVE_COLS = ["doc_id", "op_sequence", "tokens", "n_tok", "source"]


def _mk_source(spark, smoke_log, tmp_path, max_batches=None):
    src = SnapshotSink(spark, str(tmp_path / "src"), n_buckets=8)
    replay_incremental(
        spark, smoke_log, src, files_per_batch=2, max_batches=max_batches
    )
    return src


def _consume(spark, out_dir, dst, batch_id):
    recs = spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
    return recs, dst.apply_batch(kafka_envelope(recs), batch_id)


def _live(sink):
    st = sink.read_state()
    return st.filter(~st.deleted).select(*LIVE_COLS)


def test_outbox_roundtrip_incremental(spark, smoke_log, tmp_path):
    src = _mk_source(spark, smoke_log, tmp_path, max_batches=2)
    out = str(tmp_path / "topic")
    ob = Outbox(src, out, n_partitions=4)
    r1 = ob.sync()
    assert r1["published"] > 0 and r1["from"] == 0

    # more upstream batches, second window
    replay_incremental(spark, smoke_log, src, files_per_batch=2)
    r2 = ob.sync()
    assert r2["from"] == r1["to"] and r2["published"] > 0
    assert ob.sync()["skipped"]  # idempotent at head

    dst = SnapshotSink(spark, str(tmp_path / "replica"), n_buckets=8)
    recs, _ = _consume(spark, out, dst, "consume-1")
    assert _live(src).exceptAll(_live(dst)).count() == 0
    assert _live(dst).exceptAll(_live(src)).count() == 0

    # broker-shape invariants: offsets strictly increasing per
    # partition (no duplicates across windows), key-partitioned
    assert recs.groupBy("partition", "offset").count().filter(
        "count > 1"
    ).count() == 0
    assert (
        recs.select("partition", F.decode("key", "UTF-8").alias("k"))
        .groupBy("k")
        .agg(F.count_distinct("partition").alias("np"))
        .filter("np > 1")
        .count()
        == 0
    )
    # the envelope payload round-trips deletes WITH their clock: every
    # published D carries a real op_sequence
    dels = kafka_envelope(recs).filter(F.col("op") == "D")
    assert dels.count() > 0
    assert dels.filter(F.col("op_sequence").isNull()).count() == 0


def test_outbox_crash_republish_is_deterministic(spark, smoke_log, tmp_path):
    """A crash between the window write and the pointer swap re-runs
    the SAME window into the SAME path with the SAME offsets — the file
    transport is exactly-once by overwrite."""
    src = _mk_source(spark, smoke_log, tmp_path, max_batches=2)
    out = str(tmp_path / "topic")
    ob = Outbox(src, out, n_partitions=4)
    ob.sync()
    replay_incremental(spark, smoke_log, src, files_per_batch=2)

    ptr_before = json.load(open(ob._ptr.path))
    r = ob.sync()
    first = {
        (x.partition, x.offset): bytes(x.key)
        for x in spark.read.parquet(r["path"]).collect()
    }
    # crash simulation: restore the pre-sync pointer (write landed,
    # swap did not), then retry through a FRESH outbox object
    json.dump(ptr_before, open(ob._ptr.path, "w"))
    ob2 = Outbox(src, out, n_partitions=4)
    r2 = ob2.sync()
    assert r2["path"] == r["path"]
    second = {
        (x.partition, x.offset): bytes(x.key)
        for x in spark.read.parquet(r2["path"]).collect()
    }
    assert first == second

    dst = SnapshotSink(spark, str(tmp_path / "replica"), n_buckets=8)
    _consume(spark, out, dst, "consume-1")
    assert _live(src).exceptAll(_live(dst)).count() == 0
    assert _live(dst).exceptAll(_live(src)).count() == 0


def test_outbox_null_tombstones_offset_clock(spark, smoke_log, tmp_path):
    """Kafka-native null-value tombstones + offset-clock consumption:
    the compacted-topic consumer converges to the source's live state
    even though no envelope carries an embedded sequence for deletes."""
    src = _mk_source(spark, smoke_log, tmp_path)
    out = str(tmp_path / "topic")
    Outbox(src, out, n_partitions=4, tombstones="null").sync()
    recs = spark.read.option("recursiveFileLookup", "true").parquet(out)
    assert recs.filter(F.col("value").isNull()).count() > 0  # real nulls
    env = kafka_envelope(recs, allow_offset_sequence=True)
    dst = SnapshotSink(spark, str(tmp_path / "replica"), n_buckets=8)
    dst.apply_batch(env, "consume-1")
    a = _live(src).drop("op_sequence")  # offset clock != source clock
    b = _live(dst).drop("op_sequence")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_outbox_refusals(spark, smoke_log, tmp_path):
    src = _mk_source(spark, smoke_log, tmp_path, max_batches=2)
    out = str(tmp_path / "topic")
    ob = Outbox(src, out, n_partitions=4)
    ob.sync()
    v = src.current_snapshot()["version"]
    src.rollback_to(v - 1)
    replay_incremental(spark, smoke_log, src, files_per_batch=2)
    with pytest.raises(RuntimeError, match="rollback_to"):
        ob.sync()
    # mark_synced past the rollback resumes publication
    rb_version = next(
        w
        for w in range(ob.cursor() + 1, src.current_snapshot()["version"] + 1)
        if "rollback_to" in src.snapshot(w).get("metrics", {})
    )
    ob.mark_synced(rb_version)
    assert ob.sync()["published"] >= 0

    # patch-mode sources are refused at construction
    psink = SnapshotSink(spark, str(tmp_path / "p"), n_buckets=4, patch=True)
    with pytest.raises(TypeError, match="patch"):
        Outbox(psink, str(tmp_path / "pt"))


def test_outbox_retention_tag_pins_source(spark, smoke_log, tmp_path):
    """The cursor tag survives sync and pins the cursor version against
    vacuum — the next window's old images stay readable."""
    src = _mk_source(spark, smoke_log, tmp_path, max_batches=2)
    ob = Outbox(src, str(tmp_path / "topic"), name="t1")
    ob.sync()
    tags = src.tags()
    assert tags.get("outbox-t1") == ob.cursor()
    assert "outbox-t1-next" not in tags


def test_replay_job_outbox_wiring(spark, smoke_log, tmp_path, monkeypatch):
    """REPLAY_OUTBOX_TO publishes the replayed table's changelog; a
    consumer over the engine's own Kafka adapter reproduces the table."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import replay_job

    out = str(tmp_path / "topic")
    monkeypatch.setenv("REPLAY_MODE", "pipelined")
    monkeypatch.setenv("REPLAY_N_BUCKETS", "8")
    monkeypatch.setenv("REPLAY_FILES_PER_BATCH", "4")
    monkeypatch.setenv("REPLAY_OUTBOX_TO", out)
    monkeypatch.setattr(
        sys, "argv", ["replay_job.py", smoke_log, str(tmp_path / "sink")]
    )
    replay_job.main()

    src = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    dst = SnapshotSink(spark, str(tmp_path / "replica"), n_buckets=8)
    _consume(spark, out, dst, "consume-1")
    assert _live(src).exceptAll(_live(dst)).count() == 0
    assert _live(dst).exceptAll(_live(src)).count() == 0


def test_kafka_producer_records_shape(spark, smoke_log, tmp_path):
    """The cluster-path projection: exact (key, value, topic) schema
    Spark's Kafka sink takes, with the envelope our own parser lifts."""
    src = _mk_source(spark, smoke_log, tmp_path)
    ch = src.read_changes_pruned(1, src.current_snapshot()["version"])
    recs = kafka_producer_records(ch, topic="docs-cdc")
    assert recs.columns == ["key", "value", "topic"]
    assert dict(recs.dtypes) == {
        "key": "binary", "value": "binary", "topic": "string"
    }
    one = recs.filter(F.col("value").isNotNull()).first()
    env = json.loads(bytes(one.value).decode())
    assert {"op", "op_sequence", "doc_id"} <= set(env)


def test_filtered_subscription_roundtrip(spark, smoke_log, tmp_path):
    """Outbox(where=...): the published feed is the predicate-scoped
    subset with filtered-replication semantics — a consumer replaying
    the feed into its own sink reconstructs exactly
    filter(src.read_final()), including evictions (rows whose update
    left the predicate arrive as genuine deletes)."""
    src = _mk_source(spark, smoke_log, tmp_path, max_batches=2)
    out = str(tmp_path / "ftopic")
    pred = [("n_tok", ">=", 5)]
    ob = Outbox(src, out, n_partitions=4, where=pred)
    assert ob.sync()["published"] > 0
    # second window carries real update/delete mix (in/out transitions)
    replay_incremental(spark, smoke_log, src, files_per_batch=2)
    assert ob.sync()["published"] >= 0

    dst = SnapshotSink(spark, str(tmp_path / "freplica"), n_buckets=4)
    _consume(spark, out, dst, "fconsume-1")
    want = _live(src).filter(F.col("n_tok") >= 5)
    got = _live(dst)
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0
    # nothing live outside the predicate leaked into the feed replica
    assert got.filter(~(F.col("n_tok") >= 5)).count() == 0
