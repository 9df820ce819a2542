"""Every SnapshotSink commit kind writes the same snapshot format: the
parent's top-level keys, version = parent + 1, the per-table fields
carried forward unless the operation is the one that changes them, the
same bucket-entry keys, and a recorded ``metrics.commit_ts``."""

import os
import time

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink

SNAP_KEYS = {
    "version", "parent", "n_buckets", "schema", "schema_version", "buckets",
    "committed_batches", "tombstone_floor", "snapshot_floor",
    "rollback_epoch", "patch", "audit", "metrics",
}
CARRIED = ("patch", "audit", "snapshot_floor", "rollback_epoch", "tombstone_floor")
ENTRY_KEYS = {"path", "schema", "compacted", "key_range", "file_ranges", "col_ranges"}
DOCS = [f"d{i}" for i in range(8)]


def _batch(spark, patch, seq0, op="U", docs=DOCS):
    rows = [
        (op, seq0 + i, d, None if op == "D" else [i, seq0],
         None if op == "D" else 2, None if op == "D" else f"s{seq0}")
        for i, d in enumerate(docs)
    ]
    ddl = "op string, op_sequence long, doc_id string, tokens array<int>, n_tok int, source string"
    if patch:
        rows = [r + (None,) for r in rows]
        ddl += ", patch_cols array<string>"
    return spark.createDataFrame(rows, ddl)


def _commit(sink, fn, changes=(), entry_extra=frozenset()):
    """Run one commit and check it against its parent; returns the new
    snapshot."""
    parent = sink.current_snapshot()
    fn()
    snap = sink.current_snapshot()
    assert snap["version"] == parent["version"] + 1
    assert snap["parent"] == parent["version"]
    assert set(snap) == set(parent) == SNAP_KEYS
    for k in CARRIED:
        if k not in changes:
            assert snap[k] == parent[k], k
    assert "commit_ts" in snap["metrics"]
    old_paths = {e["path"] for ents in parent["buckets"].values() for e in ents}
    for ents in snap["buckets"].values():
        for e in ents:
            extra = entry_extra if e["path"] not in old_paths else set(e) - ENTRY_KEYS
            assert set(e) == ENTRY_KEYS | extra, e
    return snap


@pytest.mark.parametrize("patch", [False, True], ids=["row_lww", "patch"])
def test_every_commit_kind_preserves_snapshot_format(spark, tmp_path, patch):
    sink = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=2, compact_threshold=2, patch=patch
    )
    sink.apply_batch(_batch(spark, patch, 1, op="I"), "b1")
    first = sink.current_snapshot()
    assert set(first) == SNAP_KEYS and first["parent"] is None
    assert "commit_ts" in first["metrics"]

    _commit(sink, lambda: sink.apply_batch(_batch(spark, patch, 100), "b2"))
    snap = _commit(sink, lambda: sink.apply_batch(_batch(spark, patch, 200), "b3"))
    assert snap["metrics"]["compacted_buckets"]  # inline compaction
    _commit(sink, lambda: sink.apply_batch(_batch(spark, patch, 300), "b4"))
    _commit(sink, sink.compact)
    _commit(sink, lambda: sink.compact(cluster_by=["source"]),
            entry_extra={"clustered"})
    _commit(sink, lambda: sink.apply_batch(
        _batch(spark, patch, 400, op="D", docs=DOCS[6:]), "b5"))
    _commit(sink, lambda: sink.expire_tombstones(10_000),
            changes={"tombstone_floor"})
    v_target = sink.current_snapshot()["version"]
    _commit(sink, lambda: sink.rebucket(4))
    snap = _commit(sink, lambda: sink.rollback_to(v_target),
                   changes={"rollback_epoch"})
    assert snap["n_buckets"] == 2
    _commit(sink, sink.set_table_audit, changes={"audit"})
    _commit(sink, sink.drop_table_audit, changes={"audit"})
    _commit(sink, lambda: sink.trim_committed_batches(1))
    snap = _commit(sink, lambda: sink.rename_column("source", "src"))
    assert snap["metrics"]["rename_column"]  # the rewrite branch
    _commit(sink, lambda: sink.backfill({"n_tok2": F.col("n_tok") * 2}))
    _commit(sink, lambda: sink.purge_keys(["d0"]))
    _commit(sink, lambda: sink.expire_snapshots(2), changes={"snapshot_floor"})
    _commit(sink, lambda: sink.purge_keys(DOCS))
    assert not any(sink.current_snapshot()["buckets"].values())
    snap = _commit(sink, lambda: sink.rename_column("src", "origin"))
    assert snap["metrics"]["rename_column"] == []  # the metadata-only branch


def test_every_commit_records_commit_ts(spark, tmp_path):
    """Compaction (like every non-ingest commit) records its commit
    time, so commit_time no longer depends on the snapshot file's
    mtime."""
    root = str(tmp_path / "t")
    sink = SnapshotSink(spark, root, n_buckets=2)
    sink.apply_batch(_batch(spark, False, 1, op="I"), "b1")
    sink.apply_batch(_batch(spark, False, 100), "b2")
    before = time.time()
    sink.compact()
    v = sink.current_snapshot()["version"]
    assert sink.current_snapshot()["metrics"]["compaction"]
    path = os.path.join(root, "_snapshots", f"v{v:06d}.json")
    os.utime(path, (before - 3600, before - 3600))
    assert sink.commit_time(v) >= before
