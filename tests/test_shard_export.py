"""Incrementally-maintained training-shard export (sinks/shards.py).

Ground truth everywhere: a FULL export at the same snapshot version
must equal the incrementally-maintained layout — membership AND
within-shard row order (the determinism contract a training loader
relies on for reproducible data order).
"""

import os

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.shards import ShardExport, shard_buckets
from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.streaming.replay import replay_incremental


@pytest.fixture()
def replayed(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    return sink


def _shard_rows(exp, s):
    """Collected (ordered) rows of one shard, payload only."""
    df = exp.read(shard=s).drop("shard")
    return [tuple(r) for r in df.collect()]


def _full_twin(spark, sink, tmp_path, k, name="twin"):
    twin = ShardExport(spark, sink, str(tmp_path / name), k=k)
    out = twin.refresh()
    assert out["mode"] == "full"
    return twin


def _assert_equal_layout(exp, twin):
    assert exp.current()["version"] == twin.current()["version"]
    got = {int(s) for s in exp.current()["shards"]}
    want = {int(s) for s in twin.current()["shards"]}
    assert got == want
    for s in sorted(got):
        assert _shard_rows(exp, s) == _shard_rows(twin, s), f"shard {s} differs"


def test_full_export_matches_state_and_orders_rows(spark, replayed, tmp_path):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=4)
    assert exp.refresh()["mode"] == "full"
    live = replayed.read_final()
    got = exp.read()
    assert got.count() == live.count()
    assert got.select("doc_id").exceptAll(live.select("doc_id")).count() == 0
    # every doc sits in the shard its bucket range owns
    n = replayed.current_snapshot()["n_buckets"]
    owned = {s: set(shard_buckets(s, 4, n)) for s in range(4)}
    rows = got.select(
        "doc_id",
        "shard",
        F.pmod(F.xxhash64("doc_id"), F.lit(n)).cast("int").alias("b"),
    ).collect()
    for r in rows:
        assert r.b in owned[r.shard]
    assert exp.verify()["ok"]


def test_incremental_refresh_equals_full_export(spark, smoke_log, replayed, tmp_path):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=4)
    exp.refresh()
    # rest of the log: updates, deletes, out-of-order, duplicates
    replay_incremental(spark, smoke_log, replayed, files_per_batch=2)
    out = exp.refresh()
    assert out["mode"] == "incremental"
    _assert_equal_layout(exp, _full_twin(spark, replayed, tmp_path, 4))
    assert exp.verify()["ok"]


def test_only_dirty_shards_rewrite(spark, replayed, tmp_path):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=8)
    exp.refresh()
    before = dict(exp.current()["shards"])
    key = replayed.read_final().select("doc_id").first()[0]
    one = spark.createDataFrame(
        [("U", 10_000_000, key, [9, 9], 2, "manual", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int",
    )
    replayed.apply_batch(one, "touch-one")
    out = exp.refresh()
    assert out["mode"] == "incremental" and out["rewritten"] == 1
    after = exp.current()["shards"]
    changed = {s for s in after if after[s] != before.get(s)}
    assert len(changed) == 1
    # the one changed shard is the touched key's shard
    n = replayed.current_snapshot()["n_buckets"]
    b = (
        spark.createDataFrame([(key,)], "doc_id string")
        .select(F.pmod(F.xxhash64("doc_id"), F.lit(n)).cast("int").alias("b"))
        .first()[0]
    )
    assert changed == {str(b * 8 // n)}
    assert exp.verify()["ok"]


def test_pure_rewrite_window_rewrites_nothing(spark, replayed, tmp_path):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=4)
    exp.refresh()
    before = dict(exp.current()["shards"])
    replayed.compact()
    out = exp.refresh()
    assert out["mode"] == "incremental" and out["rewritten"] == 0
    assert exp.current()["shards"] == before
    assert exp.current()["version"] == replayed.current_snapshot()["version"]
    assert exp.verify()["ok"]


def test_delete_empties_doc_from_shard(spark, replayed, tmp_path):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=4)
    exp.refresh()
    key = replayed.read_final().select("doc_id").first()[0]
    one = spark.createDataFrame(
        [("D", 10_000_000, key, None, None, None, None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int",
    )
    replayed.apply_batch(one, "del-one")
    exp.refresh()
    assert exp.read().filter(F.col("doc_id") == key).count() == 0
    _assert_equal_layout(exp, _full_twin(spark, replayed, tmp_path, 4))


def test_purge_window_refreshes_incrementally(spark, replayed, tmp_path):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=4)
    exp.refresh()
    key = replayed.read_final().select("doc_id").first()[0]
    # the documented consumer contract: defer the vacuum until the
    # changelog consumers have refreshed past the purge window
    replayed.purge_keys([key], skip_vacuum=True)
    out = exp.refresh()
    assert out["mode"] == "incremental"
    assert exp.read().filter(F.col("doc_id") == key).count() == 0
    replayed.vacuum()
    _assert_equal_layout(exp, _full_twin(spark, replayed, tmp_path, 4))


def test_rebucket_forces_full_reexport(spark, smoke_log, replayed, tmp_path):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=4)
    exp.refresh()
    replayed.rebucket(12)
    replay_incremental(spark, smoke_log, replayed, files_per_batch=2)
    out = exp.refresh()
    assert out["mode"] == "full"
    assert exp.current()["n_buckets"] == 12
    _assert_equal_layout(exp, _full_twin(spark, replayed, tmp_path, 4))
    assert exp.verify()["ok"]


def test_schema_evolution_forces_full_reexport(spark, evolution_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    replay_incremental(spark, evolution_log, sink, files_per_batch=2, max_batches=2)
    exp = ShardExport(spark, sink, str(tmp_path / "shards"), k=4)
    exp.refresh()
    old_schema = exp.current()["schema"]
    replay_incremental(spark, evolution_log, sink, files_per_batch=2)
    assert sink.current_snapshot()["schema"] != old_schema  # lang added
    out = exp.refresh()
    assert out["mode"] == "full"
    # every shard file carries the evolved schema
    assert "lang" in exp.read().columns
    _assert_equal_layout(exp, _full_twin(spark, sink, tmp_path, 4))


def test_crash_before_pointer_swap_is_invisible(
    spark, smoke_log, replayed, tmp_path, monkeypatch
):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=4)
    exp.refresh()
    v1 = exp.current()["version"]
    replay_incremental(spark, smoke_log, replayed, files_per_batch=2)

    monkeypatch.setattr(
        exp._ptr,
        "commit",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError):
        exp.refresh()
    monkeypatch.undo()
    assert exp.current()["version"] == v1  # pointer unmoved
    # orphan generation exists; re-refresh commits and reaps it later
    out = exp.refresh()
    assert out["mode"] == "incremental"
    assert exp.verify()["ok"]
    # one more refresh cycle reaps all generations outside cur ∪ prev
    exp.refresh()  # noop — referenced generations stay
    refd = {
        os.path.relpath(d, exp.root).split(os.sep)[0]
        for d in exp.current()["shards"].values()
    }
    on_disk = {d for d in os.listdir(exp.root) if d.startswith("gen-")}
    # at most one unreferenced generation may linger (the kept-prev one)
    assert len(on_disk - refd) <= 1


def test_noop_and_k_validation(spark, replayed, tmp_path):
    exp = ShardExport(spark, replayed, str(tmp_path / "shards"), k=4)
    exp.refresh()
    assert exp.refresh()["mode"] == "noop"
    big = ShardExport(spark, replayed, str(tmp_path / "big"), k=64)
    with pytest.raises(ValueError, match="n_buckets"):
        big.refresh()
    with pytest.raises(ValueError):
        ShardExport(spark, replayed, str(tmp_path / "zero"), k=0)


def test_shard_export_over_patch_table(spark, patch_log, tmp_path):
    """The export composes with per-cell (patch) tables: the changelog
    emits full row images, internals (incl. _cell_seq) stay out of the
    shard files, and incremental equals full."""
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8, patch=True)
    replay_incremental(spark, patch_log, sink, files_per_batch=2, max_batches=2)
    exp = ShardExport(spark, sink, str(tmp_path / "shards"), k=4)
    exp.refresh()
    replay_incremental(spark, patch_log, sink, files_per_batch=2)
    out = exp.refresh()
    assert out["mode"] == "incremental"
    assert "_cell_seq" not in exp.read().columns
    _assert_equal_layout(exp, _full_twin(spark, sink, tmp_path, 4))
    assert exp.verify()["ok"]
