"""Incrementally-maintained SCD2 history view (sinks/history.py).

Ground truth everywhere: ``as_of(v)`` must equal the sink's own
``read_state(v)`` live rows at every walked version — including
versions the sink can no longer read because vacuum/expire_snapshots
destroyed their physical files (the view's reason to exist).
"""

import os

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.history import HistoryView
from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.streaming.replay import replay_incremental


@pytest.fixture()
def replayed(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    return sink


def _live_rows(sink, v):
    df = sink.read_state(version=v).filter(~F.col("deleted"))
    return sorted(map(tuple, df.collect()), key=repr)


def _as_of_rows(hv, v, cols):
    return sorted(map(tuple, hv.as_of(v).select(*cols).collect()), key=repr)


def test_walk_bootstrap_matches_every_version(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    out = hv.refresh()
    head = replayed.current_snapshot()["version"]
    assert out["mode"] == "full" and out["version"] == head
    cols = [
        c
        for c in replayed.read_state().columns
        if c != "_cell_seq"
    ]
    for v in range(1, head + 1):
        want = sorted(
            (
                tuple(r)
                for r in replayed.read_state(version=v)
                .filter(~F.col("deleted"))
                .select(*cols)
                .collect()
            ),
            key=repr,
        )
        assert _as_of_rows(hv, v, cols) == want, f"as_of({v}) diverges"
    assert hv.verify()["ok"]
    # idempotent
    assert hv.refresh()["mode"] == "noop"


def test_per_epoch_refreshes_equal_one_shot(spark, smoke_log, tmp_path):
    a = SnapshotSink(spark, str(tmp_path / "a"), n_buckets=8)
    b = SnapshotSink(spark, str(tmp_path / "b"), n_buckets=8)
    ha = HistoryView(spark, a, str(tmp_path / "ha"))
    hb = HistoryView(spark, b, str(tmp_path / "hb"))
    for i in range(1, 5):
        replay_incremental(spark, smoke_log, a, files_per_batch=2, max_batches=i)
        ha.refresh()
    replay_incremental(spark, smoke_log, b, files_per_batch=2)
    hb.refresh()
    got = sorted(map(tuple, ha.history().collect()), key=repr)
    want = sorted(map(tuple, hb.history().collect()), key=repr)
    assert got == want
    assert ha.verify()["ok"] and hb.verify()["ok"]


def test_scd2_validity_chains_and_open_rows(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    hv.refresh()
    scd = hv.scd2()
    # exactly the live docs have an open (valid_to NULL) row
    open_rows = scd.filter(F.col("valid_to").isNull())
    live = replayed.read_final()
    assert open_rows.count() == live.count()
    assert (
        open_rows.select("doc_id").exceptAll(live.select("doc_id")).count() == 0
    )
    # validity windows per doc chain without gaps or overlaps — each
    # image's valid_to equals the next image's valid_from (closure by a
    # delete lands on the D row's version, still monotone)
    rows = scd.select("doc_id", "valid_from", "valid_to").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.valid_from, r.valid_to))
    multi = 0
    for spans in by_doc.values():
        spans.sort()
        for (f1, t1), (f2, _) in zip(spans, spans[1:]):
            multi += 1
            assert t1 is not None and t1 <= f2
    assert multi > 0, "fixture produced no multi-version docs"


def test_time_travel_survives_vacuum_and_expiry(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    hv.refresh()
    head = replayed.current_snapshot()["version"]
    v_mid = head // 2
    cols = [c for c in replayed.read_state().columns]
    want_mid = _as_of_rows(hv, v_mid, cols)
    assert want_mid == sorted(
        (
            tuple(r)
            for r in replayed.read_state(version=v_mid)
            .filter(~F.col("deleted"))
            .select(*cols)
            .collect()
        ),
        key=repr,
    )
    # destroy the sink's physical history: fold + reap + retire JSONs
    replayed.compact()
    replayed.vacuum()
    replayed.expire_snapshots(keep_last=1)
    with pytest.raises(Exception):
        replayed.read_state(version=v_mid).collect()
    assert _as_of_rows(hv, v_mid, cols) == want_mid
    # and the view still refreshes forward afterwards (tag kept its
    # cursor version alive through the expiry)
    key = replayed.read_final().select("doc_id").first()[0]
    one = spark.createDataFrame(
        [("U", 10_000_000, key, [5, 5], 2, "manual", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int",
    )
    replayed.apply_batch(one, "after-expiry")
    hv.refresh()
    assert hv.verify()["ok"]


def test_crash_before_swap_is_idempotent(spark, smoke_log, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    hv.refresh()
    ptr_before = hv.current()
    # more change batches land
    key = replayed.read_final().select("doc_id").first()[0]
    one = spark.createDataFrame(
        [("U", 10_000_001, key, [7], 1, "manual", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int",
    )
    replayed.apply_batch(one, "crash-batch")
    real_commit = hv._ptr.commit

    def boom(*a, **k):
        raise RuntimeError("crash before swap")

    hv._ptr.commit = boom
    with pytest.raises(RuntimeError, match="crash before swap"):
        hv.refresh()
    hv._ptr.commit = real_commit
    assert hv.current() == ptr_before  # old pointer still live
    out = hv.refresh()
    assert out["mode"] == "incremental"
    assert hv.verify()["ok"]
    # the crashed attempt's dirs were reaped; store dirs == referenced
    refd = {os.path.basename(f["path"]) for f in hv.current()["files"]}
    on_disk = {d for d in os.listdir(str(tmp_path / "hist")) if d.startswith("hv-")}
    assert on_disk == refd


def test_purge_requires_keys_and_destroys_history(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    hv.refresh()
    keys = [r.doc_id for r in replayed.read_final().select("doc_id").limit(2).collect()]
    replayed.purge_keys(keys, ignore_tags=True, skip_vacuum=True)
    with pytest.raises(RuntimeError, match="purged_keys"):
        hv.refresh()
    hv.refresh(purged_keys=keys)
    assert hv.verify()["ok"]
    # no trace at ANY version — takedown trumps audit
    assert hv.history().filter(F.col("doc_id").isin(keys)).count() == 0
    cur = hv.current()
    for v in range(cur["baseline"], cur["version"] + 1):
        assert hv.as_of(v).filter(F.col("doc_id").isin(keys)).count() == 0
    # and no byte of the keys survives in any store file
    store = hv.history().select("doc_id").distinct()
    assert store.filter(F.col("doc_id").isin(keys)).count() == 0
    paths = [f["path"] for f in cur["files"]]
    raw = spark.read.parquet(*paths).select("doc_id")
    assert raw.filter(F.col("doc_id").isin(keys)).count() == 0


def test_backfill_window_diffs_payload(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    hv.refresh()
    v_before = replayed.current_snapshot()["version"]
    replayed.backfill({"n_tok": F.col("n_tok") + F.lit(100)})
    out = hv.refresh()
    assert out["mode"] == "incremental"
    assert hv.verify()["ok"], "history must be exact through a backfill"
    v_after = replayed.current_snapshot()["version"]
    # pre-backfill versions still show pre-backfill values
    pre_max, pre_min = hv.as_of(v_before).agg(
        F.max("n_tok"), F.min("n_tok")
    ).first()
    post_max, post_min = hv.as_of(v_after).agg(
        F.max("n_tok"), F.min("n_tok")
    ).first()
    assert post_max == pre_max + 100 and post_min == pre_min + 100


def test_backfill_added_column_diffs(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    hv.refresh()
    v_before = replayed.current_snapshot()["version"]
    replayed.backfill({"quality": F.col("n_tok").cast("double") / 10})
    hv.refresh()
    assert hv.verify()["ok"]
    # old versions read the added column as NULL
    assert (
        hv.as_of(v_before).filter(F.col("quality").isNotNull()).count() == 0
    )


def test_schema_evolution_window(spark, evolution_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    hv = HistoryView(spark, sink, str(tmp_path / "hist"))
    for i in range(1, 5):
        replay_incremental(spark, evolution_log, sink, files_per_batch=2, max_batches=i)
        hv.refresh()
    assert hv.verify()["ok"]
    # rows stored before the evolution read the added column as NULL
    first_v = hv.current()["baseline"]
    early = hv.history().filter(F.col("_v_from") == first_v)
    assert "lang" in early.columns
    assert early.count() > 0


def test_rename_and_drop_rewrite_store(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    hv.refresh()
    v_early = hv.current()["baseline"]
    n_sources = (
        hv.as_of(v_early).filter(F.col("source").isNotNull()).count()
    )
    assert n_sources > 0
    replayed.rename_column("source", "origin")
    hv.refresh()
    assert hv.verify()["ok"]
    # historical VALUES live on under the new name
    assert (
        hv.as_of(v_early).filter(F.col("origin").isNotNull()).count()
        == n_sources
    )
    assert "source" not in hv.history().columns
    replayed.drop_column("origin")
    hv.refresh()
    assert hv.verify()["ok"]
    assert "origin" not in hv.history().columns


def test_rollback_window_refused(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"))
    hv.refresh()
    key = replayed.read_final().select("doc_id").first()[0]
    one = spark.createDataFrame(
        [("U", 10_000_002, key, [1], 1, "manual", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int",
    )
    v = replayed.current_snapshot()["version"]
    replayed.apply_batch(one, "to-roll-back")
    replayed.rollback_to(v)
    with pytest.raises(RuntimeError, match="rollback"):
        hv.refresh()


def test_state_bootstrap_and_range_guard(spark, replayed, tmp_path):
    hv = HistoryView(spark, replayed, str(tmp_path / "hist"), bootstrap="state")
    hv.refresh()
    head = replayed.current_snapshot()["version"]
    assert hv.current()["baseline"] == head
    assert hv.verify()["ok"]
    with pytest.raises(ValueError, match="outside walked history"):
        hv.as_of(head - 1)


def test_compact_store(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    hv = HistoryView(spark, sink, str(tmp_path / "hist"))
    for i in range(1, 5):
        replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=i)
        hv.refresh()
    assert len(hv.current()["files"]) > 1
    before = sorted(map(tuple, hv.history().collect()), key=repr)
    out = hv.compact()
    assert out["compacted"] > 1
    assert len(hv.current()["files"]) == 1
    assert sorted(map(tuple, hv.history().collect()), key=repr) == before
    assert hv.verify()["ok"]


def test_patch_table_history(spark, patch_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8, patch=True)
    hv = HistoryView(spark, sink, str(tmp_path / "hist"))
    for i in range(1, 5):
        replay_incremental(spark, patch_log, sink, files_per_batch=2, max_batches=i)
        hv.refresh()
    assert hv.verify()["ok"]
    assert "_cell_seq" not in hv.history().columns
