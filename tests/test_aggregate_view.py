"""Incremental materialized aggregate views (sinks/aggregates.py) and
the O(delta) pre-image changelog they consume
(SnapshotSink.read_changes_pruned).

The ground truth everywhere is a FULL RECOMPUTE of the aggregate at the
same snapshot version — the defining equation of incremental view
maintenance. The event log mix (updates that change n_tok, deletes,
out-of-order and duplicate deliveries) exercises every contribution
path: +new, −old, group-move, delete-of-contributor.
"""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.aggregates import (
    AggregateView,
    changelog_delta,
    full_agg,
    merge_agg,
)
from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sources.arrow_fold import window_partitions
from beehive_data_etl_spark.streaming.replay import replay_incremental


@pytest.fixture()
def replayed(spark, smoke_log, tmp_path):
    """A sink with the first half of the smoke log applied (versions
    accumulate as the tests replay more)."""
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    return sink


def test_pruned_changelog_equals_full_changelog(spark, smoke_log, replayed):
    sink = replayed
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    v = sink.current_snapshot()["version"]
    for lo in (1, 2, v - 1):
        a = sink.read_changes(lo, v)
        b = sink.read_changes_pruned(lo, v)
        assert a.columns == b.columns
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_pruned_changelog_preimages(spark, smoke_log, replayed):
    sink = replayed
    v_old = sink.current_snapshot()["version"]
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    v = sink.current_snapshot()["version"]
    ch = sink.read_changes_pruned(v_old, v, include_old=True)
    # U/D rows carry a live pre-image; its seq is strictly older
    ud = ch.filter(F.col("change_type").isin("U", "D"))
    assert ud.filter(F.col("_old_deleted").isNull() | F.col("_old_deleted")).count() == 0
    assert ud.filter(F.col("op_sequence") <= F.col("_old_op_sequence")).count() == 0
    # pre-image values equal the OLD state's values for those keys
    old_state = sink.read_state(version=v_old).select(
        F.col("doc_id"), F.col("n_tok").alias("want_n_tok")
    )
    j = ud.join(old_state, "doc_id")
    assert j.filter(
        ~F.col("_old_n_tok").eqNullSafe(F.col("want_n_tok"))
    ).count() == 0


def test_pruned_changelog_is_empty_between_equal_versions(spark, replayed):
    sink = replayed
    v = sink.current_snapshot()["version"]
    assert sink.read_changes_pruned(v, v).count() == 0


def test_pruned_changelog_scan_is_delta_sized(spark, replayed):
    """The point of the delta-file changelog (read_changes and its
    rollback-refusing twin read_changes_pruned): a window whose batch
    touched ONE bucket scans that batch's fresh file plus that bucket's
    old state — strictly fewer files than the two full states, and
    nothing outside the window's snapshot."""
    sink = replayed
    v_old = sink.current_snapshot()["version"]
    one = spark.createDataFrame(
        [("I", 10**9, "zz-new-doc", [1, 2], 2, "manual", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int",
    )
    sink.apply_batch(one, "tiny")
    v = sink.current_snapshot()["version"]
    assert [r["doc_id"] for r in sink.read_changes_pruned(v_old, v).collect()] == [
        "zz-new-doc"
    ]
    # the window without pre-images is diffed on the driver, from the
    # one touched bucket
    assert len(window_partitions(sink.root, sink.snapshot(v_old), sink.snapshot(v))) == 1
    # with pre-images it is a Spark diff: its scans read the same bucket
    pruned = sink.read_changes_pruned(v_old, v, include_old=True)
    assert [r["doc_id"] for r in pruned.collect()] == ["zz-new-doc"]
    pruned_files = set(pruned.inputFiles())
    assert set(sink.read_changes(v_old, v, include_old=True).inputFiles()) == pruned_files
    full_files = set(sink.read_state(version=v_old).inputFiles()) | set(
        sink.read_state(version=v).inputFiles()
    )
    assert pruned_files < full_files
    # only the tiny batch's bucket dir + its own ingest dir are touched
    dirs = {os.path.dirname(f) for f in pruned_files}
    buckets_touched = {os.path.basename(d) for d in dirs}
    assert len(buckets_touched) == 1


def test_view_full_build_matches_recompute(spark, smoke_log, replayed, tmp_path):
    view = AggregateView(
        spark, replayed, str(tmp_path / "agg"), ["source"], ["n_tok"]
    )
    assert view.refresh()["mode"] == "full"
    assert view.verify()["ok"]


def test_view_incremental_matches_recompute(spark, smoke_log, replayed, tmp_path):
    sink = replayed
    view = AggregateView(spark, sink, str(tmp_path / "agg"), ["source"], ["n_tok"])
    view.refresh()
    replay_incremental(spark, smoke_log, sink, files_per_batch=1)
    r = view.refresh()
    assert r["mode"] == "incremental"
    assert view.verify()["ok"]
    # converged: refresh again is a no-op at the same version
    assert view.refresh()["mode"] == "noop"


def test_view_incremental_every_batch(spark, smoke_log, tmp_path):
    """Refresh after EVERY micro-batch — each delta is small, every
    merge must stay exact; ends equal to a from-scratch recompute."""
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    view = AggregateView(spark, sink, str(tmp_path / "agg"), ["source"], ["n_tok"])
    files = sorted(glob.glob(os.path.join(smoke_log, "part-*.parquet")))
    for i in range(0, len(files), 2):
        replay_incremental(
            spark, smoke_log, sink, files_per_batch=2, max_batches=i // 2 + 1
        )
        view.refresh()
    assert view.verify()["ok"]
    # the maintained count equals the live-row count of the final state
    n_live = sink.read_final().count()
    assert (
        view.read().agg(F.sum("n_rows")).collect()[0][0] == n_live
    )


def test_view_handles_group_moves_and_null_sums(spark, tmp_path):
    """Hand-written change stream: an update that MOVES a doc between
    groups must subtract from the old group and add to the new; deleting
    the only non-null contributor must restore SUM = NULL (not 0)."""
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=4)
    schema = (
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int"
    )
    b1 = spark.createDataFrame(
        [
            ("I", 1, "a", [1], 5, "s1", None, 0),
            ("I", 2, "b", [1], None, "s1", None, 0),  # null n_tok
            ("I", 3, "c", [1], 7, "s2", None, 0),
        ],
        schema,
    )
    sink.apply_batch(b1, "b1")
    view = AggregateView(spark, sink, str(tmp_path / "agg"), ["source"], ["n_tok"])
    view.refresh()
    b2 = spark.createDataFrame(
        [
            ("U", 4, "a", [1], 9, "s2", None, 0),  # group move s1 -> s2
            ("D", 5, "c", None, None, None, None, 0),  # delete s2 contributor
        ],
        schema,
    )
    sink.apply_batch(b2, "b2")
    assert view.refresh()["mode"] == "incremental"
    assert view.verify()["ok"]
    rows = {r["source"]: r for r in view.read().collect()}
    assert rows["s1"]["n_rows"] == 1 and rows["s1"]["n_tok"] is None  # only b left
    assert rows["s2"]["n_rows"] == 1 and rows["s2"]["n_tok"] == 9  # a moved in
    # delete the last s1 row: the group must VANISH from the view
    b3 = spark.createDataFrame([("D", 6, "b", None, None, None, None, 0)], schema)
    sink.apply_batch(b3, "b3")
    view.refresh()
    assert view.verify()["ok"]
    assert "s1" not in {r["source"] for r in view.read().collect()}


def test_view_survives_compaction_and_evolution(spark, evolution_log, tmp_path):
    """A compaction rewrite in the refresh window re-surfaces old rows
    in the path diff (filtered by the seq predicate), and a schema
    evolution mid-window widens n_tok int->long — both must leave the
    maintained aggregate equal to a recompute."""
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=4, compact_threshold=2)
    replay_incremental(spark, evolution_log, sink, files_per_batch=2, max_batches=1)
    view = AggregateView(spark, sink, str(tmp_path / "agg"), ["source"], ["n_tok"])
    view.refresh()
    replay_incremental(spark, evolution_log, sink, files_per_batch=2)
    assert view.refresh()["mode"] == "incremental"
    assert view.verify()["ok"]


def test_view_crash_before_pointer_swap(spark, smoke_log, replayed, tmp_path, monkeypatch):
    """Crash-inject between the aggregate parquet write and the pointer
    swap: the previous aggregate stays live, and a re-refresh lands the
    same exact state."""
    sink = replayed
    root = str(tmp_path / "agg")
    view = AggregateView(spark, sink, root, ["source"], ["n_tok"])
    view.refresh()
    v_before = view.current()["version"]
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)

    real_replace = os.replace

    def boom(src, dst):
        if dst.endswith("CURRENT"):
            raise RuntimeError("crash before pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(RuntimeError):
        view.refresh()
    monkeypatch.undo()
    assert view.current()["version"] == v_before  # old pointer intact
    assert view.refresh()["mode"] == "incremental"
    assert view.verify()["ok"]


def test_merge_agg_null_group_folds(spark):
    """GROUP BY folds NULL keys into one group; the merge join must too
    (eqNullSafe, not a plain equi-join)."""
    old = spark.createDataFrame([(None, 2, 10), ("g", 1, 5)], "k string, n_rows long, s long")
    delta = spark.createDataFrame([(None, 1, 3)], "k string, n_rows long, s long")
    out = {r["k"]: r for r in merge_agg(old, delta, ["k"], ["n_rows", "s"]).collect()}
    assert len(out) == 2
    assert out[None]["n_rows"] == 3 and out[None]["s"] == 13


def test_changelog_delta_matches_brute_force(spark, smoke_log, replayed):
    """The one-pass explode delta equals full_agg(new live) minus
    full_agg(old live), computed brute-force."""
    sink = replayed
    v_old = sink.current_snapshot()["version"]
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    v_new = sink.current_snapshot()["version"]
    ch = sink.read_changes_pruned(v_old, v_new, include_old=True)
    delta = changelog_delta(ch, ["source"], ["n_tok"])
    old_live = sink.read_state(version=v_old).filter(~F.col("deleted"))
    new_live = sink.read_state(version=v_new).filter(~F.col("deleted"))
    # THE defining IVM equation, via the production merge direction:
    # old aggregate + changelog delta == new aggregate
    got = merge_agg(
        full_agg(old_live, ["source"], ["n_tok"]),
        delta,
        ["source"],
        ["n_rows", "n_tok", "_nn_n_tok"],
    )
    want = full_agg(new_live, ["source"], ["n_tok"])
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_decimal_sums_stay_decimal(spark):
    """Round-3 review: a decimal sum column must be maintained in
    decimal (Spark: SUM(decimal(p,s)) -> decimal(min(38,p+10),s)),
    never silently in double — and the maintained type must not drift
    across merges (decimal addition widens precision by 1 per fold)."""
    df = spark.createDataFrame(
        [("a", "1.25"), ("a", "2.50"), ("b", None), ("b", "0.75")],
        "k string, v string",
    ).select("k", F.col("v").cast("decimal(18,2)").alias("v"))
    want = full_agg(df, ["k"], ["v"])
    assert dict(want.dtypes)["v"] == "decimal(28,2)"
    # split-and-merge equals full: the IVM equation, in exact decimal
    p1 = df.filter(F.col("v").isNull() | (F.col("v") >= 1))
    p2 = df.exceptAll(p1)
    merged = merge_agg(
        full_agg(p1, ["k"], ["v"]),
        full_agg(p2, ["k"], ["v"]),
        ["k"],
        ["n_rows", "v", "_nn_v"],
    )
    assert merged.schema == want.schema  # no precision drift
    assert merged.exceptAll(want).count() == 0
    assert want.exceptAll(merged).count() == 0


def test_changelog_delta_decimal_contributions(spark):
    """Sign application must preserve the decimal type exactly: unary
    minus, not lit(sign) * v (decimal multiplication sums the scales)."""
    ch = spark.createDataFrame(
        [
            ("I", False, "a", "1.25", None, None),
            ("U", False, "b", "2.00", "a", "1.25"),
            ("D", True, None, None, "a", "0.75"),
        ],
        "change_type string, deleted boolean, k string, v string,"
        " _old_k string, _old_v string",
    ).select(
        "change_type",
        "deleted",
        "k",
        F.col("v").cast("decimal(18,2)").alias("v"),
        "_old_k",
        F.col("_old_v").cast("decimal(18,2)").alias("_old_v"),
    )
    delta = changelog_delta(ch, ["k"], ["v"])
    assert dict(delta.dtypes)["v"] == "decimal(28,2)"
    out = {r["k"]: r for r in delta.collect()}
    from decimal import Decimal

    assert out["a"]["n_rows"] == -1  # +insert -update-move -delete
    assert out["a"]["v"] == Decimal("-0.75")  # 1.25 - 1.25 - 0.75
    assert out["a"]["_nn_v"] == -1
    assert out["b"]["n_rows"] == 1 and out["b"]["v"] == Decimal("2.00")


def test_unsupported_sum_type_rejected(spark):
    """A string sum column must fail loudly, not be cast to double."""
    df = spark.createDataFrame([("a", "x")], "k string, v string")
    with pytest.raises(ValueError, match="unsupported sum column type"):
        full_agg(df, ["k"], ["v"])
