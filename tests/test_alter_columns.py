"""Column drop/rename schema evolution (SnapshotSink.drop_column /
rename_column): physical rewrites in a name-based parquet store so a
re-added name can never resurrect old bytes, with rename-aware
changelog readers and loud consumer/replication boundaries."""

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.streaming.replay import replay_incremental
from beehive_data_etl_spark.verify import compare_final, oracle_final_spark


@pytest.fixture()
def replayed(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    return sink


def _one_event(spark, sink, key, tokens, extra_cols="", extra_vals=()):
    return spark.createDataFrame(
        [("U", 10_000_000, key, tokens, len(tokens), "manual", None, 0)
         + tuple(extra_vals)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int"
        + extra_cols,
    )


def test_drop_column_removes_and_never_resurrects(spark, smoke_log, replayed):
    sink = replayed
    v_pre = sink.current_snapshot()["version"]
    out = sink.drop_column("source")
    assert out["op"] == "drop_column"
    got = sink.read_final()
    assert "source" not in got.columns
    # token payload is untouched — byte-equal vs the oracle
    state = sink.read_state()
    assert compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )["ok"]
    # time travel still shows the column at the pre-drop version
    old = sink.read_state(version=v_pre)
    assert "source" in old.columns
    assert old.filter(F.col("source").isNotNull()).count() > 0
    # THE critical property: re-adding the same name starts from NULLs
    key = got.select("doc_id").first()[0]
    sink.apply_batch(_one_event(spark, sink, key, [1, 2]), "re-add")
    # evolution re-adds 'source' via the batch schema; every OTHER row
    # must read NULL for it — no resurrection from old bytes
    cur = sink.read_final()
    assert "source" in cur.columns
    assert cur.filter(F.col("source").isNotNull()).count() == 1
    assert cur.filter(F.col("source") == "manual").count() == 1


def test_rename_column_preserves_values(spark, smoke_log, replayed):
    sink = replayed
    want = {
        r.doc_id: r.source
        for r in sink.read_final().select("doc_id", "source").collect()
    }
    out = sink.rename_column("source", "provenance")
    assert out["op"] == "rename_column"
    got = sink.read_final()
    assert "source" not in got.columns and "provenance" in got.columns
    have = {r.doc_id: r.provenance
            for r in got.select("doc_id", "provenance").collect()}
    assert have == want
    state = sink.read_state()
    assert compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )["ok"]


def test_changelog_bridges_rename_window(spark, smoke_log, replayed):
    """A rename inside the window: pre-images must carry the OLD values
    under the NEW name (a naive align would read NULL — silent
    corruption), the rewrite itself emits no change rows, and a genuine
    update in the same window shows its correct pre-image."""
    sink = replayed
    v_from = sink.current_snapshot()["version"]
    sink.rename_column("source", "provenance")
    key = sink.read_final().select("doc_id").orderBy("doc_id").first()[0]
    old_src = (
        sink.read_state(version=v_from)
        .filter(F.col("doc_id") == key)
        .select("source")
        .first()[0]
    )
    ev = spark.createDataFrame(
        [("U", 10_000_000, key, [3, 3], 2, "fresh", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, provenance string, event_ts timestamp, batch_hint int",
    )
    sink.apply_batch(ev, "post-rename-update")
    v_to = sink.current_snapshot()["version"]
    for reader in (sink.read_changes, sink.read_changes_pruned):
        ch = reader(v_from, v_to, include_old=True)
        rows = ch.collect()
        # ONLY the genuine update surfaces (rewrite rows are silent)
        assert [r.doc_id for r in rows] == [key]
        r = rows[0]
        assert r.change_type == "U"
        assert r.provenance == "fresh"
        assert r._old_provenance == old_src  # old VALUE under NEW name


def test_changelog_clean_across_drop_window(spark, replayed):
    sink = replayed
    v_from = sink.current_snapshot()["version"]
    sink.drop_column("source")
    v_to = sink.current_snapshot()["version"]
    for reader in (sink.read_changes, sink.read_changes_pruned):
        ch = reader(v_from, v_to, include_old=True)
        assert "source" not in ch.columns
        assert ch.count() == 0  # the rewrite is silent


def test_aggregate_view_on_altered_column_fails_loudly(spark, replayed, tmp_path):
    from beehive_data_etl_spark.sinks.aggregates import AggregateView

    sink = replayed
    view = AggregateView(spark, sink, str(tmp_path / "agg"), ["source"], ["n_tok"])
    view.refresh()
    # a view on SURVIVING columns, refreshed before the alter…
    survivor = AggregateView(spark, sink, str(tmp_path / "agg2"), ["n_tok"], [])
    survivor.refresh()
    sink.rename_column("source", "provenance")
    with pytest.raises(ValueError, match="dropped or renamed"):
        view.refresh()
    # …refreshes INCREMENTALLY straight through the alter window (the
    # rewrite is changelog-silent) and stays exact
    out = survivor.refresh()
    assert out["mode"] == "incremental"
    assert survivor.verify()["ok"]


def test_replication_refuses_alter_window(spark, smoke_log, replayed, tmp_path):
    from beehive_data_etl_spark.sinks.replicate import Replicator

    src = replayed
    dst = SnapshotSink(spark, str(tmp_path / "dst"), n_buckets=4)
    repl = Replicator(src, dst, name="r")
    repl.sync()
    src.rename_column("source", "provenance")
    with pytest.raises(RuntimeError, match="rename_column"):
        repl.sync()
    # operator bridge: same alter downstream, mark past it, resume
    dst.rename_column("source", "provenance")
    repl.mark_synced(src.current_snapshot()["version"])
    key = src.read_final().select("doc_id").first()[0]
    ev = spark.createDataFrame(
        [("U", 10_000_000, key, [4], 1, "fresh", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, provenance string, event_ts timestamp, batch_hint int",
    )
    src.apply_batch(ev, "after-alter")
    repl.sync()
    got = dst.read_final().filter(F.col("doc_id") == key).collect()
    assert len(got) == 1 and got[0].provenance == "fresh"


def test_alter_validations(spark, replayed, tmp_path):
    sink = replayed
    with pytest.raises(ValueError, match="internal"):
        sink.drop_column("op_sequence")
    with pytest.raises(ValueError, match="no such column"):
        sink.drop_column("nope")
    with pytest.raises(ValueError, match="already exists"):
        sink.rename_column("source", "n_tok")
    with pytest.raises(ValueError, match="internal"):
        sink.rename_column("doc_id", "key2")
    # the Iceberg twin's metadata-only alter is refused on patch tables
    # (it cannot migrate name-keyed cell maps)
    from beehive_data_etl_spark.sinks.iceberg import IcebergSink

    twin = IcebergSink.__new__(IcebergSink)
    twin.table, twin.patch = "lake.db.t", True
    with pytest.raises(RuntimeError, match="_cell_seq"):
        twin.drop_column_sql("source")
    with pytest.raises(RuntimeError, match="_cell_seq"):
        twin.rename_column_sql("source", "label")


_PATCH_DDL = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string, event_ts timestamp, batch_hint int, "
    "patch_cols array<string>"
)


def _patch_sink(spark, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "p"), n_buckets=4, patch=True)
    base = spark.createDataFrame(
        [
            ("I", 1, "a", [1], 1, "s0", None, 0, None),
            ("I", 1, "b", [2, 2], 2, "s0", None, 0, None),
            ("P", 5, "a", None, None, "s5", None, 0, ["source"]),
        ],
        _PATCH_DDL,
    )
    sink.apply_batch(base, "seed")
    return sink


def test_patch_rename_carries_cell_clock(spark, tmp_path):
    """Renaming a column on a per-cell table must carry the SETTER
    CLOCK: a late out-of-order patch on the renamed column still loses
    to the pre-rename cell, and a fresh one still wins."""
    sink = _patch_sink(spark, tmp_path)
    sink.rename_column("source", "label")
    late_ddl = _PATCH_DDL.replace("source string", "label string")
    late = spark.createDataFrame(
        [("P", 3, "a", None, None, "s3", None, 0, ["label"])], late_ddl
    )
    sink.apply_batch(late, "late")
    row = sink.read_final().filter(F.col("doc_id") == "a").collect()[0]
    assert row.label == "s5"  # seq 3 lost to the carried-over cell at 5
    fresh = spark.createDataFrame(
        [("P", 7, "a", None, None, "s7", None, 0, ["label"])], late_ddl
    )
    sink.apply_batch(fresh, "fresh")
    row = sink.read_final().filter(F.col("doc_id") == "a").collect()[0]
    assert row.label == "s7"
    assert list(row.tokens) == [1]  # untouched cells intact


def test_patch_drop_kills_cells_no_resurrection(spark, tmp_path):
    """Dropping a patch column kills its cells: a re-added column of
    the same name starts never-set, so even a LOWER-seq patch sets it
    (the dead cell's clock must not shadow it)."""
    sink = _patch_sink(spark, tmp_path)
    sink.drop_column("source")
    assert "source" not in sink.read_final().columns
    low = spark.createDataFrame(
        [("P", 2, "a", None, None, "s2-after-drop", None, 0, ["source"])],
        _PATCH_DDL,
    )
    sink.apply_batch(low, "re-add-low-seq")
    rows = {r.doc_id: r.source for r in sink.read_final().collect()}
    assert rows["a"] == "s2-after-drop"  # seq 2 < dead cell's 5: still wins
    assert rows["b"] is None             # everyone else: never-set


def test_patch_changelog_bridges_alter_window(spark, tmp_path):
    """Across a patch-table rename window the readers bridge the cell
    namespace: the rewrite itself is silent (no fingerprint storm) and
    a genuine post-rename patch surfaces with its pre-image under the
    new name."""
    sink = _patch_sink(spark, tmp_path)
    v_from = sink.current_snapshot()["version"]
    sink.rename_column("source", "label")
    late_ddl = _PATCH_DDL.replace("source string", "label string")
    sink.apply_batch(
        spark.createDataFrame(
            [("P", 9, "a", None, None, "s9", None, 0, ["label"])], late_ddl
        ),
        "genuine",
    )
    v_to = sink.current_snapshot()["version"]
    for reader in (sink.read_changes, sink.read_changes_pruned):
        rows = reader(v_from, v_to, include_old=True).collect()
        assert [r.doc_id for r in rows] == ["a"]  # no storm: ONE change
        r = rows[0]
        assert r.label == "s9"
        assert r._old_label == "s5"  # old value under the new name


def test_fsck_and_lookup_after_alter(spark, replayed):
    from beehive_data_etl_spark.sinks.fsck import fsck

    sink = replayed
    sink.rename_column("source", "provenance")
    sink.drop_column("n_tok")
    rep = fsck(sink, deep=True)
    assert rep["ok"], rep
    # point reads ride the rewritten entries' fresh key stats
    key = sink.read_final().select("doc_id").first()[0]
    row = sink.lookup([key]).collect()
    assert len(row) == 1 and row[0].provenance is not None


def test_changelog_bridges_name_reuse_after_rename(spark, replayed):
    """Review-found: a window that RE-USES a freed name (rename a->b,
    then a batch re-adds 'a') must read the re-added column's pre-image
    as NULL and the renamed column's pre-image as the old values —
    naive name mapping produced duplicate columns and crashed."""
    sink = replayed
    v_from = sink.current_snapshot()["version"]
    sink.rename_column("source", "provenance")
    key = sink.read_final().select("doc_id").orderBy("doc_id").first()[0]
    old_src = (
        sink.read_state(version=v_from)
        .filter(F.col("doc_id") == key).select("source").first()[0]
    )
    ev = spark.createDataFrame(
        [("U", 10_000_000, key, [3], 1, "newval", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int",
    )
    sink.apply_batch(ev, "re-add-source")
    v_to = sink.current_snapshot()["version"]
    for reader in (sink.read_changes, sink.read_changes_pruned):
        rows = reader(v_from, v_to, include_old=True).collect()
        assert [r.doc_id for r in rows] == [key]
        r = rows[0]
        assert r.source == "newval"
        assert r._old_source is None          # minted AFTER the rename
        assert r._old_provenance == old_src   # old value, new name


def test_changelog_bridges_swap_renames(spark, replayed):
    """A swap through a temp name (a->tmp, b->a, tmp->b) must compose:
    sequential withColumnRenamed corrupts it (renames every match)."""
    sink = replayed
    v_from = sink.current_snapshot()["version"]
    key = sink.read_final().select("doc_id").orderBy("doc_id").first()[0]
    pre = (
        sink.read_state(version=v_from)
        .filter(F.col("doc_id") == key)
        .select("source", "n_tok").first()
    )
    sink.rename_column("source", "tmpcol")
    sink.rename_column("n_tok", "source")   # source now holds counts
    sink.rename_column("tmpcol", "n_tok")   # n_tok now holds labels
    ev = spark.createDataFrame(
        [("U", 10_000_000, key, [3], "swapped", 1, None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok string, source int, event_ts timestamp, batch_hint int",
    )
    sink.apply_batch(ev, "post-swap")
    v_to = sink.current_snapshot()["version"]
    for reader in (sink.read_changes, sink.read_changes_pruned):
        rows = reader(v_from, v_to, include_old=True).collect()
        assert [r.doc_id for r in rows] == [key]
        r = rows[0]
        assert r._old_source == pre.n_tok    # counts under 'source'
        assert r._old_n_tok == pre.source    # labels under 'n_tok'


def test_rename_onto_reserved_bucket_name_refused(spark, replayed):
    with pytest.raises(ValueError, match="internal"):
        replayed.rename_column("source", "_bucket")
    with pytest.raises(ValueError, match="internal"):
        replayed.rename_column("source", "_old_source")
    with pytest.raises(ValueError, match="internal"):
        replayed.rename_column("source", "change_type")


def test_alter_aborts_when_table_advances_mid_rewrite(spark, replayed, tmp_path):
    """The quiesce contract is ENFORCED, not just documented: a commit
    landing between alter planning and publish aborts the alter with
    nothing committed (review-found: the stale final_schema would have
    erased a concurrently-evolved column table-wide)."""
    from pyspark.sql import functions as SF
    from pyspark.sql import types as T

    sink = replayed
    writer = SnapshotSink(spark, sink.root, n_buckets=sink.n_buckets)
    key = sink.read_final().select("doc_id").first()[0]
    fired = []

    def sneaky_project(df):
        if not fired:
            fired.append(True)
            ev = spark.createDataFrame(
                [("U", 10_000_000, key, [8], 1, "mid", None, 0)],
                "op string, op_sequence long, doc_id string, "
                "tokens array<int>, n_tok int, source string, "
                "event_ts timestamp, batch_hint int",
            )
            writer.apply_batch(ev, "mid-alter")
        return df.drop("source")

    schema = T.StructType.fromDDL(sink.current_snapshot()["schema"])
    final = T.StructType([f for f in schema.fields if f.name != "source"])
    v_before = sink.current_snapshot()["version"]
    with pytest.raises(RuntimeError, match="quiesced"):
        sink._rewrite_buckets(
            None, min_deltas=1, row_filter=SF.lit(True),
            op_label="drop_column", project=sneaky_project,
            final_schema=final, require_all=True,
        )
    head = sink.current_snapshot()
    # only the concurrent batch committed; the alter left no trace
    assert head["version"] == v_before + 1
    assert "source" in head["schema"]


def test_alter_all_or_nothing_when_bucket_claimed(spark, replayed):
    sink = replayed
    busy = int(next(b for b, e in sink.current_snapshot()["buckets"].items() if e))
    with sink._commit_lock:
        sink._compacting.add(busy)
    try:
        v = sink.current_snapshot()["version"]
        with pytest.raises(RuntimeError, match="nothing was changed"):
            sink.drop_column("source")
        assert sink.current_snapshot()["version"] == v
    finally:
        with sink._commit_lock:
            sink._compacting.discard(busy)
    assert sink.drop_column("source")["op"] == "drop_column"


def test_aggregate_view_catches_drop_readd_inside_window(spark, replayed, tmp_path):
    """Review-found: drop + re-add of the SAME name inside one refresh
    window passes a current-schema check but the stored aggregate is
    stale (the drop nulled every value changelog-silently). Every
    column-scoped view refuses such a window: the value and token
    indexes used to refresh across it incrementally and keep stale
    postings. All views share the one replayed table."""
    from beehive_data_etl_spark.sinks.aggregates import AggregateView
    from beehive_data_etl_spark.sinks.token_index import TokenIndex, ValueIndex

    sink = replayed
    view = AggregateView(spark, sink, str(tmp_path / "agg"), ["source"], [])
    vix = ValueIndex(
        spark, sink, str(tmp_path / "vix"), token_col="source", n_buckets=4
    )
    tix = TokenIndex(spark, sink, str(tmp_path / "tix"), n_buckets=4)
    for v in (view, vix, tix):
        v.refresh()
    sink.drop_column("source")
    sink.drop_column("tokens")
    key = sink.read_final().select("doc_id").first()[0]
    ev = spark.createDataFrame(
        [("U", 10_000_000, key, [1], 1, "back", None, 0)],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, event_ts timestamp, batch_hint int",
    )
    sink.apply_batch(ev, "re-add")
    for v in (view, vix, tix):
        with pytest.raises(ValueError, match="dropped/renamed at"):
            v.refresh()
