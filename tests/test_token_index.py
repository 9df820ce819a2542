"""Incremental inverted index (sinks/token_index.py): maintained
token->doc posting pairs vs a full recompute at the same snapshot
version, through the same update/delete/out-of-order event mix as the
aggregate-view tests, plus the lookup prunes and the crash path."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sinks.token_index import TokenIndex
from beehive_data_etl_spark.streaming.replay import replay_incremental


@pytest.fixture()
def replayed(spark, smoke_log, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=8)
    replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=2)
    return sink


def test_full_build_then_incremental_equals_recompute(spark, smoke_log, replayed, tmp_path):
    sink = replayed
    ix = TokenIndex(spark, sink, str(tmp_path / "ix"), n_buckets=8)
    assert ix.refresh()["mode"] == "full"
    assert ix.verify()["ok"]
    # apply the rest of the log (updates re-token docs, deletes drop
    # them, duplicates re-deliver) and refresh incrementally
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    r = ix.refresh()
    assert r["mode"] == "incremental"
    assert ix.verify()["ok"], ix.verify()
    assert ix.refresh()["mode"] == "noop"


def test_per_batch_refresh_loop(spark, smoke_log, replayed, tmp_path):
    sink = replayed
    ix = TokenIndex(spark, sink, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    v0 = sink.current_snapshot()["version"]
    # refresh after EVERY committed batch — the production cadence
    # (growing max_batches: each call applies exactly one NEW chunk)
    for n in (3, 4):
        replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=n)
        assert ix.refresh()["mode"] == "incremental"
    assert sink.current_snapshot()["version"] == v0 + 2
    assert ix.verify()["ok"]


def test_lookup_matches_read_and_prunes_buckets(spark, smoke_log, replayed, tmp_path):
    sink = replayed
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    ix = TokenIndex(spark, sink, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    some = [r.token for r in ix.read().select("token").distinct().limit(3).collect()]
    via_lookup = ix.lookup(some).toPandas()
    via_read = (
        ix.read().filter(F.col("token").isin([int(t) for t in some]))
        .toPandas()
    )
    key = ["token", "doc_id"]
    assert sorted(map(tuple, via_lookup[key].values.tolist())) == sorted(
        map(tuple, via_read[key].values.tolist())
    )
    # bucket pruning: only the probed tokens' tbucket dirs are read
    files = ix.lookup(some[:1]).inputFiles()
    assert files
    import re

    from pyspark.sql import types as T

    # probe must hash with the SAME element type the index writes —
    # xxhash64(int) != xxhash64(long) for equal values
    want_b = (
        spark.createDataFrame(
            [(some[0],)], T.StructType([T.StructField("token", ix._elem_type())])
        )
        .select(F.pmod(F.xxhash64("token"), F.lit(8)).cast("int").alias("b"))
        .collect()[0]
        .b
    )
    got_buckets = {int(re.search(r"tbucket=(\d+)", f).group(1)) for f in files}
    assert got_buckets == {want_b}


def test_token_filter_reaches_scan(spark, smoke_log, replayed, tmp_path):
    import io
    import re
    from contextlib import redirect_stdout

    ix = TokenIndex(spark, replayed, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    tok = ix.read().select("token").limit(1).collect()[0].token
    buf = io.StringIO()
    with redirect_stdout(buf):
        ix.lookup([tok]).explain("formatted")
    m = re.search(r"PushedFilters: \[(.*?)\]", buf.getvalue())
    assert m and "token" in m.group(1), buf.getvalue()[:1500]


def test_compact_folds_and_preserves(spark, smoke_log, replayed, tmp_path):
    sink = replayed
    ix = TokenIndex(spark, sink, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    for n in (3, 4):
        replay_incremental(spark, smoke_log, sink, files_per_batch=2, max_batches=n)
        assert ix.refresh()["mode"] == "incremental"
    before = ix.read().toPandas()
    n_files = len(ix.current()["files"])
    assert n_files == 3
    r = ix.compact()
    assert r["files_folded"] == 3 and len(ix.current()["files"]) == 1
    after = ix.read().toPandas()
    key = ["token", "doc_id"]
    assert sorted(map(tuple, before[key].values.tolist())) == sorted(
        map(tuple, after[key].values.tolist())
    )
    # still refreshable and exact after folding
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    ix.refresh()
    assert ix.verify()["ok"]


def test_crash_before_pointer_swap_is_invisible(spark, smoke_log, replayed, tmp_path):
    sink = replayed
    ix = TokenIndex(spark, sink, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)

    # crash injection: the delta dir is written but the swap never runs
    real_commit = ix._ptr.commit
    ix._ptr.commit = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        ix.refresh()
    ix._ptr.commit = real_commit
    # the orphan dir exists but no reader lists it
    orphans = [d for d in os.listdir(ix.root) if d.startswith("ix-")]
    assert len(orphans) > len(ix.current()["files"])
    assert ix.current()["version"] == 2  # pointer unmoved
    # re-refresh succeeds and is exact; compact with age-0 reaps orphans
    assert ix.refresh()["mode"] == "incremental"
    assert ix.verify()["ok"]
    ix.compact(orphan_older_than_s=0.0)
    left = [d for d in os.listdir(ix.root) if d.startswith("ix-")]
    assert len(left) == 1
    assert ix.verify()["ok"]


def test_compact_keeps_superseded_dirs_for_pinned_readers(spark, smoke_log, replayed, tmp_path):
    """Review finding: eager deletes would silently truncate a reader
    holding the old pointer (missing dirs are skipped, not errors).
    With the default horizon, superseded dirs survive the swap and a
    pre-compact lazy DataFrame still evaluates completely."""
    sink = replayed
    ix = TokenIndex(spark, sink, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)
    ix.refresh()
    pinned = ix.read()  # lazy plan over the pre-compact file list
    expect = pinned.count()
    old_files = list(ix.current()["files"])
    ix.compact()  # default horizon: no eager deletes
    assert all(os.path.isdir(d) for d in old_files)
    assert pinned.count() == expect  # pinned reader unharmed
    assert len(ix.current()["files"]) == 1


def test_compact_aborts_when_pointer_advances_mid_fold(spark, smoke_log, replayed, tmp_path):
    """Review finding: a compact() racing another writer must abandon
    its fold instead of swapping a stale file list over newer state."""
    sink = replayed
    ix = TokenIndex(spark, sink, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    replay_incremental(spark, smoke_log, sink, files_per_batch=2)

    # simulate the cross-process race: another writer's refresh lands
    # between compact()'s planning read and its pre-swap recheck
    real_write = ix._write_delta
    other = TokenIndex(spark, sink, str(tmp_path / "ix"), n_buckets=8)

    def write_then_race(df, tag):
        out = real_write(df, tag)
        if "compact" in tag:
            other._refresh_locked()  # advances the shared pointer
        return out

    ix._write_delta = write_then_race
    r = ix.compact()
    ix._write_delta = real_write
    assert r.get("aborted"), r
    # the racing refresh's state is intact and exact
    assert ix.current()["version"] == sink.current_snapshot()["version"]
    assert ix.verify()["ok"]


def test_layout_mismatch_rejected(spark, smoke_log, replayed, tmp_path):
    """Review finding: reopening with a different n_buckets must fail
    loudly, not probe absent subdirs."""
    ix = TokenIndex(spark, replayed, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    wrong = TokenIndex(spark, replayed, str(tmp_path / "ix"), n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        wrong.lookup([1])
    with pytest.raises(ValueError, match="n_buckets"):
        wrong.refresh()


def test_write_and_probe_share_bucket_expr():
    """Review finding: the two paths must use ONE bucket function — the
    write path the shared Spark expression, the probe path its Python
    twin (parity: test_probe_buckets_match_write_buckets)."""
    import inspect

    from beehive_data_etl_spark.sinks import token_index as m

    src = inspect.getsource(m.TokenIndex)
    assert "F.xxhash64" not in src  # only the shared helper hashes
    assert "_token_bucket_expr" in inspect.getsource(m.TokenIndex._with_bucket)
    lookup_src = inspect.getsource(m.TokenIndex.lookup)
    assert "bucket_of(" in lookup_src and "xxhash" not in lookup_src


def test_probe_buckets_match_write_buckets(spark, replayed, tmp_path):
    """The probe path's driver-side buckets equal the write path's
    Spark expression for every indexed token."""
    from beehive_data_etl_spark.sinks.snapshot import bucket_of
    from beehive_data_etl_spark.sinks.token_index import _token_bucket_expr

    ix = TokenIndex(spark, replayed, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    elem = ix._elem_type()
    rows = (
        ix.read()
        .select("token")
        .distinct()
        .withColumn("b", _token_bucket_expr(8))
        .collect()
    )
    assert rows
    for r in rows:
        assert bucket_of(r.token, 8, elem) == r.b, r.token


def test_empty_and_invalid_probes(spark, replayed, tmp_path):
    ix = TokenIndex(spark, replayed, str(tmp_path / "ix"), n_buckets=8)
    with pytest.raises(ValueError):
        ix.lookup([1])  # never refreshed
    ix.refresh()
    with pytest.raises(ValueError):
        ix.lookup([])
    # a token that exists nowhere returns an empty frame with the right schema
    assert ix.lookup([99_999_999]).count() == 0


def test_empty_change_window_refresh_is_noop_delta(spark, replayed, tmp_path):
    """A window of pure rewrites (compact bumps the version, changes no
    rows) must NOT leave an empty partitioned delta dir in the pointer —
    reading such a dir fails schema inference and poisons every later
    read (found by the lifecycle composition test)."""
    ix = TokenIndex(spark, replayed, str(tmp_path / "ix"), n_buckets=8)
    ix.refresh()
    before = ix.current()["files"]
    want = {tuple(r) for r in ix.read().collect()}
    replayed.compact()
    r = ix.refresh()
    assert r["mode"] == "noop-delta"
    assert ix.current()["files"] == before  # no husk appended
    assert ix.current()["version"] == replayed.current_snapshot()["version"]
    assert {tuple(r) for r in ix.read().collect()} == want
    assert ix.verify()["ok"]
