"""NearDupView: the changelog-driven near-dup adapter — same refresh()
contract as AggregateView/TokenIndex, feeding the sink's changelog
through IncrementalNearDup.process_batch."""

import os

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.functions.incremental_dedup import NearDupView
from beehive_data_etl_spark.sinks.snapshot import SnapshotSink

SCHEMA = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string, event_ts timestamp, batch_hint int"
)
BASE = list(range(1, 30))  # long shared run -> near-dup signatures


def _ev(op, seq, doc, toks):
    n = len(toks) if toks is not None else None
    return (op, seq, doc, toks, n, "s", None, 0)


@pytest.fixture()
def sink(spark, tmp_path):
    return SnapshotSink(spark, str(tmp_path / "sink"), n_buckets=4)


def _norm(df):
    return {tuple(sorted((r.id_new, r.id_corpus))) for r in df.collect()}


def test_cross_batch_duplicate_found_once(spark, sink, tmp_path):
    view = NearDupView(spark, sink, str(tmp_path / "nd"))
    b1 = [_ev("I", 1, "a", BASE), _ev("I", 2, "b", [500, 501, 502])]
    sink.apply_batch(spark.createDataFrame(b1, SCHEMA), "b1")
    r = view.refresh()
    assert r["mode"] == "full"
    assert _norm(view.pairs()) == set()  # no dups yet
    # batch 2 inserts a near-copy of 'a' -> exactly the (c, a) pair
    b2 = [_ev("I", 3, "c", BASE + [99]), _ev("I", 4, "d", list(range(700, 720)))]
    sink.apply_batch(spark.createDataFrame(b2, SCHEMA), "b2")
    assert view.refresh()["mode"] == "incremental"
    assert _norm(view.pairs()) == {("a", "c")}
    # noop refresh adds nothing
    assert view.refresh()["mode"] == "noop"
    assert _norm(view.pairs()) == {("a", "c")}


def test_update_and_delete_flow_through_changelog(spark, sink, tmp_path):
    view = NearDupView(spark, sink, str(tmp_path / "nd"))
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 1, "a", BASE)], SCHEMA), "b1"
    )
    view.refresh()
    # delete 'a', then insert 'x' duplicating its OLD content: the
    # tombstone must prevent pairing against the dead doc
    sink.apply_batch(
        spark.createDataFrame([_ev("D", 2, "a", None)], SCHEMA), "b2"
    )
    view.refresh()
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 3, "x", BASE)], SCHEMA), "b3"
    )
    view.refresh()
    assert _norm(view.pairs()) == set()
    # an update that REWRITES 'x' to match a live doc pairs fresh
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 4, "y", list(range(900, 930)))], SCHEMA),
        "b4",
    )
    view.refresh()
    sink.apply_batch(
        spark.createDataFrame([_ev("U", 5, "x", list(range(900, 930)))], SCHEMA),
        "b5",
    )
    view.refresh()
    assert _norm(view.pairs()) == {("x", "y")}


def test_crash_between_store_append_and_swap_is_idempotent(spark, sink, tmp_path):
    view = NearDupView(spark, sink, str(tmp_path / "nd"))
    sink.apply_batch(
        spark.createDataFrame(
            [_ev("I", 1, "a", BASE), _ev("I", 2, "b", [500, 501, 502])], SCHEMA
        ),
        "b1",
    )
    view.refresh()
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 3, "c", BASE + [99])], SCHEMA), "b2"
    )
    # crash AFTER process_batch (store appended, pairs dir written)
    # but BEFORE the pointer swap
    real_commit = view._ptr.commit
    view._ptr.commit = lambda *a: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        view.refresh()
    view._ptr.commit = real_commit
    # pairs() ignores the orphan dir above the pointer
    assert _norm(view.pairs()) == set()
    # retry heals: batch_id discard keeps the store single-copy, the
    # pair is reported exactly once
    assert view.refresh()["mode"] == "incremental"
    assert _norm(view.pairs()) == {("a", "c")}


def test_crash_then_retry_at_later_version_leaves_no_ghost(spark, sink, tmp_path):
    """The review-repro'd bug: a crashed refresh's store file is keyed
    to the CRASH-TIME version; if the sink advances before the retry,
    the retry's wider changelog window collapses insert-then-delete to
    nothing, and the ghost signatures of the deleted doc would pair
    forever. The version-range reap must remove them."""
    view = NearDupView(spark, sink, str(tmp_path / "nd"))
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 1, "a", [600, 601, 602])], SCHEMA), "b1"
    )
    view.refresh()  # pointer at v1
    # v2 inserts doc k; refresh crashes AFTER the store append
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 2, "k", BASE)], SCHEMA), "b2"
    )
    real_commit = view._ptr.commit
    view._ptr.commit = lambda *a: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        view.refresh()
    view._ptr.commit = real_commit
    # sink advances to v3 where k is DELETED -> the v1->v3 window has
    # no row for k at all
    sink.apply_batch(
        spark.createDataFrame([_ev("D", 3, "k", None)], SCHEMA), "b3"
    )
    assert view.refresh()["mode"] == "incremental"
    # a later insert with k's old content must NOT pair against the
    # dead doc's ghost signatures
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 4, "x", BASE)], SCHEMA), "b4"
    )
    view.refresh()
    assert _norm(view.pairs()) == set()


def test_crashed_pairs_dir_never_poisons_reads(spark, sink, tmp_path):
    """A half-written pairs dir from a crashed attempt must be
    invisible (pointer records the readable list) and reaped by the
    next refresh, even when that refresh lands at a later version."""
    view = NearDupView(spark, sink, str(tmp_path / "nd"))
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 1, "a", BASE)], SCHEMA), "b1"
    )
    view.refresh()
    # fake a crashed attempt at v2: an unreadable half-written dir
    bad = os.path.join(str(tmp_path / "nd"), "pairs-v000002")
    os.makedirs(os.path.join(bad, "_temporary"))
    assert view.pairs().count() == 0  # unlisted -> not read
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 2, "c", BASE + [99])], SCHEMA), "b2"
    )
    sink.apply_batch(
        spark.createDataFrame([_ev("I", 3, "d", [700, 701])], SCHEMA), "b3"
    )
    view.refresh()  # retry lands at v3 > the crashed v2
    assert not os.path.isdir(bad)  # reaped
    assert _norm(view.pairs()) == {("a", "c")}


def test_pairs_fold_bounds_dir_count(spark, sink, tmp_path):
    view = NearDupView(
        spark, sink, str(tmp_path / "nd"), pairs_fold_at=3, reap_older_than_s=0.0
    )
    docs = [("a", BASE), ("b", [500, 501]), ("c", BASE + [99]), ("d", [700]),
            ("e", BASE + [98])]
    for i, (doc, toks) in enumerate(docs, start=1):
        sink.apply_batch(
            spark.createDataFrame([_ev("I", i, doc, toks)], SCHEMA), f"b{i}"
        )
        view.refresh()
    # fold threshold 3 -> the recorded list never exceeds it
    assert len(view.current()["pairs_dirs"]) <= 3
    # and folding lost nothing: a, c, e are mutual near-dups
    assert _norm(view.pairs()) == {("a", "c"), ("a", "e"), ("c", "e")}
    # aged-reap (horizon 0) leaves only listed dirs on disk
    left = [d for d in os.listdir(view.root) if d.startswith("pairs-")]
    assert sorted(left) == sorted(view.current()["pairs_dirs"])


def test_replay_job_env_enables_neardup(spark, smoke_log, tmp_path, monkeypatch):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import replay_job

    target = str(tmp_path / "sink_nd")
    monkeypatch.setattr(sys, "argv", ["replay_job.py", smoke_log, target])
    monkeypatch.setenv("REPLAY_MODE", "stream")
    monkeypatch.setenv("REPLAY_N_BUCKETS", "8")
    monkeypatch.setenv("REPLAY_NEARDUP", "1")
    replay_job.main()
    sink2 = SnapshotSink(spark, target, n_buckets=8)
    view = NearDupView(spark, sink2, os.path.join(target, "_views", "neardup"))
    assert view.current()["version"] == sink2.current_snapshot()["version"]
    view.pairs().count()  # readable (smoke log rarely has near-dups)


def test_pure_rewrite_window_is_silent(spark, sink, tmp_path):
    """A compact- or rebucket-only window changes no rows: the refresh
    must not re-report pairs, ghost-pair, or corrupt the pointer —
    and the pairs read must keep working afterwards."""
    view = NearDupView(spark, sink, str(tmp_path / "nd"))
    b1 = [_ev("I", 1, "a", BASE), _ev("I", 2, "b", BASE + [99])]
    sink.apply_batch(spark.createDataFrame(b1, SCHEMA), "b1")
    view.refresh()
    b2 = [_ev("I", 3, "c", list(range(900, 920)))]
    sink.apply_batch(spark.createDataFrame(b2, SCHEMA), "b2")
    view.refresh()
    want = _norm(view.pairs())
    assert want == {("a", "b")}

    sink.compact()          # version bump, zero row changes
    sink.rebucket(8)        # another pure-rewrite version
    r = view.refresh()
    assert r["mode"] == "incremental"
    assert r["version"] == sink.current_snapshot()["version"]
    assert _norm(view.pairs()) == want
    # and a real batch after the rewrites still pairs correctly
    b3 = [_ev("I", 4, "e", BASE + [98])]
    sink.apply_batch(spark.createDataFrame(b3, SCHEMA), "b3")
    view.refresh()
    assert _norm(view.pairs()) == {("a", "b"), ("a", "e"), ("b", "e")}
