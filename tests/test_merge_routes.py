"""Ingest's two merge plans give the same table.

``SnapshotSink._run_and_publish`` folds and writes a batch whose
estimated size is within ``spark.sql.autoBroadcastJoinThreshold`` in one
Spark task (``coalesce(1)``, no Exchange), and any other batch with the
parallel plan (fold shuffle, then ``repartition`` by bucket). These
tests run the same batch sequence under the default threshold and under
``-1`` (broadcast off, so every batch is parallel) and check that both
routes commit the same states, changelogs, manifests and lineage, and
that both equal independent oracles. They also pin the job and stage
counts of each shape and the ``merge_plan`` record of every commit."""

import json
from contextlib import contextmanager

import pandas as pd
import pytest

from beehive_data_etl_spark.sinks.snapshot import KEY, SnapshotSink
from beehive_data_etl_spark.streaming.replay import replay_incremental
from beehive_data_etl_spark.verify import (
    oracle_final_duckdb,
    oracle_patch_final_spark,
)
from test_serving_reads import ROW_SCHEMA, _job_ids

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
ROUTES = ["one_task", "parallel"]


@contextmanager
def route(spark, name):
    """Run the body with every small batch on ``name``'s merge plan."""
    prev = spark.conf.get(THRESHOLD)
    if name == "parallel":
        spark.conf.set(THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, prev)


def _by_key(df) -> dict:
    rows = [r.asDict(recursive=True) for r in df.collect()]
    out = {r[KEY]: r for r in rows}
    assert len(out) == len(rows), "one row per key"
    return out


def _manifests(sink, metrics) -> dict:
    """(batch, bucket) → what the commit recorded about that bucket's
    files: rows, key range, file count."""
    out = {}
    for m in metrics:
        for b in m["touched_buckets"]:
            with open(sink._manifest_path(m["batch_id"], b)) as fh:
                body = json.load(fh)
            out[(m["batch_id"], b)] = (
                body["rows"], body["key_range"], len(body["file_ranges"]),
            )
    return out


def _table_facts(sink, metrics) -> dict:
    """Everything a reader can see of the table, per version and window."""
    head = sink.current_snapshot()["version"]
    versions = range(head - len(metrics) + 1, head + 1)
    return {
        "states": {v: _by_key(sink.read_state(version=v)) for v in versions},
        "changes": {
            (a, b): _by_key(sink.read_changes(a, b))
            for a in versions for b in versions if a < b
        },
        "manifests": _manifests(sink, metrics),
        "files_per_entry": {
            (v, b): [len(e["file_ranges"]) for e in entries]
            for v in versions
            for b, entries in sink.snapshot(v)["buckets"].items()
        },
        "lineage": [m["lineage"]["events"] for m in metrics],
    }


@pytest.mark.parametrize("kind", ["row", "patch"])
def test_routes_commit_the_same_table(
    spark, evolution_log, patch_log, tmp_path, kind
):
    """I/U/D, duplicate deliveries, late events and a widened column
    (the evolution log), or masked partial updates (the patch log),
    replayed into a salted, file-capped, lineage-tracking table whose
    third batch compacts inline."""
    log = evolution_log if kind == "row" else patch_log
    facts = {}
    for name in ROUTES:
        sink = SnapshotSink(
            spark, str(tmp_path / name), n_buckets=4, compact_threshold=2,
            salt_partials=4, target_file_rows=40, lineage=True,
            patch=kind == "patch",
        )
        with route(spark, name):
            metrics = replay_incremental(spark, log, sink, files_per_batch=2)
        assert len(metrics) == 4
        assert any(m["compacted_buckets"] for m in metrics)
        assert all(
            m["merge_plan"]["one_task"] == (name == "one_task") for m in metrics
        )
        facts[name] = _table_facts(sink, metrics)
    assert facts["one_task"] == facts["parallel"]

    cols = ["doc_id", "op_sequence", "tokens", "n_tok", "source"]
    got = _live(facts["one_task"]["states"][max(facts["one_task"]["states"])], cols)
    if kind == "row":
        want = oracle_final_duckdb(log)[cols]
    else:
        want = oracle_patch_final_spark(spark, log).select(*cols).toPandas()
    _assert_frames_equal(got, want)


def test_pipelined_replay_routes_agree(spark, smoke_log, tmp_path):
    """``replay_incremental(inflight=2)``: batches commit in either
    order, so only the final state is compared."""
    finals = {}
    for name in ROUTES:
        sink = SnapshotSink(
            spark, str(tmp_path / name), n_buckets=8, compact_threshold=2
        )
        with route(spark, name):
            metrics = replay_incremental(
                spark, smoke_log, sink, files_per_batch=1, inflight=2
            )
        assert {m["merge_plan"]["one_task"] for m in metrics} == {
            name == "one_task"
        }
        finals[name] = _by_key(sink.read_state())
    assert finals["one_task"] == finals["parallel"]
    cols = ["doc_id", "op_sequence", "tokens"]
    _assert_frames_equal(
        _live(finals["one_task"], cols), oracle_final_duckdb(smoke_log)[cols]
    )


def _live(state: dict, cols: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        [{c: r[c] for c in cols} for r in state.values() if not r["deleted"]]
    )


def _assert_frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    def norm(df):
        df = df.sort_values("doc_id").reset_index(drop=True)
        return df.assign(
            tokens=df["tokens"].map(lambda t: None if t is None else list(t))
        ).astype({"op_sequence": "int64"})

    got, want = norm(got), norm(want)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert got.to_dict("records") == want.to_dict("records")


# -------------------------------------------------------- plan shapes
def _small_batch(spark, tmp_path, name, seq0, keys):
    """A WAL-like parquet batch, read before any job is counted."""
    path = str(tmp_path / name)
    spark.createDataFrame(
        [("U", seq0 + i, f"k-{k:04d}", [seq0, k], 2, "s") for i, k in enumerate(keys)],
        ROW_SCHEMA,
    ).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _jobs_and_stages(spark, fn):
    out, job_ids = _job_ids(spark, fn)
    tracker = spark.sparkContext.statusTracker()
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in job_ids)
    return out, len(job_ids), stages


def test_small_append_is_one_job_one_stage(spark, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    df = _small_batch(spark, tmp_path, "b0", 0, range(200))
    m, n_jobs, n_stages = _jobs_and_stages(spark, lambda: sink.apply_batch(df, "b0"))
    assert m["merge_plan"]["one_task"]
    assert 0 < m["merge_plan"]["est_bytes"] <= m["merge_plan"]["threshold_bytes"]
    assert (n_jobs, n_stages) == (1, 1)
    # one file per touched bucket, as the parallel plan writes
    assert len(m["touched_buckets"]) == 8
    for entries in sink.current_snapshot()["buckets"].values():
        assert [len(e["file_ranges"]) for e in entries] == [1]


def test_small_compacting_batch_job_count(spark, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8, compact_threshold=2)
    for i in range(2):
        sink.apply_batch(_small_batch(spark, tmp_path, f"b{i}", 1000 * i, range(200)), f"b{i}")
    df = _small_batch(spark, tmp_path, "b2", 2000, range(0, 200, 3))
    m, n_jobs, _ = _jobs_and_stages(spark, lambda: sink.apply_batch(df, "b2"))
    assert m["merge_plan"]["one_task"] and m["compacted_buckets"]
    assert n_jobs <= 3


def test_threshold_off_keeps_the_parallel_plan(spark, tmp_path):
    """Broadcast off (-1) routes even a tiny batch to the bulk shape:
    the fold's and the bucket repartition's shuffles are separate
    stages."""
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    df = _small_batch(spark, tmp_path, "b0", 0, range(200))
    with route(spark, "parallel"):
        m, _, n_stages = _jobs_and_stages(spark, lambda: sink.apply_batch(df, "b0"))
    assert not m["merge_plan"]["one_task"]
    assert m["merge_plan"]["threshold_bytes"] == -1
    assert n_stages > 1


def test_merge_plan_is_recorded(spark, tmp_path):
    """The route and its reason land in the snapshot's metrics and in
    ``_metrics/commits.jsonl`` (``read_metrics``), on both routes; a
    batch of unknown size (a ``LogicalRDD``) stays parallel."""
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4)
    sink.apply_batch(_small_batch(spark, tmp_path, "b0", 0, range(50)), "b0")
    with route(spark, "parallel"):
        sink.apply_batch(_small_batch(spark, tmp_path, "b1", 100, range(50)), "b1")
    rdd_batch = spark.createDataFrame(
        [("U", 500, "k-0001", [1], 1, "s")],
        ROW_SCHEMA,
    )
    sink.apply_batch(rdd_batch, "b2")
    recorded = [m["merge_plan"] for m in sink.read_metrics()]
    assert [p["one_task"] for p in recorded] == [True, False, False]
    assert recorded[1]["threshold_bytes"] == -1
    assert recorded[2]["est_bytes"] > recorded[2]["threshold_bytes"] > 0
    assert sink.current_snapshot()["metrics"]["merge_plan"] == recorded[2]
    assert sink.snapshot(1)["metrics"]["merge_plan"] == recorded[0]
