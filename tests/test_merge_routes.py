"""Ingest's routes give the same table.

``SnapshotSink`` merges a batch whose merge input fits within
``spark.sql.execution.arrow.localRelationThreshold`` on a small-batch
route — for a row-LWW table the Arrow fold on the driver (``arrow``:
WAL files read by pyarrow through ``apply_wal``, or a DataFrame
collected with ``toArrow``), for a patch table one Spark task
(``one_task``) — and any other batch with the parallel plan (fold
shuffle, then ``repartition`` by bucket). These tests run the same batch sequence under the default
threshold and under ``0`` (every batch is parallel) and check that both
routes commit the same states, changelogs, manifests and lineage, and
that both equal independent oracles. They also pin the job and stage
counts of each shape, the ``merge_plan`` record of every commit, and
that the files written from Arrow are as compact as Spark's."""

import datetime
import decimal
import json
import os
import struct
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from beehive_data_etl_spark.sinks.snapshot import KEY, SEQ, SnapshotSink
from beehive_data_etl_spark.sources.arrow_fold import decoded_bytes
from beehive_data_etl_spark.sources.spark_datasource import register
from beehive_data_etl_spark.streaming.replay import _log_files, replay_incremental
from beehive_data_etl_spark.verify import (
    oracle_final_duckdb,
    oracle_patch_final_spark,
)
from test_serving_reads import ROW_SCHEMA, _job_ids

THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"
ROUTES = ["arrow", "parallel"]


@contextmanager
def route(spark, name):
    """Run the body with every small batch on ``name``'s merge plan."""
    prev = spark.conf.get(THRESHOLD)
    if name == "parallel":
        # Spark refuses -1 for this setting
        spark.conf.set(THRESHOLD, "0")
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
    """What a reader can see of the table: every version's state, the
    changelog of every window that does not span the tombstone-floor
    advance (delta diffs), and of the whole history, which does (a
    full-state diff)."""
    head = sink.current_snapshot()["version"]
    versions = range(1, head + 1)
    floors = {v: sink.snapshot(v).get("tombstone_floor", 0) for v in versions}
    advances = [v for v in versions[1:] if floors[v] != floors[v - 1]]
    windows = [
        (a, b) for a in versions for b in versions
        if a < b and not any(a < v <= b for v in advances)
    ]
    return {
        "states": {v: _by_key(sink.read_state(version=v)) for v in versions},
        "changes": {
            (a, b): _by_key(sink.read_changes(a, b))
            for a, b in windows + [(1, head)]
        },
        "manifests": _manifests(sink, metrics),
        "files_per_entry": {
            (v, b): [len(e["file_ranges"]) for e in entries]
            for v in versions
            for b, entries in sink.snapshot(v)["buckets"].items()
        },
        "lineage": [m["lineage"] for m in metrics],
    }


def _identity(df):
    return df


# (route, merge_plan input) per table kind: ``wal`` batches are routed
# by ``apply_wal`` on footer bytes, ``dataframe`` ones by
# ``apply_batch`` on Spark's estimate
_RUNS = {
    "row": [("arrow", "wal"), ("arrow", "dataframe"), ("parallel", "wal")],
    "patch": [("one_task", "dataframe"), ("parallel", "dataframe")],
}


@pytest.mark.parametrize("kind", ["row", "patch"])
def test_routes_commit_the_same_table(
    spark, evolution_log, patch_log, tmp_path, kind
):
    """I/U/D, duplicate deliveries, late events, a widened and an added
    column (the evolution log), or masked partial updates (the patch
    log), replayed into a salted, file-capped, lineage-tracking table.
    After two batches a tombstone floor below every later event is
    declared while rewriting bucket 0 only, so the third batch's inline
    compaction of the other buckets drops their expired tombstones."""
    log = evolution_log if kind == "row" else patch_log
    later = _log_files(log)[4:]
    floor = min(
        pq.read_table(f, columns=["op_sequence"])["op_sequence"].to_numpy().min()
        for f in later
    )
    facts = []
    for name, batch_input in _RUNS[kind]:
        # a transform makes the replay call apply_batch; on a patch
        # table apply_wal hands the batch to apply_batch by itself
        transform = _identity if (name, batch_input) == ("arrow", "dataframe") else None
        sink = SnapshotSink(
            spark, str(tmp_path / f"{name}-{batch_input}"), n_buckets=4,
            compact_threshold=2, salt_partials=4, target_file_rows=40,
            lineage=True, patch=kind == "patch",
        )
        with route(spark, name):
            metrics = replay_incremental(
                spark, log, sink, files_per_batch=2, max_batches=2,
                transform=transform,
            )
            sink.expire_tombstones(int(floor), buckets=[0])
            metrics += replay_incremental(
                spark, log, sink, files_per_batch=2, transform=transform,
            )[2:]
        assert len(metrics) == 4
        assert metrics[2]["compacted_buckets"] == [1, 2, 3]
        assert {
            (m["merge_plan"]["route"], m["merge_plan"]["input"]) for m in metrics
        } == {(name, batch_input)}
        facts.append(_table_facts(sink, metrics))
    # v3 advances the floor: (1, 5) spans it, the rest are delta diffs
    assert sorted(facts[-1]["changes"]) == [(1, 2), (1, 5), (3, 4), (3, 5), (4, 5)]
    assert all(f == facts[-1] for f in facts)

    cols = ["doc_id", "op_sequence", "tokens", "n_tok", "source"]
    got = _live(facts[0]["states"][max(facts[0]["states"])], cols)
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
        assert {m["merge_plan"]["route"] for m in metrics} == {name}
        finals[name] = _by_key(sink.read_state())
    assert finals["arrow"] == finals["parallel"]
    cols = ["doc_id", "op_sequence", "tokens"]
    _assert_frames_equal(
        _live(finals["arrow"], cols), oracle_final_duckdb(smoke_log)[cols]
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


# ------------------------------------------------------ typed round trip
_TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _typed_wal(path, rows, n_type) -> None:
    """One WAL file of (op, seq, key) rows with a payload column of each
    kind; ``n`` is ``n_type`` (int32 early in the log, int64 later)."""
    seqs = [s for _, s, _ in rows]
    pq.write_table(pa.table({
        "op": [op for op, _, _ in rows],
        "op_sequence": pa.array(seqs, pa.int64()),
        "doc_id": [f"k-{k:03d}" for _, _, k in rows],
        "n": pa.array([s % 1000 for s in seqs], n_type),
        "big": pa.array([s * 10_000_000_000 for s in seqs], pa.int64()),
        "score": pa.array([s / 7 + 0.5 for s in seqs], pa.float64()),
        "label": [f"v{s}" for s in seqs],
        "day": pa.array(
            [datetime.date(2024, 1, 1) + datetime.timedelta(days=s % 50) for s in seqs],
            pa.date32(),
        ),
        "at": pa.array(
            [_TS0 + datetime.timedelta(seconds=s) for s in seqs],
            pa.timestamp("us", tz="UTC"),
        ),
        "price": pa.array(
            [decimal.Decimal(s) / 100 for s in seqs], pa.decimal128(10, 2)
        ),
        "tokens": pa.array([[s, s + 1] for s in seqs], pa.list_(pa.int32())),
    }), path)


def _typed_log(root) -> str:
    """Five WAL files: inserts, updates with an in-batch same-seq
    duplicate and a delete, the column ``n`` widened to bigint, then a
    redelivery of an event the compaction already folded."""
    os.makedirs(root)
    ins = [("I", 100 + k, k) for k in range(40)]
    upd = [("U", 200 + k, k) for k in range(0, 40, 3)]
    files = [
        (ins[:20], pa.int32()),
        (ins[20:] + upd[:3] + upd[:1] + [("D", 250, 4)], pa.int32()),
        (upd[3:] + [("U", 300, 41)], pa.int64()),
        ([("U", 310 + k, k) for k in range(1, 40, 4)], pa.int64()),
        ([("U", 310 + 1, 1), ("I", 400, 42)], pa.int64()),
    ]
    for i, (rows, n_type) in enumerate(files):
        _typed_wal(os.path.join(root, f"part-{i:05d}.parquet"), rows, n_type)
    return root


def _entries(sink) -> dict:
    """Per version and bucket, the recorded footer stats of each entry
    (file names aside: they differ between writers)."""
    head = sink.current_snapshot()["version"]
    return {
        (v, b): [
            (e["key_range"], sorted((e["file_ranges"] or {}).values()),
             e["col_ranges"], e["compacted"])
            for e in entries
        ]
        for v in range(1, head + 1)
        for b, entries in sink.snapshot(v)["buckets"].items()
    }


def test_typed_round_trip(spark, tmp_path):
    """int, bigint, double, string, date, timestamp, decimal and
    array<int> payloads, with ``n`` widened mid-table, read back equal
    from both routes through every reader; same-seq duplicates fold to
    one row within a batch and against a compacted file."""
    log = _typed_log(str(tmp_path / "wal"))
    register(spark)
    seen = {}
    for name in ROUTES:
        sink = SnapshotSink(spark, str(tmp_path / name), n_buckets=4, compact_threshold=3)
        with route(spark, name):
            metrics = replay_incremental(spark, log, sink, files_per_batch=1)
        assert {m["merge_plan"]["route"] for m in metrics} == {name}
        assert metrics[3]["compacted_buckets"]
        head = sink.current_snapshot()["version"]
        keys = [f"k-{k:03d}" for k in (0, 1, 4, 41, 42, 99)]
        seen[name] = {
            "states": {v: _by_key(sink.read_state(version=v)) for v in range(1, head + 1)},
            "lookups": {k: _by_key(sink.lookup([k])) for k in keys},
            "changes": {v: _by_key(sink.read_changes(v - 1, v)) for v in range(2, head + 1)},
            "ds": _by_key(spark.read.format("beehive").load(sink.root)),
            "entries": _entries(sink),
            "schema": sink.current_snapshot()["schema"],
        }
    assert seen["arrow"] == seen["parallel"]
    got = seen["arrow"]
    assert "n bigint" in got["schema"]
    final = got["states"][max(got["states"])]
    assert len(final) == 42 and final["k-004"]["deleted"]
    assert final["k-001"]["op_sequence"] == 311
    assert final["k-042"]["price"] == decimal.Decimal("4.00")
    assert final["k-041"]["at"] == datetime.datetime(2024, 1, 1, 0, 5)
    assert got["lookups"]["k-042"]["k-042"]["tokens"] == [400, 401]
    assert not got["lookups"]["k-004"] and not got["lookups"]["k-099"]
    # the redelivered, already-compacted event changes nothing
    assert set(got["changes"][max(got["changes"])]) == {"k-042"}


# ------------------------------------------------------ key grouping
def _bits(k):
    """A float key as its stored bits (NaN != NaN, and -0.0 == 0.0)."""
    return None if k is None else struct.pack("<d", k).hex()


def test_float_and_null_keys_group_as_spark(spark, tmp_path):
    """-0.0 and 0.0 keys fold into one row stored as 0.0, NaNs of any
    payload into one canonical NaN, and NULL keys into one row, on
    every route — within a batch, across batches and through an inline
    compaction."""
    wal = tmp_path / "wal"
    wal.mkdir()
    odd_nan = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000123))[0]
    batches = [
        [("I", 1, 0.0), ("I", 2, -0.0), ("I", 3, float("nan")), ("I", 4, odd_nan),
         ("I", 5, None), ("I", 6, None), ("I", 7, 1.5)],
        [("U", 9, -0.0), ("U", 10, None), ("U", 11, odd_nan), ("U", 12, 2.5)],
        [("U", 13, 0.0), ("D", 14, None), ("U", 15, -0.0)],
    ]
    for i, rows in enumerate(batches):
        pq.write_table(pa.table({
            "op": [op for op, _, _ in rows],
            "op_sequence": pa.array([s for _, s, _ in rows], pa.int64()),
            "doc_id": pa.array([k for _, _, k in rows], pa.float64()),
            "v": [f"v{s}" for _, s, _ in rows],
        }), str(wal / f"part-{i:05d}.parquet"))
    register(spark)
    seen = {}
    for name, batch_input in _RUNS["row"]:
        transform = _identity if (name, batch_input) == ("arrow", "dataframe") else None
        sink = SnapshotSink(spark, str(tmp_path / f"{name}-{batch_input}"),
                            n_buckets=4, compact_threshold=2)
        with route(spark, name):
            metrics = replay_incremental(spark, str(wal), sink, files_per_batch=1,
                                         transform=transform)
        assert {(m["merge_plan"]["route"], m["merge_plan"]["input"]) for m in metrics} \
            == {(name, batch_input)}
        assert metrics[2]["compacted_buckets"]

        def keyed(rows):
            if not isinstance(rows, list):
                rows = [r.asDict() for r in rows.collect()]
            return sorted(
                ((_bits(r[KEY]), r.get(SEQ), r["v"], r.get("deleted", r.get("change_type")))
                 for r in rows),
                key=str,
            )

        seen[(name, batch_input)] = {
            # the key bits each entry's files hold
            "stored": {
                (b, i): keyed(pq.read_table(os.path.join(sink.root, e["path"])).to_pylist())
                for b, entries in sink.current_snapshot()["buckets"].items()
                for i, e in enumerate(entries)
            },
            "ds": keyed(spark.read.format("beehive").load(sink.root)),
            "states": [keyed(sink.read_state(version=v)) for v in (1, 2, 3)],
            "changes": [keyed(sink.read_changes(v - 1, v)) for v in (2, 3)],
        }
    assert all(s == seen[("parallel", "wal")] for s in seen.values())
    zero, nan = _bits(0.0), _bits(float("nan"))
    assert seen[("arrow", "wal")]["states"][-1] == sorted(
        [(zero, 15, "v15", False), (_bits(1.5), 7, "v7", False),
         (_bits(2.5), 12, "v12", False), (nan, 11, "v11", False),
         (None, 14, "v14", True)], key=str,
    )


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
    """A small DataFrame is collected by one job; the fold and the
    write run on the driver."""
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    df = _small_batch(spark, tmp_path, "b0", 0, range(200))
    m, n_jobs, n_stages = _jobs_and_stages(spark, lambda: sink.apply_batch(df, "b0"))
    assert m["merge_plan"]["route"] == "arrow"
    assert m["merge_plan"]["input"] == "dataframe"
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
    assert m["merge_plan"]["route"] == "arrow" and m["compacted_buckets"]
    assert n_jobs == 1


def test_replayed_small_batches_run_no_spark_job(spark, smoke_log, tmp_path):
    """``replay_incremental`` hands WAL paths to ``apply_wal``: a small
    append and a small compacting batch read, fold and write on the
    driver."""
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8, compact_threshold=2)
    ms, n_jobs, _ = _jobs_and_stages(
        spark, lambda: replay_incremental(spark, smoke_log, sink, files_per_batch=1)
    )
    assert [m["merge_plan"]["route"] for m in ms] == ["arrow"] * len(ms)
    assert {m["merge_plan"]["input"] for m in ms} == {"wal"}
    assert not ms[0]["compacted_buckets"] and ms[2]["compacted_buckets"]
    assert n_jobs == 0
    assert [m["lineage"]["input_files"] for m in ms] == [
        [os.path.basename(f)] for f in _log_files(smoke_log)
    ]


def test_threshold_off_keeps_the_parallel_plan(spark, tmp_path):
    """A threshold of 0 routes even a tiny batch to the bulk shape:
    the fold's and the bucket repartition's shuffles are separate
    stages."""
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=8)
    df = _small_batch(spark, tmp_path, "b0", 0, range(200))
    with route(spark, "parallel"):
        m, _, n_stages = _jobs_and_stages(spark, lambda: sink.apply_batch(df, "b0"))
    assert m["merge_plan"]["route"] == "parallel"
    assert m["merge_plan"]["threshold_bytes"] == 0
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
    assert [p["route"] for p in recorded] == ["arrow", "parallel", "parallel"]
    assert {p["input"] for p in recorded} == {"dataframe"}
    assert recorded[1]["threshold_bytes"] == 0
    # the collected table's real size rides the arrow route's record
    assert recorded[0]["arrow_bytes"] > 0
    assert not any("arrow_bytes" in p for p in recorded[1:])
    assert recorded[2]["est_bytes"] > recorded[2]["threshold_bytes"] > 0
    assert sink.current_snapshot()["metrics"]["merge_plan"] == recorded[2]
    assert sink.snapshot(1)["metrics"]["merge_plan"] == recorded[0]


def test_the_driver_size_rule_is_the_local_relation_threshold(
    spark, smoke_log, tmp_path
):
    """Ingest sizes a batch by the setting the driver reads use, not by
    the broadcast-join threshold: with the latter at 1 KiB, a WAL batch
    and a DataFrame batch far over it still fold on the driver."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        wal, frame = (
            SnapshotSink(spark, str(tmp_path / name), n_buckets=4)
            for name in ("wal", "frame")
        )
        files = _log_files(smoke_log)[:2]
        plans = [
            wal.apply_wal(files, "b0")["merge_plan"],
            frame.apply_batch(spark.read.parquet(*files), "b0")["merge_plan"],
        ]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    limit = wal._sql_conf.arrowLocalRelationThreshold()
    for plan, batch_input in zip(plans, ["wal", "dataframe"]):
        assert plan["route"] == "arrow" and plan["input"] == batch_input, plan
        assert 1024 < plan["est_bytes"] <= plan["threshold_bytes"] == limit, plan


def test_a_dataframe_is_sized_by_its_files_arrow_bytes(spark, tmp_path):
    """Spark estimates a parquet scan by its compressed bytes and a
    token list at a default size; the driver rule also weighs the
    files' Arrow size, so a token-heavy batch Spark estimates under
    the threshold but that is really over it keeps the parallel plan."""
    path = str(tmp_path / "b0")
    spark.createDataFrame(
        [("U", i, f"k-{i:04d}", list(range(500)), 500, "s") for i in range(200)],
        ROW_SCHEMA,
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    limit = 4 * est
    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    assert decoded_bytes(files) > limit
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4)
    prev = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(limit))
    try:
        plan = sink.apply_batch(df, "b0")["merge_plan"]
    finally:
        spark.conf.set(THRESHOLD, prev)
    assert plan["route"] == "parallel", plan
    assert plan["est_bytes"] > plan["threshold_bytes"] == limit, plan


def _files(root) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(os.path.join(root, "data"))
        for f in names if f.endswith(".parquet")
    )


def _encodings(path, column) -> set:
    md = pq.read_metadata(path)
    leaf = next(
        i for i in range(md.num_columns)
        if md.schema.column(i).path == column
    )
    return {
        e for g in range(md.num_row_groups)
        for e in md.row_group(g).column(leaf).encodings
    }


def test_arrow_written_files_are_as_compact_as_sparks(spark, smoke_log, tmp_path):
    """The same token batch applied on each route: the files written
    from Arrow (the driver route and the ``beehive`` Data Source
    writer) keep a dictionary on the low-cardinality ``source`` column
    but not on the token list, and the driver route's table is within
    5% of the parallel route's bytes. The Data Source writer gets its
    rows one per Arrow batch: a file's encoding must not hang on the
    rows of the batch that opened it."""
    files = _log_files(smoke_log)[:4]
    sizes = {}
    for name in ROUTES:
        sink = SnapshotSink(spark, str(tmp_path / name), n_buckets=2)
        with route(spark, name):
            assert sink.apply_wal(files, "b0")["merge_plan"]["route"] == name
        sizes[name] = sum(os.path.getsize(f) for f in _files(sink.root))
    register(spark)
    ds_root = str(tmp_path / "ds")
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        spark.read.parquet(files[0]).write.format("beehive").option(
            "batchId", "b0"
        ).option("nBuckets", "2").mode("append").save(ds_root)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    for f in _files(str(tmp_path / "arrow")) + _files(ds_root):
        assert "RLE_DICTIONARY" not in _encodings(f, "tokens.list.element"), f
        assert "RLE_DICTIONARY" in _encodings(f, "source"), f
    assert sizes["arrow"] <= 1.05 * sizes["parallel"], sizes
