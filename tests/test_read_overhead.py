"""The fixed per-call cost of the sink's driver reads and small writes:

- a table's schema string is parsed by the JVM once per process
  (``parse_schema``), so a repeated ``lookup``, ``read_changes`` or
  ``apply_wal`` on an unchanged schema parses nothing, and what
  ``parse_schema`` returns is the caller's own;
- the Arrow fold opens each parquet file once per call: a driver
  lookup once per file it reads, a driver changelog once per distinct
  file of its FROM and TO versions, and ``apply_wal`` reads each WAL
  file of a driver batch once;
- a first-attempt ingest never gathers the retained paths of tagged
  and branch snapshots (``_referenced_paths``), which only a
  crash-replay or a re-delivered batch needs."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink, bucket_of, parse_schema
from beehive_data_etl_spark.sources.arrow_fold import _bucket_files, window_partitions
from beehive_data_etl_spark.sources.eventlog import generate_event_log
from beehive_data_etl_spark.streaming.replay import _log_files


@pytest.fixture
def jvm_calls(spark, monkeypatch):
    """The names of the JVM methods the driver calls while the test
    runs, one entry per py4j call command."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    calls: list[str] = []

    def send_command(command, *args, **kwargs):
        if command.startswith("c\n"):
            calls.append(command.split("\n")[2])
        return real(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", send_command)
    return calls


@pytest.fixture
def parquet_opens(monkeypatch):
    """Paths of every ``pq.ParquetFile`` the engine constructs and
    every ``pq.read_table`` it calls while the test runs. Footer-only
    reads (``pq.read_metadata``, the size checks) are not counted."""
    opened: list[str] = []
    real = pq.ParquetFile
    real_read = pq.read_table

    class Counting(real):
        def __init__(self, source, *args, **kwargs):
            opened.append(source)
            super().__init__(source, *args, **kwargs)

    def read_table(source, *args, **kwargs):
        opened.append(source)
        return real_read(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Counting)
    monkeypatch.setattr(pq, "read_table", read_table)
    return opened


@pytest.fixture
def table(spark, smoke_log, tmp_path):
    """A 4-bucket row-LWW table fed three WAL files, one batch each,
    and the unused WAL files."""
    wal = _log_files(smoke_log)
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4, compact_threshold=3)
    for i, f in enumerate(wal[:3]):
        s.apply_wal([f], f"b{i}")
    return s, wal[3:]


def _live_key(s):
    return s.read_final().limit(1).collect()[0]["doc_id"]


def test_repeated_ops_parse_no_ddl(spark, table, jvm_calls):
    s, wal = table
    key = _live_key(s)
    v = s.current_snapshot()["version"]
    s.lookup([key]).collect()
    s.read_changes(v - 1, v).collect()
    s.apply_wal([wal[0]], "warm")
    jvm_calls.clear()
    s.lookup([key]).collect()
    s.read_changes(v, v + 1).collect()
    s.apply_wal([wal[1]], "again")
    assert "ddlToJson" not in jvm_calls, jvm_calls
    # the driver lookup hands its rows over in three JVM calls
    jvm_calls.clear()
    s.lookup([key])
    assert jvm_calls == [
        "arrowUseLargeVarTypes", "readArrowStreamFromFile", "toDataFrame",
    ], jvm_calls


def test_parse_schema_returns_a_private_copy(spark):
    ddl = "doc_id string, n int, tags array<string>"
    first = parse_schema(ddl)
    first.add("extra", T.LongType())
    first.fields[0].name = "renamed"
    again = parse_schema(ddl)
    assert again == T.StructType.fromDDL(ddl)
    assert again.fieldNames() == ["doc_id", "n", "tags"]
    assert again is not parse_schema(ddl)


def test_driver_lookup_opens_each_file_once(spark, table, parquet_opens):
    s, _ = table
    key = _live_key(s)
    snap = s.current_snapshot()
    bucket = bucket_of(key, snap["n_buckets"])
    files = _bucket_files(s.root, snap, bucket, [key])
    assert len(files) > 1, files  # three deltas, not yet compacted
    parquet_opens.clear()
    assert len(s.lookup([key]).collect()) == 1
    assert sorted(parquet_opens) == sorted(files)


def test_driver_changelog_opens_each_file_once(spark, table, parquet_opens):
    s, _ = table
    v = s.current_snapshot()["version"]
    parts = window_partitions(s.root, s.snapshot(v - 1), s.snapshot(v))
    distinct = {f for p in parts for f in p.new_files + p.old_files}
    added = [f for p in parts for f in p.added_files]
    assert len(distinct) > len(added)
    parquet_opens.clear()
    assert s.read_changes(v - 1, v).count() > 0
    assert sorted(parquet_opens) == sorted(distinct)


def test_driver_ingest_reads_each_wal_file_once(spark, tmp_path, parquet_opens):
    """A 20-file batch (the serve prebuild's shape) folds on the
    driver, reading each WAL file whole once; the fresh table has no
    bucket to compact, so nothing else is opened."""
    log = generate_event_log(
        str(tmp_path / "wal"), n_docs=200, n_events=2000, n_files=20
    )
    wal = _log_files(log)
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4)
    parquet_opens.clear()
    m = s.apply_wal(wal, "b0")
    assert m["merge_plan"]["route"] == "arrow", m["merge_plan"]
    assert sorted(parquet_opens) == sorted(wal)


def test_first_attempt_ingest_skips_retained_paths(spark, table, monkeypatch):
    s, wal = table
    s.tag("pinned")
    calls = []
    real = s._referenced_paths
    monkeypatch.setattr(
        s, "_referenced_paths", lambda snap: calls.append(1) or real(snap)
    )
    m = s.apply_wal([wal[0]], "fresh")
    assert m["merge_plan"]["route"] == "arrow", m["merge_plan"]
    assert calls == []
