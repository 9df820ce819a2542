"""SnapshotSink.lookup(): the point-read serving path. Pins the three
prunes (bucket subset, parquet pushdown, key-sorted compaction files)
and equivalence with the full-state read."""

import io
import re
import shutil
from contextlib import redirect_stdout

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import KEY, SnapshotSink, _bucket_expr
from beehive_data_etl_spark.sources.arrow_fold import _bucket_files
from beehive_data_etl_spark.sources.eventlog import generate_event_log
from beehive_data_etl_spark.streaming.replay import replay_incremental


@pytest.fixture(scope="module")
def sink(spark, tmp_path_factory):
    log = generate_event_log(
        str(tmp_path_factory.mktemp("lk_log")), n_docs=200, n_events=2000, n_files=6
    )
    root = str(tmp_path_factory.mktemp("lk_sink"))
    shutil.rmtree(root, ignore_errors=True)
    s = SnapshotSink(spark, root, n_buckets=8)
    replay_incremental(spark, log, s, files_per_batch=2)
    return s


def test_lookup_equals_full_read(spark, sink):
    final = sink.read_final().toPandas().set_index(KEY)
    live = sorted(final.index)[:5]
    out = sink.lookup(live).toPandas().set_index(KEY)
    assert sorted(out.index) == sorted(live)
    for i in live:
        assert list(out.loc[i, "tokens"]) == list(final.loc[i, "tokens"])
        for col in final.columns:
            a, b = out.loc[i, col], final.loc[i, col]
            assert (list(a) == list(b)) if hasattr(a, "__len__") and not isinstance(a, str) else a == b


def test_lookup_tombstoned_and_unknown_keys_absent(spark, sink):
    state = sink.read_state().toPandas()
    dead = state[state["deleted"]][KEY].tolist()
    live = state[~state["deleted"]][KEY].tolist()[:2]
    assert dead, "fixture should contain at least one delete"
    out = sink.lookup(dead[:2] + live + ["doc-nonexistent"]).toPandas()
    assert sorted(out[KEY]) == sorted(live)


def _bucket_of(sink, key):
    """The bucket Spark's own hash expression puts ``key`` in."""
    return (
        sink.read_final()
        .filter(F.col(KEY) == key)
        .select(_bucket_expr(sink.n_buckets).alias("b"))
        .collect()[0]
        .b
    )


def _spread(sink, k):
    """``k`` live keys in ``k`` different buckets (Spark's hash): a
    probe the Spark fold answers."""
    rows = (
        sink.read_final()
        .select(KEY, _bucket_expr(sink.n_buckets).alias("b"))
        .dropDuplicates(["b"])
        .limit(k)
        .collect()
    )
    assert len(rows) == k
    return [r[KEY] for r in rows]


def test_lookup_reads_only_probed_buckets(spark, sink):
    live = sink.read_final().select(KEY).limit(1).collect()[0][0]
    bucket = _bucket_of(sink, live)
    # a one-bucket probe is planned on the driver: its file set
    files = _bucket_files(sink.root, sink.current_snapshot(), bucket, [live])
    assert files
    assert all(f"bucket={bucket}/" in f for f in files), files
    # a multi-bucket probe's Spark scan reads no file of any OTHER bucket
    probe = _spread(sink, 2)
    buckets = {_bucket_of(sink, k) for k in probe}
    files = sink.lookup(probe).inputFiles()
    assert files
    other = [f for f in files if re.search(r"bucket=(\d+)", f)
             and int(re.search(r"bucket=(\d+)", f).group(1)) not in buckets]
    assert other == []


def test_lookup_filter_reaches_parquet_scan(spark, sink):
    live = _spread(sink, 3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        sink.lookup(live).explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "doc_id" in m.group(1), plan[:2000]


def test_compacted_files_are_key_sorted(spark, sink):
    sink.compact()
    snap = sink.current_snapshot()
    checked = 0
    for entries in snap["buckets"].values():
        for ent in entries:
            if not ent.get("compacted"):
                continue
            import os

            d = os.path.join(sink.root, ent["path"])
            for fname in os.listdir(d):
                if not fname.endswith(".parquet"):
                    continue
                col = pq.read_table(os.path.join(d, fname), columns=[KEY])[KEY]
                vals = col.to_pylist()
                assert vals == sorted(vals), f"{fname} not key-sorted"
                checked += 1
    assert checked > 0
    # lookups still exact after the sorted rewrite
    live = [r[0] for r in sink.read_final().select(KEY).limit(3).collect()]
    assert sink.lookup(live).count() == len(live)


def test_lookup_time_travel(spark, sink):
    v_now = sink.current_snapshot()["version"]
    live = [r[0] for r in sink.read_final().select(KEY).limit(2).collect()]
    a = sink.lookup(live, version=v_now).toPandas().sort_values(KEY)
    b = sink.lookup(live).toPandas().sort_values(KEY)
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_lookup_empty_ids_rejected(spark, sink):
    with pytest.raises(ValueError):
        sink.lookup([])


def test_lookup_wrong_typed_probe_never_ansi_crashes(spark, sink):
    # the probe DataFrame is the type gate: a wrong-typed probe id is
    # either rejected driver-side or coerced to the key type BEFORE the
    # IN filter, so the scan can never hit an ANSI cast error (the
    # failure mode of filtering with a mixed-type isin list directly)
    try:
        out = sink.lookup([12345]).count()
    except Exception as e:  # clean driver-side rejection is acceptable
        assert "CAST_INVALID_INPUT" not in str(e)
    else:
        assert out == 0  # coerced probe simply misses
