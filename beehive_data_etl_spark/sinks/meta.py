"""Queryable metadata tables — Iceberg's ``table.files`` /
``table.snapshots`` / ``table.refs`` analogue for SnapshotSink tables.

``table_report`` (sinks/health.py) is the opinionated advisor ("pull
this lever"); these are the raw, ad-hoc-SQL surface the operator uses
to answer questions the advisor didn't anticipate:

    register_meta_views(spark, sink, prefix="t")
    spark.sql("SELECT bucket, count(*) AS deltas, sum(n_files) FROM t_files "
              "WHERE NOT compacted GROUP BY bucket ORDER BY deltas DESC")
    spark.sql("SELECT version, operation, committed_at FROM t_snapshots "
              "WHERE operation <> 'append' ORDER BY version")

Everything is built driver-side from snapshot JSONs — no data-file
reads, no Spark jobs beyond the trivial local-relation plan. Costs, so
nobody points this at the wrong scale: ``files``/``tags``/``batches``
are O(current entries / tags / committed window) — bounded by
compaction and trim_committed_batches at steady state; ``snapshots``
is O(readable versions), i.e. the span expire_snapshots keeps (plus
tagged pins) — NOT the table's full 10^10-event history, which is
exactly why the snapshots table composes with expire rather than
fighting it.

The DataFrames are plain rows, so every Spark verb works: join
``files`` against ``snapshots`` on version, anti-join ``batches``
against an upstream ledger for delivery audits, etc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_FILES_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("path", T.StringType()),
        T.StructField("compacted", T.BooleanType()),
        T.StructField("batch_id", T.StringType()),
        T.StructField("n_files", T.IntegerType()),
        T.StructField("key_min", T.StringType()),
        T.StructField("key_max", T.StringType()),
        T.StructField("zorder", T.BooleanType()),
        T.StructField("schema", T.StringType()),
    ]
)

_SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("parent", T.LongType()),
        T.StructField("committed_at", T.DoubleType()),
        T.StructField("operation", T.StringType()),
        T.StructField("batch_id", T.StringType()),
        T.StructField("n_buckets", T.IntegerType()),
        T.StructField("schema_version", T.LongType()),
        T.StructField("n_committed_batches", T.LongType()),
        T.StructField("tombstone_floor", T.LongType()),
        T.StructField("snapshot_floor", T.LongType()),
        T.StructField("wall_s", T.DoubleType()),
    ]
)

_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("version", T.LongType()),
    ]
)

_BATCHES_SCHEMA = T.StructType(
    [
        T.StructField("position", T.LongType()),
        T.StructField("batch_id", T.StringType()),
    ]
)

# markers the commit paths actually record in snapshot metrics (the
# same keys table_meta.classify_window keys on, plus the rewrite
# family's op_label) — a snapshot carrying none is a plain
# ingest append/merge
_OPERATIONS = (
    "rollback_to",
    "backfill",
    "purge",
    "drop_column",
    "rename_column",
    "rebucket",
    "expire_snapshots",
    "trim_committed",
    "compaction",
)


def _operation(metrics: dict) -> str:
    for m in _OPERATIONS:
        if m in metrics:
            return m
    return "append"


def meta_table(sink, kind: str, version=None) -> DataFrame:
    """One of ``files`` / ``snapshots`` / ``tags`` / ``batches`` as a
    DataFrame, at the current (default) or a time-travel ``version``
    (version number or tag; applies to ``files``/``batches`` — the
    other two are table-level)."""
    spark = sink.spark
    if kind in ("files", "batches"):
        # explicit versions must exist (raises like every time-travel
        # entry point); a fresh table with no snapshot yet reads as
        # EMPTY typed tables so dashboards can register before ingest
        snap = (
            sink.current_snapshot()
            if version is None
            else sink.snapshot(version)
        )
        if snap is None:
            snap = {"buckets": {}, "committed_batches": []}
    if kind == "files":
        import os

        rows = []
        for b_str, entries in sorted(
            snap["buckets"].items(), key=lambda kv: int(kv[0])
        ):
            for e in entries:
                kr = e.get("key_range") or (None, None)
                # file_ranges is absent whenever any footer lacked key
                # stats, so it UNDERCOUNTS multi-file entries; list the
                # entry dir instead (driver-side, same O(entries) cost
                # class as the rest of the build)
                path = os.path.join(sink.root, e["path"])
                try:
                    n_files = sum(
                        1
                        for _, _, names in os.walk(path)
                        for n in names
                        if n.endswith(".parquet")
                    ) or 1
                except OSError:
                    n_files = max(1, len(e.get("file_ranges") or {}))
                rows.append(
                    (
                        int(b_str),
                        e["path"],
                        bool(e.get("compacted")),
                        e.get("batch_id"),
                        n_files,
                        kr[0],
                        kr[1],
                        bool(e.get("zorder")),
                        e.get("schema"),
                    )
                )
        return spark.createDataFrame(rows, _FILES_SCHEMA)
    if kind == "snapshots":
        head = sink.current_snapshot()
        if head is None:
            return spark.createDataFrame([], _SNAPSHOTS_SCHEMA)
        floor = head.get("snapshot_floor", 1)
        # tag-pinned versions below the floor keep their JSONs through
        # expire_snapshots — include them, so `tags JOIN snapshots` on
        # version never drops an audit pin
        versions = sorted(
            set(range(floor, head["version"] + 1))
            | {v for v in sink.tags().values() if v < floor}
        )
        rows = []
        for v in versions:
            try:
                s = sink.snapshot(v)
            except (FileNotFoundError, ValueError):
                # concurrent expire_snapshots retired it between the
                # floor read and this load — skip rather than fail the
                # whole (still consistent) build
                continue
            m = s.get("metrics", {})
            rows.append(
                (
                    s["version"],
                    s.get("parent"),
                    sink.commit_time(v),
                    _operation(m),
                    m.get("batch_id"),
                    s.get("n_buckets"),
                    s.get("schema_version", 0),
                    len(s.get("committed_batches", [])),
                    s.get("tombstone_floor", 0),
                    s.get("snapshot_floor", 1),
                    m.get("wall_s"),
                )
            )
        return spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)
    if kind == "tags":
        return spark.createDataFrame(
            sorted(sink.tags().items()), _TAGS_SCHEMA
        )
    if kind == "batches":
        rows = list(enumerate(snap.get("committed_batches", [])))
        return spark.createDataFrame(rows, _BATCHES_SCHEMA)
    raise ValueError(
        f"unknown metadata table {kind!r}; "
        "available: files, snapshots, tags, batches"
    )


def register_meta_views(spark, sink, prefix: str = "beehive") -> list[str]:
    """Register all four as temp views ``<prefix>_files`` etc. for SQL.
    Views snapshot the metadata AT REGISTRATION (local relations, like
    Iceberg's metadata tables resolved at plan time) — re-register
    after commits you want visible."""
    names = []
    for kind in ("files", "snapshots", "tags", "batches"):
        name = f"{prefix}_{kind}"
        meta_table(sink, kind).createOrReplaceTempView(name)
        names.append(name)
    return names
