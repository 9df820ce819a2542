"""Outbound CDC: publish the table's own changelog as change events
(SURVEY.md §2 A1/A12 extension — the engine as a CDC *producer*).

``Replicator`` fans out to another instance of this engine;
``Outbox`` fans out to everything else: it serializes each changelog
window into Kafka-producer-shaped records — ``key`` = doc_id bytes,
``value`` = the JSON envelope ``sources/json_envelope.py`` parses,
plus synthesized ``(topic, partition, offset, timestamp)`` — so any
downstream CDC consumer (including this engine's own
``sources/kafka.py`` adapter, which closes the loop end-to-end in the
tests) can tail this table without reading its storage format.

Design points:

- **Window discipline is Replicator's**: windows are (cursor, head]
  over ``read_changes_pruned`` (O(changed rows), one full image per
  key per window), the initial window is the full state INCLUDING
  delete tombstones (the bootstrap invariant), rewrite-only windows
  publish zero records but still advance the cursor, and windows
  spanning a rollback / backfill / purge / column alter are REFUSED
  with operator guidance — no forward event can express them (see
  ``sinks/replicate.py`` for the per-case arguments). Retention tags
  (``outbox-<name>`` / ``-next``) pin the source files each next diff
  needs, crash-safely.
- **The file transport is exactly-once by determinism.** Each window
  writes one overwrite-mode parquet dir named by its version span; the
  cursor (a pointer JSON, atomically swapped AFTER the write) only
  advances when the write completed, so a crashed publish re-runs the
  SAME window into the SAME path with the SAME offsets — nothing
  duplicates. A real Kafka producer is at-least-once without
  transactions; consumers are covered either way because the envelope
  carries the true ``op_sequence`` (re-deliveries lose LWW
  idempotently — our own sink's semantics, and any CDC consumer's
  contract).
- **Offsets simulate a key-partitioned topic faithfully**: partition =
  hash(doc_id) mod n_partitions (all events of a key in one partition
  — Kafka's CDC topic contract), offsets strictly increasing per
  partition across windows (per-partition next-offset rides the
  pointer). Within a window each key has ONE image, so per-partition
  offset order is a valid LWW clock — ``kafka_envelope``'s
  offset-clock mode consumes it correctly.
- **Tombstone styles**: ``tombstones='envelope'`` (default) emits
  op='D' envelopes carrying the delete's true op_sequence — required
  for embedded-sequence consumers (a late out-of-order update must
  LOSE to the delete, which needs the delete's clock). ``'null'``
  emits Kafka log-compaction native null-value records; sound ONLY
  for offset-clock consumers (the null value carries no sequence), so
  pick it when the topic is compacted and consumed by offset.
- **Patch-mode sources are refused**: a per-cell table can change
  state without advancing the row clock, and the flat envelope has no
  cell seqs — an outbox consumer would silently diverge on late
  patches (the same argument as Replicator's patch→row refusal; use a
  patch-mode Replicator for engine-to-engine fan-out instead).

Cluster path: ``kafka_producer_records`` is the same projection
without the synthesized broker columns — ``(key, value, topic)``, the
exact schema ``df.write.format("kafka")`` takes; ``write_kafka_batch``
is the thin gated writer (the Kafka package is absent in this
sandbox, same pattern as ``read_kafka_stream``).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sources import table_meta as tm

_INTERNAL = {"change_type", "deleted", "op", "op_sequence", "doc_id"}


def _envelope_value(df: DataFrame) -> DataFrame:
    """(key, value) columns: doc_id bytes + canonical JSON envelope.
    Payload columns ride alongside the op/op_sequence/doc_id header —
    the same shape ``parse_json_envelope`` lifts back out."""
    payload = [
        c for c in df.columns if c not in _INTERNAL and not c.startswith("_old_")
    ]
    env = F.to_json(F.struct("op", "op_sequence", "doc_id", *payload))
    return df.select(
        F.encode(F.col("doc_id"), "UTF-8").alias("key"),
        F.encode(env, "UTF-8").alias("value"),
        F.col("op"),
        F.col("doc_id"),
        F.col("op_sequence"),
        *[F.col(c) for c in payload if c == "event_ts"],
    )


def kafka_producer_records(
    changes: DataFrame, topic: str
) -> DataFrame:
    """Changelog rows (``change_type`` + full images) → the exact
    ``(key, value, topic)`` schema Spark's Kafka SINK writes. One
    declarative projection, no UDFs."""
    df = changes.withColumn(
        "op",
        F.when(F.col("change_type") == "D", F.lit("D")).otherwise(F.lit("U")),
    ).drop("change_type")
    out = _envelope_value(df)
    return out.select("key", "value", F.lit(topic).alias("topic"))


def write_kafka_batch(records: DataFrame, bootstrap_servers: str) -> None:
    """Publish producer records to a real broker — requires the
    spark-sql-kafka package on the classpath (absent in this sandbox;
    the file Outbox below is the testable twin)."""
    try:
        (
            records.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .save()
        )
    except Exception as e:  # pragma: no cover - broker-less sandbox
        if "kafka" in str(e).lower() or "Failed to find" in str(e):
            raise RuntimeError(
                "Kafka sink requires --packages org.apache.spark:"
                "spark-sql-kafka-0-10_2.13:<spark-version> on the "
                "classpath; in this sandbox use Outbox (file transport)"
            ) from e
        raise


class Outbox:
    def __init__(
        self,
        src: SnapshotSink,
        out_dir: str,
        name: str = "outbox",
        n_partitions: int = 8,
        tombstones: str = "envelope",
        where: list[tuple] | None = None,
    ) -> None:
        if not re.fullmatch(r"[A-Za-z0-9_.]+", name):
            raise ValueError(f"outbox name must be [A-Za-z0-9_.]+, got {name!r}")
        if tombstones not in ("envelope", "null"):
            raise ValueError("tombstones must be 'envelope' or 'null'")
        if getattr(src, "patch", False):
            raise TypeError(
                "a patch-mode table cannot publish through the flat "
                "envelope: late out-of-order patches change state "
                "without advancing the row op_sequence, which consumers "
                "have no clock to order. Use a patch-mode Replicator "
                "for engine-to-engine fan-out."
            )
        if n_partitions < 1:
            raise ValueError("n_partitions must be >= 1")
        self.where = None
        if where is not None:
            # filtered subscription: consumers receive the predicate-
            # scoped feed with the SAME membership-transition semantics
            # as filtered replication (a row leaving the predicate is a
            # genuine D at the evicting row's seq — see
            # replicate.filtered_window_env). Patch sources are already
            # refused above, for the same clock reason.
            self.where = SnapshotSink._check_scan_predicates(where)
        self.src = src
        self.spark = src.spark
        self.out_dir = out_dir
        self.name = name
        self.n_partitions = n_partitions
        self.tombstones = tombstones
        os.makedirs(out_dir, exist_ok=True)
        self._ptr = tm.Pointer(os.path.join(out_dir, f"_{name}.json"))

    # ------------------------------------------------------------ pointer
    def _pointer(self) -> dict:
        return self._ptr.read() or {"cursor": 0, "next_offsets": {}}

    def cursor(self) -> int:
        return self._pointer()["cursor"]

    # --------------------------------------------------------------- sync
    def sync(self, to_version: int | str | None = None) -> dict:
        """Publish one window (cursor, to]; returns {published, from,
        to, path} or a skip record. Crash-safe: the pointer only moves
        after the window dir is fully written, and a re-run rewrites
        the same dir with the same offsets."""
        head = self.src.current_snapshot()
        if head is None:
            return {"skipped": True, "reason": "source has no snapshot"}
        to = (
            head["version"]
            if to_version is None
            else self.src.resolve_ref(to_version)
        )
        ptr = self._pointer()
        frm = ptr["cursor"]
        if to <= frm:
            return {"skipped": True, "from": frm, "to": to}
        # outbox consumers are replicas: same window classes (see
        # sinks/replicate.py for the per-case arguments)
        w = tm.classify_window(
            tm.REPLICA, frm, self.src.snapshot(to), self.src.snapshot
        )
        if w.action == tm.REFUSE:
            raise RuntimeError(
                f"upstream {w.marker} at v{w.version} inside outbox window "
                f"({frm}, {to}]: no forward change event can express it "
                f"(see sinks/replicate.py). Publish up to v{w.version - 1} "
                "first, reconcile every consumer out of band, then "
                f"mark_synced({w.version})."
            )

        if frm == 0:
            state = self.src.read_state(version=to)
            if self.where is not None:
                from beehive_data_etl_spark.sinks.replicate import (
                    predicate_expr,
                )

                state = state.filter(
                    F.col("deleted") | predicate_expr(self.where)
                )
            df = state.withColumn(
                "op", F.when(F.col("deleted"), F.lit("D")).otherwise(F.lit("U"))
            ).drop("deleted")
        elif self.where is not None:
            from beehive_data_etl_spark.sinks.replicate import (
                filtered_window_env,
            )

            df = filtered_window_env(self.src, self.where, frm, to)
        else:
            changes = self.src.read_changes_pruned(frm, to)
            df = changes.withColumn(
                "op",
                F.when(F.col("change_type") == "D", F.lit("D")).otherwise(
                    F.lit("U")
                ),
            ).drop("change_type", "deleted")

        # pin TO before publishing (Replicator's retention discipline)
        self.src.move_tag(f"outbox-{self.name}-next", to)

        recs = _envelope_value(df)
        if self.tombstones == "null":
            # Kafka log-compaction native deletes: value NULL, key set.
            # Offset-clock consumers only (module docstring).
            recs = recs.withColumn(
                "value", F.when(F.col("op") == "D", F.lit(None)).otherwise(
                    F.col("value")
                )
            )
        recs = recs.withColumn(
            "partition",
            F.pmod(F.xxhash64("doc_id"), F.lit(self.n_partitions)).cast("int"),
        )
        # offsets: stored per-partition base + deterministic rank within
        # the window (one image per key per window, so (doc_id) orders
        # it totally); strictly increasing across windows per partition
        w = Window.partitionBy("partition").orderBy("doc_id")
        if ptr["next_offsets"]:
            base_map = F.create_map(
                *[
                    x
                    for p, nxt in sorted(ptr["next_offsets"].items())
                    for x in (F.lit(int(p)), F.lit(int(nxt)))
                ]
            )
            base = F.coalesce(base_map[F.col("partition")], F.lit(0))
        else:
            base = F.lit(0)
        recs = recs.withColumn(
            "offset",
            (base + F.row_number().over(w) - F.lit(1)).cast("long"),
        ).select(
            "key",
            "value",
            F.lit(self.name).alias("topic"),
            "partition",
            "offset",
            (
                F.coalesce(
                    F.col("event_ts"), F.lit("1970-01-01").cast("timestamp")
                )
                if "event_ts" in recs.columns
                else F.lit("1970-01-01").cast("timestamp")
            ).alias("timestamp"),
            F.lit(0).alias("timestampType"),
        )

        path = os.path.join(self.out_dir, f"{self.name}-v{frm:06d}-v{to:06d}")
        recs.write.mode("overwrite").parquet(path)

        # advance per-partition offsets from what was actually written
        # (driver-side footer counts would also do; one tiny job)
        import pyarrow.parquet as pq

        counts: dict[str, int] = dict(ptr["next_offsets"])
        published = 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            tb = pq.read_table(os.path.join(path, f), columns=["partition"])
            for p in tb.column(0).to_pylist():
                counts[str(p)] = counts.get(str(p), 0) + 1
                published += 1
        self._ptr.commit({"cursor": to, "next_offsets": counts})
        self._advance_retention_tag(to)
        return {"published": published, "from": frm, "to": to, "path": path}

    def mark_synced(self, to_version: int | str) -> dict:
        """Advance the cursor past a window reconciled out of band
        (the operator ran the corresponding alter/purge on every
        consumer). Publishes nothing."""
        to = self.src.resolve_ref(to_version)
        ptr = self._pointer()
        if to <= ptr["cursor"]:
            return {"skipped": True, "from": ptr["cursor"], "to": to}
        self._ptr.commit({**ptr, "cursor": to})
        self._advance_retention_tag(to)
        return {"marked": to}

    def _advance_retention_tag(self, to: int) -> None:
        self.src.move_tag(f"outbox-{self.name}", to)
        try:
            self.src.drop_tag(f"outbox-{self.name}-next")
        except KeyError:
            pass
