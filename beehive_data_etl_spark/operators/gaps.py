"""Source-integrity monitoring for the WAL/binlog tail (SURVEY.md §2
A1/A2 extension — the check the transport layer owes the sink).

LWW replication is silently tolerant of LOST change events: a replica
that never saw an update simply keeps the older winner, and nothing
downstream can tell "no change happened" from "the change was dropped".
Detection therefore has to happen at the transport layer, where loss is
visible: a binlog/WAL assigns strictly-increasing sequence numbers (its
LSN; per Kafka topic-partition, the offset), so missed events are
exactly the HOLES in that sequence and re-deliveries are the
duplicates. Three tools, smallest-plan-first:

- ``sequence_gap_summary`` — per-group counts (events, distinct,
  duplicates, span, missing): ONE aggregation over the log, map-side
  combined. ``exact=False`` swaps the exact distinct (an expand at
  10^10 rows) for ``approx_count_distinct`` when a bounded-error
  missing-count is enough for alerting.
- ``sequence_gap_ranges`` — the actual hole coordinates
  ``[gap_start, gap_end]``. The naive form is a lag window over the
  whole sequence per group — one partition per group, which does not
  scale to a 10^10-entry global WAL. The sequence space is therefore
  split into fixed BLOCKS (``seq div block_size``): intra-block holes
  come from a lag window partitioned by (group, block) — bounded
  partitions no matter the total span — and holes that cross block
  boundaries (including wholly-missing blocks) come from a lag over
  the per-block min/max aggregate, which is one tiny row per PRESENT
  block (10^10 / 2^20 ≈ 10k rows per group). Duplicates are harmless
  to both branches (lag diff 0 is not a hole), so no distinct pass is
  needed. Two column-pruned scans of the log (the window branch and
  the block-aggregate branch) — cache the input if it is expensive.
- ``GapMonitor`` — the cross-batch continuity check for a live tail:
  compares each micro-batch's per-group [min, max] against the
  remembered high-water mark. Sound when the transport delivers each
  group's events in order (Kafka's per-partition guarantee, a WAL's
  defining property); for out-of-order logs its reports are advisory
  (an "overlap" may be legitimate re-delivery — which the sink's LWW
  absorbs — but a "gap" is still a gap if the transport is ordered).
  Driver state is one (hwm) per group — bounded by source/partition
  count, never by stream length — and optionally persisted so a
  restarted stream resumes the check where it left off.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from beehive_data_etl_spark.sources import table_meta

_GRP = "__gap_grp"


def _grouped(events: DataFrame, seq: str, by: list[str] | None):
    """Normalized (df, group_cols) with seq cast to long; a constant
    group stands in when the caller monitors one global sequence."""
    cols = list(by) if by else []
    df = events.select(
        *cols, F.col(seq).cast("long").alias(seq)
    )
    if not cols:
        df = df.withColumn(_GRP, F.lit(0))
        cols = [_GRP]
    return df, cols


def sequence_gap_summary(
    events: DataFrame,
    seq: str = "op_sequence",
    by: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Per-group sequence accounting: ``n_events``, ``n_distinct``,
    ``n_dups`` (re-deliveries), ``seq_lo``/``seq_hi``, and ``n_missing``
    — the holes in the dense span. One aggregation job."""
    df, grp = _grouped(events, seq, by)
    nd = (
        F.count_distinct(F.col(seq))
        if exact
        else F.approx_count_distinct(seq)
    )
    out = df.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("n_events"),
        nd.alias("n_distinct"),
        F.min(seq).alias("seq_lo"),
        F.max(seq).alias("seq_hi"),
    )
    out = out.select(
        *[c for c in grp if c != _GRP],
        "n_events",
        "n_distinct",
        (F.col("n_events") - F.col("n_distinct")).alias("n_dups"),
        "seq_lo",
        "seq_hi",
        (
            F.col("seq_hi") - F.col("seq_lo") + F.lit(1) - F.col("n_distinct")
        ).alias("n_missing"),
    )
    return out


def sequence_gap_ranges(
    events: DataFrame,
    seq: str = "op_sequence",
    by: list[str] | None = None,
    block_size: int = 1 << 20,
) -> DataFrame:
    """Hole coordinates per group: one row per maximal missing run,
    ``(by..., gap_start, gap_end, gap_len)``. Block-partitioned so no
    window partition exceeds ``block_size`` sequence values (see module
    docstring for the stitching argument). Holes before the group's
    first or after its last observed sequence are unknowable from the
    log alone and are not reported — pair with ``GapMonitor`` (or the
    source's declared head position) for the tail."""
    if block_size < 2:
        raise ValueError("block_size must be >= 2")
    df, grp = _grouped(events, seq, by)
    df = df.withColumn("__blk", (F.col(seq) / F.lit(block_size)).cast("long"))
    out_grp = [c for c in grp if c != _GRP]

    # intra-block holes: bounded window partitions (group, block)
    w = Window.partitionBy(*grp, "__blk").orderBy(seq)
    intra = (
        df.withColumn("__prev", F.lag(seq).over(w))
        .filter(F.col(seq) - F.col("__prev") > 1)
        .select(
            *out_grp,
            (F.col("__prev") + 1).alias("gap_start"),
            (F.col(seq) - 1).alias("gap_end"),
        )
    )

    # boundary holes: lag over per-block extrema — one row per PRESENT
    # block, so wholly-missing blocks fall inside the (prev_max, min)
    # span of the surrounding present blocks
    blocks = df.groupBy(*grp, "__blk").agg(
        F.min(seq).alias("__bmin"), F.max(seq).alias("__bmax")
    )
    wb = Window.partitionBy(*grp).orderBy("__blk")
    inter = (
        blocks.withColumn("__prevmax", F.lag("__bmax").over(wb))
        .filter(F.col("__bmin") - F.col("__prevmax") > 1)
        .select(
            *out_grp,
            (F.col("__prevmax") + 1).alias("gap_start"),
            (F.col("__bmin") - 1).alias("gap_end"),
        )
    )

    return intra.unionByName(inter).withColumn(
        "gap_len", F.col("gap_end") - F.col("gap_start") + F.lit(1)
    )


class GapMonitor:
    """Cross-batch high-water-mark continuity for a live tail (use from
    ``foreachBatch`` or between ``replay_incremental`` batches).

    ``check_batch`` runs ONE tiny aggregation over the micro-batch and
    returns a list of anomaly dicts: ``kind='gap'`` when a group's
    batch minimum jumps past hwm+1 (events lost in transport — with
    ``strict=True`` this raises instead, stopping the stream before
    the loss becomes silent), ``kind='overlap'`` when it lands at or
    below the hwm (re-delivery; the sink's LWW absorbs it, reported
    for lag/retry monitoring). State is ``{group: hwm}`` — bounded by
    the number of sources/partitions — atomically persisted to
    ``state_path`` when given, so a restarted stream resumes the check
    (the checkpoint analog for transport integrity)."""

    def __init__(
        self,
        seq: str = "op_sequence",
        by: list[str] | None = None,
        strict: bool = False,
        state_path: str | None = None,
    ):
        self.seq, self.by, self.strict = seq, list(by or []), strict
        self.state_path = state_path
        saved = (state_path and table_meta.read_json(state_path)) or {}
        self._hwm: dict[tuple, int] = {
            tuple(json.loads(k)): v for k, v in saved.items()
        }

    def _save(self) -> None:
        if not self.state_path:
            return
        table_meta.write_json(
            self.state_path,
            {json.dumps(list(k)): v for k, v in self._hwm.items()},
        )

    def check_batch(self, batch: DataFrame) -> list[dict]:
        df, grp = _grouped(batch, self.seq, self.by)
        rows = (
            df.groupBy(*grp)
            .agg(
                F.min(self.seq).alias("lo"),
                F.max(self.seq).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        anomalies: list[dict] = []
        for r in rows:
            key = tuple(r[c] for c in grp if c != _GRP) if self.by else ()
            hwm = self._hwm.get(key)
            if hwm is not None and r["lo"] > hwm + 1:
                anomalies.append(
                    {
                        "kind": "gap",
                        "group": key,
                        "gap_start": hwm + 1,
                        "gap_end": r["lo"] - 1,
                        "n_missing": r["lo"] - 1 - hwm,
                    }
                )
            elif hwm is not None and r["lo"] <= hwm:
                anomalies.append(
                    {"kind": "overlap", "group": key, "hwm": hwm, "lo": r["lo"]}
                )
            self._hwm[key] = max(hwm if hwm is not None else r["hi"], r["hi"])
        self._save()
        if self.strict:
            gaps = [a for a in anomalies if a["kind"] == "gap"]
            if gaps:
                raise RuntimeError(f"sequence gaps in transport: {gaps}")
        return anomalies
