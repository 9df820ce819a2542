"""Multi-table TRANSACTIONAL CDC coordinator (Debezium-style
transaction boundaries over the §2A sink protocol).

The binlog of a real OLTP source interleaves change events from MANY
tables, grouped into transactions; a consumer that materializes those
tables must not expose a transaction torn in half — either every table
shows txn T's changes or none does. Sources publish transaction
metadata for exactly this (Debezium's transaction topic: txn id +
per-txn event count); this module is the Spark-side consumer of that
contract:

- data events carry ``(table_name, txn_id)`` on top of the standard
  envelope; commit markers are rows ``op='C'`` with ``txn_events`` =
  the txn's data-event count, rollbacks are ``op='R'``;
- a transaction is RELEASABLE once its marker has been seen and the
  number of DISTINCT data events observed equals the marker's count —
  markers and events may arrive in any order, across any number of
  micro-batches (txns routinely straddle batch boundaries);
- incomplete transactions are spilled to a crash-safe pending area
  whose size is bounded by the source's OPEN-transaction window, never
  by log length — at 10^10 events the per-batch cost stays
  O(batch + open backlog);
- released events route per table into the existing exactly-once sinks
  (`SnapshotSink`/`IcebergSink` via the `CdcSink` protocol — same
  manifests, same LWW merge, same schema evolution);
- after ALL tables commit, the coordinator publishes one atomic
  **consistent point** (table → snapshot version). `consistent_read`
  resolves tables at the latest point, so a crash between two tables'
  commits can never produce a torn read: the point only appears after
  the last table committed, and re-driving the batch completes the
  stragglers idempotently first.

Scale notes. Markers are metadata-scale by construction (one row per
txn — Debezium's txn topic is low-volume), so they are collected
driver-side like any source-offset metadata. Everything event-sized
stays distributed: the release decision is a broadcast join of the
(small) marker table against per-txn distinct counts, and the pending
spill is ONE partitioned write (`_status` × `table_name`), which also
makes the per-table apply a partition-pruned file read. Retention:
released txn ids are floor-compacted (txn ids are monotone at the
source; a re-delivery older than the floor window is treated as
released and the sink's LWW/manifests absorb it), aborted and
quarantined ids are kept — aborts are rare and releasing one would
corrupt the table, which is the asymmetry the policy encodes.

Crash protocol (same discipline as SnapshotSink's manifests): the
stage for batch B is recomputed deterministically from (pending
HEAD, batch B) until HEAD flips to B; HEAD flips only AFTER every
table committed; the point file (written last, atomic rename) is the
coordinator's commit marker. Re-drive at ANY interleaving therefore
either recomputes byte-identical staging + skips committed tables, or
(HEAD already flipped) only re-publishes the point.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beehive_data_etl_spark.sources.table_meta import read_json, write_json
from beehive_data_etl_spark.streaming.replay import CdcSink

MARKER_COMMIT = "C"
MARKER_ROLLBACK = "R"
TXN_COL = "txn_id"
TABLE_COL = "table_name"
EXPECT_COL = "txn_events"
_STATUS = "_status"
# point number at which an event first entered the pending spill —
# the age basis for expire_pending (transaction-timeout maintenance)
_FIRST_POINT = "_first_point"
# what the coordinator strips before handing rows to a table's sink
_TXN_META = [TXN_COL, EXPECT_COL, _FIRST_POINT]


def _safe(batch_id: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "_", str(batch_id))


def _has_parquet(directory: str) -> bool:
    for _dirpath, _dirs, files in os.walk(directory):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def release_filter(
    data: DataFrame, committed_txns: DataFrame, txn_col: str = TXN_COL
) -> DataFrame:
    """Rows of ``data`` eligible to apply: non-transactional rows (null
    ``txn_col``) plus rows whose txn appears in ``committed_txns``.
    The committed set is transaction METADATA (one id per txn) — always
    broadcast; the event-sized side never shuffles."""
    committed = committed_txns.select(txn_col).distinct()
    return data.filter(F.col(txn_col).isNull()).unionByName(
        data.join(F.broadcast(committed), txn_col, "left_semi")
    )


class TxnCoordinator:
    """Routes a transactional multi-table WAL into per-table CdcSinks
    with atomic cross-table consistent points. Satisfies the `CdcSink`
    protocol itself, so `replay_incremental` / `replay_stream` drive it
    unchanged — with ``inflight=1``: transaction release is inherently
    ordered (batch N's pending feeds batch N+1), so the coordinator is
    a serial consumer by contract, exactly like any binlog client.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        sinks: dict[str, CdcSink],
        released_retain: int = 10_000,
    ):
        self.spark = spark
        self.root = root
        self.sinks = dict(sinks)
        self.released_retain = released_retain
        os.makedirs(os.path.join(root, "points"), exist_ok=True)

    # ----------------------------------------------------------- state
    def _head_path(self) -> str:
        return os.path.join(self.root, "HEAD.json")

    def _head(self) -> dict | None:
        return read_json(self._head_path())

    def _point_path(self, n: int, batch_id: str) -> str:
        return os.path.join(
            self.root, "points", f"point-{n:012d}-{_safe(batch_id)}.json"
        )

    @staticmethod
    def _point_batch(fname: str) -> str | None:
        """EXACT batch id embedded in a point filename — suffix matching
        would confuse id '1' with 'x-1' (review-found: a false
        'already committed' silently drops a batch)."""
        if not (fname.startswith("point-") and fname.endswith(".json")):
            return None
        body = fname[len("point-") : -len(".json")]
        # point-{n:012d}-{safe}: split off the fixed-width point number
        if len(body) < 14 or body[12] != "-":
            return None
        return body[13:]

    def _committed_ids(self) -> set[str]:
        # one directory listing per coordinator lifetime (review-found:
        # listdir per committed() probe is O(points²) over a long
        # backfill); point writes maintain the cache, and a fresh
        # instance (cross-process resume) re-lists at first use
        if not hasattr(self, "_committed_cache"):
            self._committed_cache = {
                b
                for f in os.listdir(os.path.join(self.root, "points"))
                if (b := self._point_batch(f)) is not None
            }
        return self._committed_cache

    def committed(self, batch_id: str) -> bool:
        return _safe(str(batch_id)) in self._committed_ids()

    def latest_point(self) -> dict | None:
        """The newest published consistent point (atomic cross-table
        cut). One file read — names embed the monotone point number."""
        points = sorted(
            f
            for f in os.listdir(os.path.join(self.root, "points"))
            if f.startswith("point-") and f.endswith(".json")
        )
        if not points:
            return None
        with open(os.path.join(self.root, "points", points[-1])) as fh:
            return json.load(fh)

    def _publish_point(self, n: int, batch_id: str, versions: dict) -> None:
        write_json(
            self._point_path(n, batch_id),
            {"batch_id": batch_id, "n": n, "versions": versions},
        )
        self._committed_ids().add(_safe(batch_id))

    def consistent_read(self, table: str, live_only: bool = True) -> DataFrame:
        """``table`` at the latest consistent point — never a torn
        transaction, even while a batch is mid-apply across tables
        (time travel pins each sink at the point's recorded version)."""
        point = self.latest_point()
        sink = self.sinks[table]
        version = None if point is None else point["versions"].get(table)
        if version is None:
            schema = "doc_id string"
            return self.spark.createDataFrame([], schema)
        state = sink.read_state(version=version)
        if not live_only:
            return state
        payload = [c for c in state.columns if c not in ("deleted",)]
        return state.filter(~F.col("deleted")).select(payload)

    # ---------------------------------------------------------- markers
    def _load_markers(self, head: dict | None) -> dict:
        if head is None:
            return {
                "expected": {},
                "aborted": [],
                "quarantined_txns": [],
                "released_txns": [],
                "released_floor": -1,
            }
        with open(os.path.join(self.root, head["stage"], "markers.json")) as fh:
            return json.load(fh)

    def _pending_events(self, head: dict | None, like: DataFrame) -> DataFrame:
        empty = self.spark.createDataFrame([], like.schema)
        if head is None:
            return empty
        events_dir = os.path.join(self.root, head["stage"], "events")
        # a marker-only batch stages ZERO rows — the dir exists but holds
        # no parquet files and schema inference would fail on it
        if not _has_parquet(events_dir):
            return empty
        df = self.spark.read.parquet(events_dir)
        return df.filter(F.col(_STATUS) == "pending").drop(_STATUS)

    # ------------------------------------------------------------ apply
    def apply_batch(self, batch_df: DataFrame, batch_id: str | int) -> dict:
        batch_id = str(batch_id)
        if self.committed(batch_id):
            return {"batch_id": batch_id, "skipped": True, "reason": "already committed"}
        head = self._head()
        if head is not None and head["batch_id"] == batch_id:
            # crash fell between the HEAD flip and the point publish:
            # every table is already committed (HEAD flips last among
            # the applies) — only the point is missing
            self._publish_point(head["n"], batch_id, head["versions"])
            return {"batch_id": batch_id, "resumed": True, "point": head["n"]}
        return self._apply_full(batch_df, batch_id, head)

    def _apply_full(self, batch_df: DataFrame, batch_id: str, head: dict | None) -> dict:
        markers = self._load_markers(head)
        expected = {int(k): int(v) for k, v in markers["expected"].items()}
        aborted = set(markers["aborted"])
        quarantined = set(markers["quarantined_txns"])
        released_hist = set(markers["released_txns"])
        floor = markers["released_floor"]

        # 1. split markers from data — markers are txn metadata (one row
        # per txn by contract), collected like source offsets
        is_marker = F.col("op").isin(MARKER_COMMIT, MARKER_ROLLBACK)
        corrupt_markers = 0
        for row in (
            batch_df.filter(is_marker)
            .select("op", TXN_COL, EXPECT_COL)
            .collect()
        ):
            if row[TXN_COL] is None or (
                row["op"] == MARKER_COMMIT and row[EXPECT_COL] is None
            ):
                # corrupt metadata row: count it, never crash the batch
                # (a re-drive would deterministically hit it again and
                # wedge the pipeline on one bad row — review-found)
                corrupt_markers += 1
                continue
            txn = int(row[TXN_COL])
            if txn <= floor:
                # duplicate marker of a floor-resolved txn: re-entering
                # `expected` could never complete (its events are gone
                # from the spill) and would grow markers.json forever
                continue
            if row["op"] == MARKER_ROLLBACK:
                if txn in released_hist:
                    # the txn was already applied; a retroactive abort is
                    # impossible downstream — surface it, don't corrupt
                    # the status map with a second verdict
                    corrupt_markers += 1
                    continue
                # abort is terminal: R wins over any C, before or after
                aborted.add(txn)
                expected.pop(txn, None)
            elif txn not in aborted and txn not in quarantined:
                want = int(row[EXPECT_COL])
                have = expected.get(txn)
                if have is not None and have != want:
                    # two commit markers disagreeing on the txn size is
                    # source corruption — never apply such a txn
                    quarantined.add(txn)
                    expected.pop(txn, None)
                elif txn not in released_hist:
                    expected[txn] = want

        data = batch_df.filter(~is_marker)
        pending = self._pending_events(head, like=data)
        # rows entering the spill this batch are stamped with this
        # batch's point number; carried-over rows keep their original —
        # the age basis expire_pending (transaction timeout) reads
        this_point = 0 if head is None else head["n"] + 1
        all_data = pending.unionByName(data, allowMissingColumns=True)
        all_data = all_data.withColumn(
            _FIRST_POINT,
            F.coalesce(
                F.col(_FIRST_POINT)
                if _FIRST_POINT in all_data.columns
                else F.lit(None).cast("long"),
                F.lit(this_point).cast("long"),
            ),
        )

        # 2. release decision: distinct-event counts per txn vs the
        # marker metadata (broadcast — the event side never shuffles to
        # the driver; only per-txn counts of txns WITH a live marker
        # come back, bounded by the open-transaction window)
        completed = {t for t, n in expected.items() if n == 0}
        overfull: set[int] = set()
        if expected:
            marker_df = self.spark.createDataFrame(
                [(t, n) for t, n in expected.items()],
                f"{TXN_COL} long, _expected long",
            )
            counts = (
                all_data.filter(F.col(TXN_COL).isNotNull())
                .groupBy(TXN_COL)
                .agg(F.countDistinct("op_sequence").alias("_have"))
                .join(F.broadcast(marker_df), TXN_COL)
                .filter(F.col("_have") >= F.col("_expected"))
                .collect()
            )
            for row in counts:
                txn = int(row[TXN_COL])
                if row["_have"] == row["_expected"]:
                    completed.add(txn)
                else:
                    overfull.add(txn)  # more distinct events than the txn had
        # a txn can land in both sets (a corrupt expected=0 marker with
        # data present) — quarantine wins, else the status join below
        # would emit BOTH a released and a quarantined copy of every
        # event and apply the quarantined data (review-found)
        completed -= overfull
        for txn in completed | overfull:
            expected.pop(txn, None)
        quarantined |= overfull
        released_now = completed | released_hist

        # 3. stage: ONE partitioned write fans the batch+backlog into
        # pending spill, per-table release dirs, and audit partitions.
        # ONE status per txn, strongest verdict wins — a duplicate row
        # per txn in the join side would duplicate its events across
        # partitions
        status_map = {t: "released" for t in released_now}
        status_map.update({t: "aborted" for t in aborted})
        status_map.update({t: "quarantined" for t in quarantined})
        status_rows = sorted(status_map.items())
        status_df = self.spark.createDataFrame(
            status_rows or [(None, None)], f"{TXN_COL} long, {_STATUS}_j string"
        )
        staged = (
            all_data.join(F.broadcast(status_df), TXN_COL, "left")
            .withColumn(
                _STATUS,
                F.when(F.col(f"{_STATUS}_j").isNotNull(), F.col(f"{_STATUS}_j"))
                .when(F.col(TXN_COL).isNull(), F.lit("released"))
                .when(F.col(TABLE_COL).isNull(), F.lit("quarantined"))
                .when(F.col(TXN_COL) <= F.lit(floor), F.lit("released"))
                .otherwise(F.lit("pending")),
            )
            .drop(f"{_STATUS}_j")
        )
        stage = f"v-{_safe(batch_id)}"
        events_dir = os.path.join(self.root, stage, "events")
        # the pending-min observation rides the stage write (zero extra
        # jobs) — it bounds how far the floor may advance below
        from pyspark.sql import Observation

        obs = Observation(f"txn-stage-{_safe(batch_id)}-{uuid.uuid4().hex[:8]}")
        staged = staged.observe(
            obs,
            F.min(
                F.when(F.col(_STATUS) == "pending", F.col(TXN_COL))
            ).alias("pending_min"),
        )
        (
            staged.write.mode("overwrite")
            .partitionBy(_STATUS, TABLE_COL)
            .parquet(events_dir)
        )

        # floor-compact the released history (retention contract above).
        # The floor may NEVER rise past an OPEN transaction: a pending
        # txn below the floor would have its partial events released as
        # "old duplicates" on the next batch — a torn apply
        # (review-found). Open = awaiting events (in `expected`) or
        # awaiting its marker (present in the pending spill, measured by
        # the observation above).
        released_list = sorted(released_now)
        if len(released_list) > self.released_retain:
            candidate = released_list[len(released_list) - self.released_retain - 1]
            pending_min = obs.get["pending_min"]
            open_bounds = [candidate]
            if pending_min is not None:
                open_bounds.append(int(pending_min) - 1)
            if expected:
                open_bounds.append(min(expected) - 1)
            floor = max(floor, min(open_bounds))
            released_list = [t for t in released_list if t > floor]
        write_json(
            os.path.join(self.root, stage, "markers.json"),
            {
                "expected": {str(t): n for t, n in expected.items()},
                "aborted": sorted(aborted),
                "quarantined_txns": sorted(quarantined),
                "released_txns": released_list,
                "released_floor": floor,
            },
        )

        # 4. per-table apply through each sink's own exactly-once path
        released_dir = os.path.join(events_dir, f"{_STATUS}=released")
        applied: dict[str, dict] = {}
        if os.path.isdir(released_dir):
            for part in sorted(os.listdir(released_dir)):
                if not part.startswith(f"{TABLE_COL}="):
                    continue
                table = part.split("=", 1)[1]
                if table == "__HIVE_DEFAULT_PARTITION__":
                    continue
                if table not in self.sinks:
                    raise KeyError(
                        f"log routes events to table {table!r} but the "
                        f"coordinator only knows {sorted(self.sinks)}"
                    )
                tdf = self.spark.read.parquet(os.path.join(released_dir, part))
                tdf = tdf.drop(*[c for c in _TXN_META if c in tdf.columns])
                applied[table] = self.sinks[table].apply_batch(
                    tdf, f"{batch_id}--{table}"
                )

        # 5. the atomic cross-table cut: record every table's version
        # AFTER all applies, flip HEAD, then publish the point
        versions = {}
        for table, sink in self.sinks.items():
            snap = sink.current_snapshot()
            versions[table] = None if snap is None else snap["version"]
        n = this_point
        write_json(
            self._head_path(),
            {"batch_id": batch_id, "n": n, "stage": stage, "versions": versions},
        )
        self._publish_point(n, batch_id, versions)
        counts_by_status = self._stage_counts(events_dir)
        return {
            "batch_id": batch_id,
            "point": n,
            "versions": versions,
            "txns_completed": len(completed),
            "txns_aborted": len(aborted),
            "txns_overfull": len(overfull),
            "corrupt_markers": corrupt_markers,
            "applied": applied,
            **counts_by_status,
        }

    @staticmethod
    def _stage_counts(events_dir: str) -> dict:
        """Per-status row counts from parquet footers — driver-side
        metadata, no Spark job."""
        import pyarrow.parquet as pq

        out = {
            f"{s}_events": 0
            for s in ("pending", "released", "aborted", "quarantined")
        }
        for status_part in sorted(os.listdir(events_dir)):
            if not status_part.startswith(f"{_STATUS}="):
                continue
            status = status_part.split("=", 1)[1]
            total = 0
            for dirpath, _dirs, files in os.walk(os.path.join(events_dir, status_part)):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.read_metadata(os.path.join(dirpath, f)).num_rows
            out[f"{status}_events"] = total
        return out

    # ------------------------------------------------------ diagnostics
    def stuck_txns(self) -> dict:
        """Operator's report of transactions that cannot release yet:
        markers still waiting for events, and events with no marker at
        all (upstream producer died mid-txn). One Spark job over the
        pending spill — O(open backlog)."""
        head = self._head()
        markers = self._load_markers(head)
        expected = {int(k): int(v) for k, v in markers["expected"].items()}
        awaiting_events: dict[int, dict] = {
            t: {"have": 0, "expected": n} for t, n in expected.items()
        }
        awaiting_marker: dict[int, int] = {}
        if head is not None:
            events_dir = os.path.join(self.root, head["stage"], "events")
            if _has_parquet(events_dir):
                rows = (
                    self.spark.read.parquet(events_dir)
                    .filter(F.col(_STATUS) == "pending")
                    .groupBy(TXN_COL)
                    .agg(F.countDistinct("op_sequence").alias("have"))
                    .collect()
                )
                for row in rows:
                    txn = int(row[TXN_COL])
                    if txn in awaiting_events:
                        awaiting_events[txn]["have"] = row["have"]
                    else:
                        awaiting_marker[txn] = row["have"]
        return {
            "awaiting_events": awaiting_events,
            "awaiting_marker": awaiting_marker,
            "aborted": list(markers["aborted"]),
            "quarantined": list(markers["quarantined_txns"]),
        }

    def expire_pending(self, ttl_points: int) -> dict:
        """Transaction timeout (maintenance, run BETWEEN batches like
        every coordinator operation): quarantine transactions whose
        oldest pending event has sat in the spill for more than
        ``ttl_points`` consistent points — an upstream producer that
        died mid-txn would otherwise grow the pending backlog forever,
        breaking the O(open-window) bound the spill is sized for.

        Expired txns land in the quarantined set (terminal, kept — same
        asymmetry as aborts: releasing a partial txn later would be a
        torn apply; re-deliveries of its events route to the audit
        partition). One Spark job over the pending spill."""
        head = self._head()
        if head is None:
            return {"expired": []}
        markers = self._load_markers(head)
        cutoff = head["n"] - ttl_points
        expired: list[int] = []
        events_dir = os.path.join(self.root, head["stage"], "events")
        if _has_parquet(events_dir):
            rows = (
                self.spark.read.parquet(events_dir)
                .filter(F.col(_STATUS) == "pending")
                .groupBy(TXN_COL)
                .agg(F.min(_FIRST_POINT).alias("_first"))
                .filter(F.col("_first") <= F.lit(cutoff))
                .collect()
            )
            expired = sorted(int(r[TXN_COL]) for r in rows if r[TXN_COL] is not None)
        if expired:
            q = set(markers["quarantined_txns"]) | set(expired)
            for t in expired:
                markers["expected"].pop(str(t), None)
            markers["quarantined_txns"] = sorted(q)
            write_json(
                os.path.join(self.root, head["stage"], "markers.json"), markers
            )
        return {"expired": expired, "cutoff_point": cutoff}

    def vacuum_stages(self) -> dict:
        """Drop stage dirs of already-published batches, keeping HEAD's
        (the live pending spill). Mirrors SnapshotSink.vacuum: metadata
        (markers.json history) goes with the data."""
        import shutil

        head = self._head()
        keep = None if head is None else head["stage"]
        removed = []
        for d in sorted(os.listdir(self.root)):
            if not d.startswith("v-") or d == keep:
                continue
            batch_id = d[2:]
            # only reap stages whose batch has a published point —
            # anything else may be a concurrent in-flight attempt
            # (exact id match; a suffix match would confuse '1'/'x-1')
            if batch_id in self._committed_ids():
                shutil.rmtree(os.path.join(self.root, d))
                removed.append(d)
        return {"removed": removed, "kept": keep}
