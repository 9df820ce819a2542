"""Incrementally-maintained inverted index (token -> docs) over the CDC
snapshot — the membership-view sibling of ``sinks.aggregates``.

Training-data tooling constantly asks "which live docs contain token
X?" (contamination audits, targeted re-tokenization, takedown
requests). At 10^10 rows, rebuilding a token->doc posting list per
micro-batch is O(corpus x seq_len); ``TokenIndex`` maintains it from
the row-level changelog instead:

- **refresh cost is O(changed rows x their tokens)**: the pre-image
  changelog (``read_changes_pruned``) yields each changed doc's new and
  old token arrays; the refresh appends ``+1`` rows for tokens the doc
  GAINED (``array_except(new, old)``) and ``-1`` rows for tokens it
  LOST — a token present in both sets emits nothing, so its older
  ``+1`` row keeps winning the read-side fold (that is what makes the
  no-op case free);
- **merge-on-read, like the sink itself**: appends are never folded at
  write time; ``lookup``/``read`` resolve each (token, doc) pair to its
  highest-version row and keep it iff the sign is ``+1``. Refreshes are
  strictly version-ordered (pointer-gated), so the fold is a true LWW;
- **bucket-pruned lookups**: every append is partitioned by
  ``pmod(xxhash64(token), n_buckets)``; a point lookup reads only the
  probed tokens' bucket dirs and pushes the token filter into the scan
  — same three-prune stack as ``SnapshotSink.lookup``;
- **commit protocol mirrors AggregateView**: write the delta dir, then
  atomically swap the ``CURRENT`` pointer (version + live file list).
  A crash before the swap leaves an orphan dir that no reader lists;
  the next successful refresh of the same window supersedes it and
  ``compact()`` reaps it (age-gated for cross-process safety);
- ``compact()`` folds all live files into one present-pairs dir —
  absent pairs can be dropped outright because refreshes are serial:
  no out-of-order append can resurrect a pair behind the pointer.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beehive_data_etl_spark.sinks.snapshot import (
    KEY,
    SEQ,
    _INTERNAL,
    _probe_keys,
    bucket_of,
    parse_schema,
)
from beehive_data_etl_spark.sources import table_meta as tm


def _token_bucket_expr(n_buckets: int):
    """THE bucket expression of the write path (mirrors snapshot.py's
    _bucket_expr). The probe path must bucket bit-identically, so it
    uses this expression's Python twin ``snapshot.bucket_of`` over the
    same element type (parity with F.xxhash64 pinned in tests)."""
    return F.pmod(F.xxhash64(F.col("token")), F.lit(n_buckets)).cast("int")


class TokenIndex:
    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        token_col: str = "tokens",
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.sink = sink
        self.root = root
        self.token_col = token_col
        self.n_buckets = n_buckets
        # one maintainer per index: refresh/compact serialize on this
        # lock in-process; cross-process writers need external
        # coordination (same single-maintainer model as AggregateView),
        # with the pre-swap pointer recheck + age-gated deletes bounding
        # the damage of a violated assumption to lost compaction work
        import threading

        self._write_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        self._ptr = tm.Pointer(os.path.join(root, "CURRENT"), pins=self._pins)

    # ------------------------------------------------------------ pointer
    def current(self) -> dict | None:
        cur = self._ptr.read()
        # layout guards (mirrors SnapshotSink's stored-n_buckets check):
        # opening an existing index with a different bucket count would
        # make lookup() probe absent subdirs and silently return missing
        # rows — fail loudly instead
        stored = cur and cur.get("n_buckets")
        if stored is not None and stored != self.n_buckets:
            raise ValueError(
                f"index at {self.root} was built with n_buckets={stored}, "
                f"opened with {self.n_buckets}"
            )
        return cur

    def _pins(self) -> dict:
        # the element type postings were HASHED under — pinned because
        # xxhash64(int) != xxhash64(long): a widened probe type would
        # bucket differently
        return {
            "n_buckets": self.n_buckets,
            "elem": self._sink_elem_type().simpleString(),
        }

    # ------------------------------------------------------------ schema
    def _table_schema(self) -> T.StructType:
        snap = self.sink.current_snapshot()
        if snap is None:
            raise ValueError("sink has no snapshot")
        return parse_schema(snap["schema"])

    def _sink_elem_type(self) -> T.DataType:
        f = next(
            f for f in self._table_schema().fields if f.name == self.token_col
        )
        if not isinstance(f.dataType, T.ArrayType):
            raise ValueError(f"{self.token_col} is not an array column")
        return f.dataType.elementType

    def _elem_type(self) -> T.DataType:
        """The element type the INDEX was built under. Pinned in the
        pointer (bucketing hashes the typed value); if the sink's
        column has since changed type, fail loudly — the index must be
        rebuilt, silently probing mis-hashed buckets is never right.
        (The engine's schema evolution forbids array-element changes,
        operators/schema_evolution.py, so this is a defense-in-depth
        guard, not an expected path.)"""
        sink_t = self._sink_elem_type()
        cur = self.current()
        if cur is not None and "elem" in cur:
            stored = parse_schema(f"x {cur['elem']}")[0].dataType
            if stored != sink_t:
                raise ValueError(
                    f"index built over {self.token_col} element type "
                    f"{stored.simpleString()}, sink now has "
                    f"{sink_t.simpleString()} — rebuild the index"
                )
            return stored
        return sink_t

    def _value_set(self, col) -> "F.Column":
        """The row's set of indexed values as an array expression —
        the ONE point where TokenIndex (array column: its distinct
        elements) and ValueIndex (scalar column: the value itself,
        nothing when NULL) differ; the whole diff/refresh/verify
        machinery is shared through it."""
        elem = self._elem_type()
        empty = F.array().cast(T.ArrayType(elem))
        return F.array_distinct(F.coalesce(col, empty))

    def _pairs_schema(self) -> T.StructType:
        key_field = next(
            f for f in self._table_schema().fields if f.name == KEY
        )
        return T.StructType(
            [T.StructField("token", self._elem_type()), key_field]
        )

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("tbucket", _token_bucket_expr(self.n_buckets))

    def _write_delta(self, df: DataFrame, tag: str) -> str:
        out = os.path.join(self.root, f"ix-{tag}-{uuid.uuid4().hex}")
        (
            self._with_bucket(df)
            .repartition(self.n_buckets, "tbucket")
            .sortWithinPartitions("tbucket", "token")
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(out)
        )
        return out

    # ------------------------------------------------------------ refresh
    def refresh(self) -> dict:
        """Advance to the sink's CURRENT snapshot: full posting build on
        first call, O(changed rows x tokens) appends afterwards."""
        with self._write_lock:
            return self._refresh_locked()

    def _refresh_locked(self) -> dict:
        snap = self.sink.current_snapshot()
        if snap is None:
            return {"mode": "noop", "reason": "sink has no snapshot"}
        v_new = snap["version"]
        cur = self.current()
        w = tm.classify_window(
            tm.COLUMN_VIEW,
            cur and cur["version"],
            snap,
            self.sink.snapshot,
            [self.token_col],
        )
        if w.action == tm.NOOP:
            return {"mode": "noop", "version": v_new}
        if w.action == tm.REFUSE:
            raise tm.altered_columns_error(w)
        tokens = F.col(self.token_col)
        if w.action == tm.FULL:
            live = self.sink.read_state(
                version=v_new, columns=[self.token_col]
            ).filter(~F.col("deleted"))
            pairs = live.select(
                F.explode(self._value_set(tokens)).alias("token"),
                F.col(KEY),
                F.lit(v_new).alias("v"),
                F.lit(1).alias("sign"),
            )
            out = self._write_delta(pairs, f"v{v_new:06d}-full")
            # same husk hazard as the incremental path below: a table
            # whose live state yields ZERO postings (tombstone-only
            # bootstrap, all-empty token arrays) writes a dir with no
            # tbucket= subdirs — don't list it
            if not any(d.startswith("tbucket=") for d in os.listdir(out)):
                shutil.rmtree(out, ignore_errors=True)
                self._ptr.commit({"version": v_new, "files": []})
                return {"mode": "full-empty", "version": v_new}
            self._ptr.commit({"version": v_new, "files": [out]})
            return {"mode": "full", "version": v_new}
        ch = self.sink.read_changes_pruned(
            cur["version"],
            v_new,
            include_old=True,
            # postings diff only against the indexed column — project
            # the changelog scan down to it
            columns=[self.token_col],
        )
        elem = self._elem_type()
        empty = F.array().cast(T.ArrayType(elem))
        new_set = F.when(
            F.col("change_type") != "D", self._value_set(tokens)
        ).otherwise(empty)
        old_set = F.when(
            F.col("change_type") != "I",
            self._value_set(F.col(f"_old_{self.token_col}")),
        ).otherwise(empty)
        delta = ch.select(
            F.col(KEY),
            F.explode(
                F.concat(
                    F.transform(
                        F.array_except(new_set, old_set),
                        lambda t: F.struct(t.alias("token"), F.lit(1).alias("sign")),
                    ),
                    F.transform(
                        F.array_except(old_set, new_set),
                        lambda t: F.struct(t.alias("token"), F.lit(-1).alias("sign")),
                    ),
                )
            ).alias("ts"),
        ).select(
            F.col("ts.token").alias("token"),
            F.col(KEY),
            F.lit(v_new).alias("v"),
            F.col("ts.sign").alias("sign"),
        )
        out = self._write_delta(delta, f"v{v_new:06d}")
        # a window of pure rewrites (compact / tombstone GC / rebucket
        # versions) yields ZERO change rows: the partitioned write then
        # produces a dir with no tbucket= subdirs and no schema-bearing
        # parquet files, and listing it would poison every later read
        # ("unable to infer schema" — found by the lifecycle composition
        # test). Detect driver-side (free: one listdir), drop the husk,
        # and advance the pointer over the unchanged file list.
        if not any(d.startswith("tbucket=") for d in os.listdir(out)):
            shutil.rmtree(out, ignore_errors=True)
            self._ptr.commit({"version": v_new, "files": cur["files"]})
            return {"mode": "noop-delta", "version": v_new,
                    "from_version": cur["version"]}
        self._ptr.commit({"version": v_new, "files": cur["files"] + [out]})
        return {"mode": "incremental", "version": v_new, "from_version": cur["version"]}

    # ------------------------------------------------------------ read
    def _fold(self, df: DataFrame) -> DataFrame:
        """Resolve each (token, doc) pair to its latest-version sign;
        present iff that sign is +1."""
        latest = df.groupBy("token", KEY).agg(
            F.max_by("sign", "v").alias("sign")
        )
        return latest.filter(F.col("sign") > 0).select("token", KEY)

    def _read_files(self, paths: list[str]) -> DataFrame | None:
        """Union of the given delta dirs (or tbucket subdirs), projected
        to the logical columns — each dir is read separately so Spark's
        partition discovery never sees two roots at once."""
        existing = [p for p in paths if os.path.isdir(p)]
        if not existing:
            return None
        parts = [
            self.spark.read.parquet(p).select("token", KEY, "v", "sign")
            for p in existing
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(self) -> DataFrame:
        """All present (token, doc_id) pairs."""
        cur = self.current()
        if cur is None:
            raise ValueError("index never refreshed")
        df = self._read_files(cur["files"])
        if df is None:
            return self.spark.createDataFrame([], self._pairs_schema())
        return self._fold(df)

    def lookup(self, probe_tokens: list) -> DataFrame:
        """Docs currently containing any probed token: reads only the
        probed tokens' bucket subdirs, pushes the token filter into the
        scan, folds only the survivors."""
        if not probe_tokens:
            raise ValueError("lookup() needs at least one token")
        cur = self.current()
        if cur is None:
            raise ValueError("index never refreshed")
        # type gate + buckets on the driver, no Spark job (same as
        # SnapshotSink.lookup): bucket_of is the Python twin of the
        # write path's bucket expression over the same element type
        elem = self._elem_type()
        toks = _probe_keys(probe_tokens, T.StructField("token", elem))
        buckets = sorted({bucket_of(t, self.n_buckets, elem) for t in toks})
        paths = [
            os.path.join(d, f"tbucket={b}")
            for d in cur["files"]
            for b in buckets
        ]
        df = self._read_files(paths)
        if df is None:
            return self.spark.createDataFrame([], self._pairs_schema())
        return self._fold(df.filter(F.col("token").isin(toks)))

    # ------------------------------------------------------------ compact
    def compact(self, orphan_older_than_s: float = 3600.0) -> dict:
        """Fold the live files into ONE present-pairs dir (sign +1 at
        the current version) and swap the pointer to it.

        Superseded dirs are NOT deleted at the swap: a reader that
        loaded the old pointer (or holds a lazy DataFrame over it) may
        still be scanning them, and ``_read_files`` silently skips
        missing dirs — deleting eagerly would turn a pinned read into a
        silently partial result. Instead EVERY dir the new pointer does
        not list (superseded and crashed-refresh orphans alike) is
        reaped only once older than ``orphan_older_than_s`` — the same
        age-cutoff reasoning as SnapshotSink.vacuum, bounding reader
        pin time by the horizon.

        Cross-process safety: immediately before the swap the pointer
        is re-read; if another writer advanced it since planning, the
        fold is ABANDONED (its dir left as an aged orphan) rather than
        swapping a stale file list over the newer state — the race
        costs compaction work, never postings."""
        with self._write_lock:
            cur = self.current()
            if cur is None:
                raise ValueError("index never refreshed")
            pairs = self.read().select(
                "token", KEY, F.lit(cur["version"]).alias("v"), F.lit(1).alias("sign")
            )
            out = self._write_delta(pairs, f"v{cur['version']:06d}-compact")
            head = self.current()
            if head is None or head["version"] != cur["version"] or head["files"] != cur["files"]:
                return {"aborted": True, "reason": "pointer advanced during fold"}
            self._ptr.commit({"version": cur["version"], "files": [out]})
            return {
                "version": cur["version"],
                "files_folded": len(cur["files"]),
                "dirs_reaped": self._ptr.reap(
                    "ix-", {os.path.basename(out)}, orphan_older_than_s
                ),
            }

    # ------------------------------------------------------------ verify
    def verify(self) -> dict:
        """Exact compare vs a recompute at the reflected version (ops /
        test check, O(index))."""
        cur = self.current()
        if cur is None:
            raise ValueError("index never refreshed")
        live = self.sink.read_state(
            version=cur["version"], columns=[self.token_col]
        ).filter(~F.col("deleted"))
        want = live.select(
            F.explode(self._value_set(F.col(self.token_col))).alias("token"),
            F.col(KEY),
        )
        got = self.read()
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        return {"extra": extra, "missing": missing, "ok": extra == 0 and missing == 0}


class ValueIndex(TokenIndex):
    """Secondary index over a SCALAR payload column (value -> docs) —
    the database-style companion to ``SnapshotSink.scan_where``.

    scan_where's column stats skip buckets that provably never held a
    value, but a value present SOMEWHERE in most buckets (a tenant id,
    a language tag) defeats bucket-granular pruning and the scan pays
    O(surviving buckets). A ValueIndex answers the same equality
    predicate at O(matching docs): postings are maintained from the
    pre-image changelog exactly like TokenIndex (refresh cost
    O(changed rows), merge-on-read sign fold, value-hash-bucketed
    appends with pruned + pushed lookups, pointer-swap commits), and
    ``select_rows`` drives the matching keys through the sink's
    four-prune ``lookup()`` — a selective predicate on a 10^10-row
    table touches the index's probed buckets plus the matching keys'
    files, never a table scan.

    Each live row contributes exactly ONE posting (its current value);
    NULL values are never indexed (comparison predicates are
    null-rejecting, matching scan_where semantics). The posting column
    keeps the internal name ``token`` so the entire TokenIndex
    machinery — diff refresh, fold, compaction, verify — is inherited
    unchanged; only the per-row value-set extraction differs."""

    def _sink_elem_type(self) -> T.DataType:
        f = next(
            f for f in self._table_schema().fields if f.name == self.token_col
        )
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            raise ValueError(
                f"{self.token_col} is not a scalar column "
                f"({f.dataType.simpleString()}); use TokenIndex for arrays"
            )
        return f.dataType

    def _value_set(self, col) -> "F.Column":
        # the scalar's singleton set; NULL -> empty (never indexed)
        return F.filter(F.array(col), lambda v: v.isNotNull())

    def select_rows(
        self,
        values: list,
        max_keys: int = 100_000,
        allow_stale: bool = False,
    ) -> DataFrame:
        """Live sink rows whose indexed column currently equals one of
        ``values`` — the index-accelerated equality scan.

        The matching key set materializes driver-side (bounded by
        ``max_keys`` — beyond it the predicate is not selective enough
        for an index plan; fall back to ``sink.scan_where``) and feeds
        ``SnapshotSink.lookup``, which bucket-/stats-/rowgroup-prunes
        the primary reads. The index must reflect the sink's HEAD
        (refresh() first — O(changes)); with ``allow_stale=True`` a
        lagging index is accepted and the result is re-filtered on the
        CURRENT values, which removes false positives but cannot
        recover docs that acquired the value after the index version —
        the staleness contract is the caller's to accept."""
        snap = self.sink.current_snapshot()
        cur = self.current()
        if snap is None or cur is None:
            raise ValueError("sink/index not initialized")
        if cur["version"] != snap["version"] and not allow_stale:
            raise ValueError(
                f"index at v{cur['version']} lags sink head "
                f"v{snap['version']}; refresh() first or pass "
                "allow_stale=True (false negatives possible)"
            )
        keys_df = self.lookup(values).select(KEY).limit(max_keys + 1)
        keys = [r[0] for r in keys_df.collect()]
        if len(keys) > max_keys:
            raise ValueError(
                f"more than max_keys={max_keys} docs match; the "
                "predicate is not selective enough for an index plan — "
                "use sink.scan_where instead"
            )
        if not keys:
            # same column set as the non-empty path (sink.lookup drops
            # the sink's internal columns)
            schema = parse_schema(snap["schema"])
            return self.spark.createDataFrame([], schema).drop(*_INTERNAL)
        rows = self.sink.lookup(keys)
        # exactness under staleness: lookup() returns CURRENT rows, so
        # re-asserting the predicate on them drops any doc whose value
        # moved off the probe since the index version
        return rows.filter(F.col(self.token_col).isin(list(values)))
