"""Incrementally-maintained ANN index (IVF) over a CDC table — the
serving-path counterpart of the batch ``functions.similarity.ivf_topk``
query.

A training-data table that carries an embedding column (added through
normal schema evolution — ``array<float>`` payload like any other)
wants "find the k nearest documents" served continuously, and at
10^10 rows a brute-force scan per query is absurd while re-building an
ANN structure per micro-batch is equally absurd. ``AnnIndex`` is the
same derived-view shape as ``TokenIndex``/``AggregateView``: postings
maintained O(changed rows) per refresh from the sink's pre-image
changelog, pointer-swap commits, crash-idempotent re-walks.

Index structure — classic IVF (inverted file):

- **centroids** are pinned at FIRST build (model-free, deterministic:
  the live corpus vectors with the ``n_cells`` smallest doc_ids,
  exactly ``ivf_topk``'s seeding) and stored beside the pointer; cell
  assignment is a pure function of (vec, centroids), so a changed
  doc's OLD cell is recomputed from its pre-image vector — no extra
  state,
- **postings** are ``(cell, doc_id, vec)`` rows partitioned BY CELL on
  disk; each refresh appends +1 postings for changed docs' new cells
  (carrying the new vector — a same-cell vector update supersedes via
  the per-(cell, doc) LWW fold) and -1 tombstones for vacated cells,
- **search** probes the query's ``nprobe`` nearest cells (a driver-side
  numpy product against the tiny centroid set), reads ONLY those cell
  partitions (partition pruning — the scan is O(probed cells), never
  O(corpus)), folds, exact-cosine re-ranks, returns top-k
  (TakeOrderedAndProject, no full sort).

Scale notes: refresh cost is O(changed rows × n_cells) map-side work
(broadcast centroid product, ``max_by`` argmax — never a window over
corpus × centroids) plus one shuffle of the changed rows; the centroid
set (n_cells × dim floats) lives driver-side and in one broadcast.
Recall follows IVF physics — it rises with nprobe/n_cells ratio; the
exact re-rank inside probed cells means returned distances are always
true cosines. NULL or zero-norm vectors index deterministically into
cell 0 (cosine undefined → coalesced below any real score, min-id
tie-break) rather than silently vanishing.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions.similarity import cosine_expr
from ..sources import table_meta as tm
from .snapshot import KEY, parse_schema


class AnnIndex:
    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        vec_col: str = "embedding",
        n_cells: int = 16,
        nprobe: int = 4,
    ) -> None:
        import threading

        self.spark = spark
        self.sink = sink
        self.root = root
        self.vec_col = vec_col
        self.n_cells = n_cells
        self.nprobe = nprobe
        # single-maintainer model (same as TokenIndex): refresh/compact
        # serialize in-process; cross-process maintainers need external
        # coordination, with the pre-swap pointer recheck + age-gated
        # reaping bounding a violation to lost compaction work
        self._write_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        self._ptr = tm.Pointer(
            os.path.join(root, "CURRENT"),
            pins=lambda: {"n_cells": self.n_cells, "vec_col": self.vec_col},
        )

    @classmethod
    def open(cls, spark, sink, root: str, **kwargs) -> "AnnIndex":
        """Reopen an EXISTING index reading vec_col and n_cells from
        its own pointer (restating n_cells wrong is refused anyway —
        this is the maintenance-job path that cannot drift)."""
        cur = tm.read_json(os.path.join(root, "CURRENT"))
        if cur is None:
            raise ValueError(
                f"no index at {root} (never refreshed) — construct "
                "AnnIndex directly to create one"
            )
        for k in ("vec_col", "n_cells"):
            if k in kwargs:
                raise ValueError(
                    f"{k} is recorded in the index pointer; open() "
                    "reads it — drop the argument"
                )
        return cls(
            spark, sink, root,
            vec_col=cur["vec_col"], n_cells=cur["n_cells"], **kwargs,
        )

    # ------------------------------------------------------------ pointer
    def current(self) -> dict | None:
        cur = self._ptr.read()
        if cur is not None and cur.get("n_cells") != self.n_cells:
            raise ValueError(
                f"index at {self.root} was built with "
                f"n_cells={cur.get('n_cells')}, opened with {self.n_cells} "
                "— cell assignment is pinned at build; rebuild to resize"
            )
        return cur

    # ---------------------------------------------------------- centroids
    def _cent_path(self) -> str:
        return os.path.join(self.root, "centroids.json")

    def centroids(self) -> list[list[float]] | None:
        cents = tm.read_json(self._cent_path())
        return None if cents is None else cents["vecs"]

    def _seed_centroids(self, version: int) -> list[list[float]]:
        """Pin the codebook at first build: live vectors of the
        ``n_cells`` smallest doc_ids (ivf_topk's model-free seeding —
        i.i.d. samples of the distribution). Written ONCE; every later
        refresh assigns against exactly these, which is what lets a
        pre-image vector's old cell be recomputed instead of stored."""
        rows = (
            self.sink.read_state(version=version, columns=[self.vec_col])
            .filter(~F.col("deleted") & F.col(self.vec_col).isNotNull())
            .select(KEY, self.vec_col)
            .orderBy(KEY)
            .limit(self.n_cells)
            .collect()
        )
        vecs = [[float(x) for x in r[self.vec_col]] for r in rows]
        if not vecs:
            # nothing to seed from yet — the refresh noops until the
            # first embedding-carrying batch commits
            return None
        dims = {len(v) for v in vecs}
        if len(dims) != 1:
            raise ValueError(f"mixed embedding dimensions {sorted(dims)}")
        tm.write_json(self._cent_path(), {"vecs": vecs, "dim": dims.pop()})
        return vecs

    def _cent_df(self, vecs: list[list[float]]) -> DataFrame:
        elem = self._elem_type()
        return self.spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            T.StructType(
                [
                    T.StructField("c_id", T.IntegerType()),
                    T.StructField("c_vec", T.ArrayType(elem)),
                ]
            ),
        )

    def _elem_type(self, missing_ok: bool = False) -> T.DataType | None:
        """Element type of the vec column, or None when ``missing_ok``
        and the column has not been evolved into the schema yet (the
        transient CDC state the deployment job must noop through). A
        PRESENT non-array column is a permanent misconfiguration and
        always raises."""
        snap = self.sink.current_snapshot()
        if snap is None:
            raise ValueError("sink has no snapshot")
        schema = parse_schema(snap["schema"])
        try:
            f = next(f for f in schema.fields if f.name == self.vec_col)
        except StopIteration:
            if missing_ok:
                return None
            raise ValueError(
                f"sink has no column {self.vec_col!r}"
            ) from None
        if not isinstance(f.dataType, T.ArrayType):
            raise ValueError(f"{self.vec_col} is not an array column")
        return f.dataType.elementType

    # ---------------------------------------------------------- assignment
    def _assign(
        self, df: DataFrame, vec: str, extra: list[str] | None = None
    ) -> DataFrame:
        """(KEY[, extra], <vec>) → (KEY[, extra], cell, <vec>):
        nearest-centroid argmax as a broadcast product + ``max_by``
        aggregate — the partial/final shape that map-side combines,
        never a window over rows × cells. Rounded cosine (4dp) +
        min-cell tie-break keeps the assignment reproducible; a
        NULL/zero-norm cosine coalesces below any real score so
        degenerate vectors land deterministically in cell 0."""
        cents = F.broadcast(self._cent_df(self.centroids()))
        scored = df.crossJoin(cents).withColumn(
            "a_cos",
            F.coalesce(
                cosine_expr(F.col(vec), F.col("c_vec")), F.lit(-2.0)
            ),
        )
        return scored.groupBy(KEY, *(extra or [])).agg(
            F.max_by(
                "c_id", F.struct(F.col("a_cos"), (-F.col("c_id")).alias("nc"))
            ).alias("cell"),
            F.any_value(vec).alias(vec),
        )

    # ------------------------------------------------------------- storage
    def _write_delta(self, df: DataFrame, tag: str) -> str:
        out = os.path.join(self.root, f"ann-{tag}-{uuid.uuid4().hex}")
        (
            # hash-repartition by cell so each cell's rows land in ONE
            # file of its partition dir; task count stays bounded (a
            # production n_cells is thousands — tasks need not be)
            df.repartition(min(self.n_cells, 32), "cell")
            .sortWithinPartitions("cell", KEY)
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(out)
        )
        return out

    def _read_files(self, paths: list[str]) -> DataFrame | None:
        existing = [p for p in paths if os.path.isdir(p)]
        if not existing:
            return None
        parts = [
            self.spark.read.parquet(p).select("cell", KEY, "vec", "v", "sign")
            for p in existing
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _fold(self, df: DataFrame) -> DataFrame:
        """Latest version wins per (cell, doc); present iff its sign is
        +1 — a same-cell vector update carries the fresh vector on its
        +1 posting, so the fold also refreshes vecs."""
        latest = df.groupBy("cell", KEY).agg(
            F.max_by(F.struct("sign", "vec"), "v").alias("w")
        )
        return latest.filter(F.col("w.sign") > 0).select(
            "cell", KEY, F.col("w.vec").alias("vec")
        )

    # ------------------------------------------------------------- refresh
    def refresh(self) -> dict:
        """Advance to the sink's CURRENT snapshot: full posting build on
        first call (seeding the centroid codebook), O(changed rows)
        appends afterwards."""
        with self._write_lock:
            return self._refresh_locked()

    def _refresh_locked(self) -> dict:
        snap = self.sink.current_snapshot()
        if snap is None:
            return {"mode": "noop", "reason": "sink has no snapshot"}
        v_new = snap["version"]
        # vec_col present + array<...>: a non-array column fails loudly
        # here; a column the table has not evolved yet is the normal
        # embeddings-arrive-later CDC state — noop until it lands
        if self._elem_type(missing_ok=True) is None:
            return {
                "mode": "noop",
                "reason": f"column {self.vec_col!r} not in schema yet",
            }
        cur = self.current()
        w = tm.classify_window(
            tm.COLUMN_VIEW,
            cur and cur["version"],
            snap,
            self.sink.snapshot,
            [self.vec_col],
        )
        if w.action == tm.NOOP:
            return {"mode": "noop", "version": v_new}
        if w.action == tm.REFUSE:
            raise tm.altered_columns_error(w)
        if self.centroids() is None and self._seed_centroids(v_new) is None:
            return {
                "mode": "noop",
                "reason": "no live vectors to seed the codebook yet",
            }
        if w.action == tm.FULL:
            # a rebuild keeps the EXISTING codebook (cell space must stay
            # stable for the old postings' readers; re-seeding is an
            # explicit rebuild-from-scratch decision)
            live = (
                self.sink.read_state(version=v_new, columns=[self.vec_col])
                .filter(~F.col("deleted") & F.col(self.vec_col).isNotNull())
                .select(KEY, self.vec_col)
            )
            postings = self._assign(live, self.vec_col).select(
                "cell",
                KEY,
                F.col(self.vec_col).alias("vec"),
                F.lit(v_new).alias("v"),
                F.lit(1).alias("sign"),
            )
            out = self._write_delta(postings, f"v{v_new:06d}-full")
            if not any(d.startswith("cell=") for d in os.listdir(out)):
                # husk (no live vectors): advance over an empty list
                shutil.rmtree(out, ignore_errors=True)
                self._ptr.commit({"version": v_new, "files": []})
                return {"mode": "full-empty", "version": v_new}
            self._ptr.commit({"version": v_new, "files": [out]})
            return {"mode": "full", "version": v_new}
        ch = self.sink.read_changes_pruned(
            cur["version"], v_new, include_old=True, columns=[self.vec_col]
        )
        old = f"_old_{self.vec_col}"
        # one assignment pass over BOTH images: stack (doc, role, vec)
        # rows, assign, then regroup per doc — the centroid product runs
        # once, not once per image
        stacked = ch.select(
            F.col(KEY),
            F.explode(
                F.filter(
                    F.array(
                        F.when(
                            (F.col("change_type") != "D")
                            & F.col(self.vec_col).isNotNull(),
                            F.struct(
                                F.lit("n").alias("role"),
                                F.col(self.vec_col).alias("vec"),
                            ),
                        ),
                        F.when(
                            (F.col("change_type") != "I")
                            & F.col(old).isNotNull(),
                            F.struct(
                                F.lit("o").alias("role"),
                                F.col(old).alias("vec"),
                            ),
                        ),
                    ),
                    lambda s: s.isNotNull(),
                )
            ).alias("rv"),
        ).select(KEY, F.col("rv.role").alias("role"), F.col("rv.vec").alias("vec"))
        assigned = self._assign(stacked, "vec", extra=["role"])
        per_doc = assigned.groupBy(KEY).agg(
            F.max(F.when(F.col("role") == "n", F.col("cell"))).alias("n_cell"),
            F.any_value(
                F.when(F.col("role") == "n", F.col("vec")), True
            ).alias("n_vec"),
            F.max(F.when(F.col("role") == "o", F.col("cell"))).alias("o_cell"),
        )
        plus = per_doc.filter(F.col("n_cell").isNotNull()).select(
            F.col("n_cell").alias("cell"),
            KEY,
            F.col("n_vec").alias("vec"),
            F.lit(v_new).alias("v"),
            F.lit(1).alias("sign"),
        )
        # vacate the old cell only when the doc actually left it — a
        # same-cell update must NOT emit -1 at the same version as its
        # +1 (the LWW fold has no order between same-version postings);
        # the +1 alone supersedes within the cell
        minus = per_doc.filter(
            F.col("o_cell").isNotNull()
            & (
                F.col("n_cell").isNull()
                | (F.col("n_cell") != F.col("o_cell"))
            )
        ).select(
            F.col("o_cell").alias("cell"),
            KEY,
            F.lit(None).cast(T.ArrayType(self._elem_type())).alias("vec"),
            F.lit(v_new).alias("v"),
            F.lit(-1).alias("sign"),
        )
        out = self._write_delta(plus.unionByName(minus), f"v{v_new:06d}")
        if not any(d.startswith("cell=") for d in os.listdir(out)):
            # pure-rewrite window (compact/rebucket/GC): no change rows,
            # drop the schema-less husk dir and advance the pointer
            shutil.rmtree(out, ignore_errors=True)
            self._ptr.commit({"version": v_new, "files": cur["files"]})
            return {
                "mode": "noop-delta",
                "version": v_new,
                "from_version": cur["version"],
            }
        self._ptr.commit({"version": v_new, "files": cur["files"] + [out]})
        return {
            "mode": "incremental",
            "version": v_new,
            "from_version": cur["version"],
        }

    # -------------------------------------------------------------- search
    def _probe_cells(self, query_vec: list[float], nprobe: int) -> list[int]:
        """Driver-side codebook product: the centroid set is tiny by
        construction, so the probe decision costs no Spark job."""
        cents = self.centroids()
        if cents is None:
            raise ValueError("index never refreshed")
        dim = len(cents[0])
        if len(query_vec) != dim:
            raise ValueError(
                f"query dim {len(query_vec)} != index dim {dim}"
            )
        import numpy as np

        c = np.asarray(cents, dtype="float64")
        q = np.asarray([float(x) for x in query_vec], dtype="float64")
        denom = np.linalg.norm(c, axis=1) * np.linalg.norm(q)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, c @ q / denom, -2.0)
        # Spark's ROUND is HALF_UP (away from zero); np.round is
        # half-even — reproduce HALF_UP so a half-way-boundary cosine
        # probes the same cell the doc was assigned to. (Summation
        # order still differs from the Spark fold by ~1 ulp; recall on
        # such razor-edge ties is an IVF physics question, not a bug.)
        cos = np.sign(cos) * np.floor(np.abs(cos) * 1e4 + 0.5) / 1e4
        order = sorted(range(len(cents)), key=lambda i: (-cos[i], i))
        return order[:nprobe]

    def search(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe: int | None = None,
    ) -> DataFrame:
        """Top-k live documents by exact cosine inside the query's
        ``nprobe`` nearest cells. Reads ONLY those cells' partitions of
        each delta dir — O(probed postings), never a corpus scan."""
        cur = self.current()
        if cur is None:
            raise ValueError("index never refreshed")
        cells = self._probe_cells(query_vec, nprobe or self.nprobe)
        empty = T.StructType(
            [
                T.StructField(KEY, T.StringType()),
                T.StructField("cos", T.DoubleType()),
            ]
        )
        # the fold NEEDS cell as a group key: a doc that MOVED between
        # two probed cells has the old cell's -1 and the new cell's +1
        # at the same doc key, and folding per (doc) alone would
        # collapse them arbitrarily. One basePath read per delta dir
        # keeps the cell= partition column natively while still
        # scanning ONLY the probed cells' subdirs.
        parts = []
        for d in cur["files"]:
            probed = [
                p
                for c in cells
                if os.path.isdir(p := os.path.join(d, f"cell={c}"))
            ]
            if probed:
                parts.append(
                    self.spark.read.option("basePath", d)
                    .parquet(*probed)
                    .select("cell", KEY, "vec", "v", "sign")
                )
        if not parts:
            return self.spark.createDataFrame([], empty)
        raw = parts[0]
        for p in parts[1:]:
            raw = raw.unionByName(p)
        q = F.array(*[F.lit(float(x)) for x in query_vec]).cast(
            T.ArrayType(self._elem_type())
        )
        return (
            self._fold(raw)
            .withColumn("cos", cosine_expr(F.col("vec"), q))
            .select(KEY, "cos")
            .orderBy(F.desc("cos"), F.asc(KEY))
            .limit(k)
        )

    # ------------------------------------------------------------- read/ops
    def read(self) -> DataFrame:
        """All present (cell, doc_id, vec) postings."""
        cur = self.current()
        if cur is None:
            raise ValueError("index never refreshed")
        df = self._read_files(cur["files"])
        schema = T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField(KEY, T.StringType()),
                T.StructField("vec", T.ArrayType(self._elem_type())),
            ]
        )
        if df is None:
            return self.spark.createDataFrame([], schema)
        return self._fold(df)

    def compact(self, orphan_older_than_s: float = 3600.0) -> dict:
        """Fold live files into ONE postings dir (TokenIndex.compact's
        contract verbatim: abandoned if the pointer advanced during the
        fold; superseded/orphan dirs reaped only past the age horizon
        so pinned readers finish first)."""
        with self._write_lock:
            cur = self.current()
            if cur is None:
                raise ValueError("index never refreshed")
            postings = self.read().select(
                "cell",
                KEY,
                "vec",
                F.lit(cur["version"]).alias("v"),
                F.lit(1).alias("sign"),
            )
            out = self._write_delta(postings, f"v{cur['version']:06d}-compact")
            head = self.current()
            if (
                head is None
                or head["version"] != cur["version"]
                or head["files"] != cur["files"]
            ):
                return {"aborted": True, "reason": "pointer advanced during fold"}
            self._ptr.commit({"version": cur["version"], "files": [out]})
            return {
                "version": cur["version"],
                "files_folded": len(cur["files"]),
                "dirs_reaped": self._ptr.reap(
                    "ann-", {os.path.basename(out)}, orphan_older_than_s
                ),
            }

    def verify(self) -> dict:
        """Exact compare vs a recompute at the reflected version —
        (cell, doc, vec) triples must match, so a stale same-cell
        vector is caught, not just a wrong cell."""
        cur = self.current()
        if cur is None:
            raise ValueError("index never refreshed")
        live = (
            self.sink.read_state(
                version=cur["version"], columns=[self.vec_col]
            )
            .filter(~F.col("deleted") & F.col(self.vec_col).isNotNull())
            .select(KEY, self.vec_col)
        )
        want = self._assign(live, self.vec_col).select(
            "cell", KEY, F.col(self.vec_col).alias("vec")
        )
        got = self.read()
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        return {
            "extra": extra,
            "missing": missing,
            "ok": extra == 0 and missing == 0,
        }
