"""Corpus dedup sweep — close the near-dup loop on a LIVE CDC table.

The dedup machinery so far produces CANDIDATE PAIRS (MinHash-banded
LSH: ``functions.dedup.minhash_lsh_pairs`` batch-at-once,
``functions.incremental_dedup.NearDupView`` changelog-driven). This
module turns pairs into the action a training-data pipeline actually
wants: *keep one canonical document per duplicate cluster, tombstone
the rest* — as an ordinary exactly-once change batch, so every derived
consumer (aggregate views, token index, shard export, replicas,
outbox) sees the deletions as truthful ``D`` events and follows along.

Why the sweep RE-VERIFIES pairs instead of trusting them
--------------------------------------------------------
LSH pairs are candidates, and the pair store is append-only history: a
doc UPDATED since a pair was recorded may no longer resemble its
partner, and a doc deleted by the user must never anchor a cluster.
Both staleness classes fall out of one move — the sweep joins each
pair's endpoints to the table's CURRENT live state (dead endpoints
drop their edges) and recomputes the EXACT shingle Jaccard on current
token content, keeping only pairs at/above ``threshold``. Dropping a
dead middle doc may split a cluster (a–b, b–c with b gone); that is
the conservative reading — a~c was never verified directly.

Winner policy
-------------
Default: the cluster's minimum ``doc_id`` — deterministic, and FREE
(``connected_components`` labels every node with exactly that).
``prefer=("n_tok", "max")`` ranks by a live payload column instead
("keep the longest sequence"), ties broken by minimum key so the
choice stays deterministic.

Concurrency / idempotence — same contract as ``delete_where``:
losers are stamped at ONE freshly allocated op_sequence; a concurrent
HIGHER-seq write to a loser wins LWW (the sweep raced a newer version
and lost — the next scheduled run re-evaluates). The batch id carries
(planned version, seq) so crash-retries re-enter the sink's replay
path while distinct logical sweeps never collide. Re-running after
apply finds the losers dead (live-join drops their edges) and commits
nothing.

Scale shape (the point): edges are O(candidate pairs) — a product of
the LSH machinery, bounded by real duplication, never O(corpus²); the
verification joins carry pair-sized row sets against a column-pruned
(key, tokens[, prefer]) projection of live state; connected components
runs over the duplicate subgraph only; the event batch is O(losers).
No driver-side collect anywhere.

Deployment: ``scripts/maintain_job.py`` section ``dedup`` refreshes
the table's NearDupView (bootstrapping it if the replay job never ran
one) and sweeps — one cron-able pass alongside compact/vacuum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.dedup import token_shingles
from ..functions.graph import connected_components, connected_components_star
from ..sinks.snapshot import CELL, KEY, SEQ, parse_schema
from .refetch import next_op_sequence


def _components(edges: DataFrame, max_iter: int, cc: str) -> DataFrame:
    """CC variant dispatch for the sweep paths. ``star`` (the default
    since round 5, VERDICT r04 item 5) converges in O(log² n) star
    rounds on ANY graph shape — the adversarial long chains
    progressively-edited boilerplate forms would push min-label
    propagation to O(diameter) rounds, each a full shuffle; ``simple``
    remains available for known-shallow graphs."""
    if cc not in ("star", "simple"):
        raise ValueError('cc must be "star" or "simple"')
    # pin the (tiny) verified-edge frame: both CC variants symmetrize
    # their input with union(e, swap(e)) — two references to the whole
    # upstream candidate/verify pipeline in one plan
    edges = edges.localCheckpoint(eager=False)
    fn = connected_components_star if cc == "star" else connected_components
    return fn(edges, src="id_a", dst="id_b", max_iter=max_iter)


def verified_pairs(
    sink,
    pairs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_a: str = "id_new",
    id_b: str = "id_corpus",
) -> DataFrame:
    """Candidate pairs → verified live edges ``(id_a, id_b, jaccard)``.

    Joins both endpoints to the CURRENT live (key, tokens) projection
    — a pair mentioning a deleted/never-live doc drops out — and keeps
    pairs whose exact token-shingle Jaccard on CURRENT content clears
    ``threshold``. Two docs with NO shingles at all (empty/too-short
    token arrays) are byte-trivially identical and count as 1.0."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    edges = _canonical_edges(pairs, id_a, id_b)
    # pinned: joined on both endpoints below, and an unpinned lift
    # would shingle the live state twice (no subtree reuse across joins)
    live = sink.read_final(columns=[KEY, "tokens"]).select(
        F.col(KEY).alias("_k"),
        token_shingles("tokens", shingle_n).alias("_sh"),
    ).localCheckpoint(eager=False)
    return _verified_edges(edges, live, threshold)


def _canonical_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Undirected pair canonicalization shared by both sweep entry
    points: (min, max) ordering, self-edges dropped, distinct. A pair
    with a NULL endpoint degenerates to a self-edge (least/greatest
    skip NULLs) and is dropped — a NULL id can't anchor a cluster."""
    return (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _verified_edges(
    edges: DataFrame, live: DataFrame, threshold: float
) -> DataFrame:
    """Canonical edges ``(a, b)`` × live shingle projection
    ``(_k, _sh)`` → exact-Jaccard-verified ``(id_a, id_b, jaccard)``.
    Shared by the sink sweep (token shingles on live state) and the
    batch formulation ``sweep_decisions`` (any shingle lift)."""
    return (
        edges.join(live.select(F.col("_k"), F.col("_sh").alias("_sh_a")),
                   edges["a"] == F.col("_k"))
        .drop("_k")
        .join(live.select(F.col("_k"), F.col("_sh").alias("_sh_b")),
              F.col("b") == F.col("_k"))
        .drop("_k")
        .withColumn(
            "jaccard",
            F.when(
                F.size(F.array_union("_sh_a", "_sh_b")) == 0, F.lit(1.0)
            ).otherwise(
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.size(F.array_union("_sh_a", "_sh_b"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"), "jaccard")
    )


def sweep_decisions(
    docs: DataFrame,
    pairs: DataFrame,
    shingles,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    cc: str = "star",
) -> DataFrame:
    """The sweep's decision pipeline as a pure batch query — verify
    candidate pairs by exact shingle Jaccard on current content,
    cluster the verified edges, keep the minimum-id winner per
    cluster — over a plain DataFrame instead of a live sink. Returns
    one row per doc: ``(id_col, cluster_id, action)`` with action
    'K' (keep: winner or never-duplicated) / 'D' (tombstone: loser).

    ``shingles`` is the shingle-lift Column (``token_shingles`` for
    tokenized payloads, ``word_shingles`` for text corpora) evaluated
    against ``docs``. Same scale shape as the sink sweep: edge count
    bounded by real duplication, verification joins carry pair-sized
    sets against a two-column projection, components run over the
    duplicate subgraph only.

    When the candidate pairs come from the SAME shingle lift (the
    common case), prefer ``sweep_decisions_lsh`` — it materializes the
    shingled projection once and derives candidates AND verification
    from it, where this entry recomputes the lift per verification
    join side."""
    if not 0.0 < threshold <= 1.0:
        # same guard as the sink sweep: threshold<=0 silently disables
        # verification and clusters every LSH false positive
        raise ValueError("threshold must be in (0, 1]")
    edges = _canonical_edges(pairs, id_a, id_b)
    # pin the shingled projection: _verified_edges joins it on BOTH
    # endpoints and exchange reuse does not fire across a join's
    # identical subtrees, so an unpinned lift runs twice
    live = docs.select(
        F.col(id_col).alias("_k"), shingles.alias("_sh")
    ).localCheckpoint(eager=False)
    verified = _verified_edges(edges, live, threshold)
    members = _components(verified, max_iter, cc)
    return docs.join(
        members, docs[id_col] == members["node"], "left"
    ).select(
        docs[id_col],
        F.coalesce("comp", docs[id_col]).alias("cluster_id"),
        F.when(
            F.col("comp").isNotNull() & (F.col("node") != F.col("comp")),
            F.lit("D"),
        )
        .otherwise(F.lit("K"))
        .alias("action"),
    )


def sweep_decisions_lsh(
    docs: DataFrame,
    shingles,
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    max_iter: int = 25,
    cc: str = "star",
    broadcast_small: bool = True,
) -> DataFrame:
    """End-to-end sweep decisions from a document frame: banded-MinHash
    LSH candidates → exact-Jaccard verification → components → winner,
    sharing ONE materialized shingle projection (VERDICT r04 item 5).

    ``broadcast_small=True`` (default) broadcast-hints the two
    pair-sized frames — candidate edges into the verification joins and
    the member labels into the final left join. Both are O(duplicate
    pairs): bounded by the banding + ``max_bucket`` cap and typically
    orders of magnitude under the corpus. They are RDD-backed after
    their checkpoints (no stats), so without the hint Spark assumes
    them table-sized and shuffles the CORPUS side of all three joins.
    Pass False for adversarial corpora where the duplicate subgraph
    itself may not fit a broadcast.

    The shingle lift is the sweep's only corpus-wide expression work
    (per doc: split + shingle + k minhashes downstream), and the
    composed plan needs it THREE times — under the signature banding
    and under each verification join side; exchange/subtree reuse does
    not fire across joins, so the naive composition (q_dedup_sweep
    rounds 1-4: ``minhash_lsh_pairs(docs)`` then
    ``sweep_decisions(docs, pairs, shingles)``) computed it three
    times in four corpus scans. Here ``localCheckpoint`` pins the
    (id, shingles) projection on first use; every downstream path —
    banding, both verification sides, and the final id universe —
    reads the pinned copy, so the corpus is scanned ONCE
    (plan-pinned by tests/test_plan_quality.py). At 100 TB the
    pinned projection is the standard cache-what-you-reuse trade:
    O(corpus shingles) executor-local storage against two corpus
    rescans plus two recomputations of the lift."""
    from ..functions.dedup import (
        DEFAULT_MAX_BUCKET,
        banded_signatures,
        bucket_pairs,
        spread_if_narrow,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    shingled = (
        spread_if_narrow(docs)
        .select(F.col(id_col).alias("_k"), shingles.alias("_sh"))
        .localCheckpoint(eager=False)
    )
    banded = banded_signatures(
        shingled, F.col("_sh"), id_col="_k", k=k, bands=bands
    )
    pairs = bucket_pairs(
        banded, DEFAULT_MAX_BUCKET if max_bucket is None else max_bucket
    )
    # no _canonical_edges here (one distinct-shuffle saved): bucket_pairs
    # already emits unique ordered pairs — ids sort within each bucket,
    # pair generation takes strictly-later partners, and the closing
    # groupBy collapses repeats — so a<b and distinctness hold by
    # construction (pinned by test_bucket_pairs_canonical_by_construction)
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    if broadcast_small:
        edges = F.broadcast(edges)
    verified = _verified_edges(edges, shingled, threshold)
    members = _components(verified, max_iter, cc)
    if broadcast_small:
        members = F.broadcast(members)
    ids = shingled.select(F.col("_k").alias(id_col))
    return ids.join(members, ids[id_col] == members["node"], "left").select(
        ids[id_col],
        F.coalesce("comp", ids[id_col]).alias("cluster_id"),
        F.when(
            F.col("comp").isNotNull() & (F.col("node") != F.col("comp")),
            F.lit("D"),
        )
        .otherwise(F.lit("K"))
        .alias("action"),
    )


def dedup_sweep(
    sink,
    pairs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    prefer: tuple[str, str] | None = None,
    id_a: str = "id_new",
    id_b: str = "id_corpus",
    batch_id: str | None = None,
    dry_run: bool = False,
    max_iter: int = 25,
    cc: str = "star",
) -> dict:
    """Verify ``pairs`` against live content, cluster, keep one winner
    per cluster, tombstone the losers as ONE exactly-once batch.

    ``prefer=(column, "max"|"min")`` ranks winners by a live payload
    column (min-key tie-break); default keeps the minimum doc_id.
    Returns ``{"clusters", "losers", "batch_id", "op_sequence",
    "version", "dry_run"}``; ``dry_run=True`` reports without applying.
    """
    snap = sink.current_snapshot()
    if snap is None:
        raise ValueError("no snapshot yet")
    if prefer is not None and prefer[1] not in ("max", "min"):
        raise ValueError('prefer direction must be "max" or "min"')

    edges = verified_pairs(
        sink, pairs, threshold=threshold, shingle_n=shingle_n,
        id_a=id_a, id_b=id_b,
    )
    # members: (node, comp) — comp is the min reachable id, so with the
    # default policy the winner IS the label and losers need no second
    # aggregation. The duplicate subgraph is tiny beside the corpus;
    # localCheckpoint pins it so the loser plan doesn't re-run CC.
    members = _components(edges, max_iter, cc).localCheckpoint()

    if prefer is None:
        losers = members.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(KEY)
        )
    else:
        col, direction = prefer
        ranked = members.join(
            sink.read_final(columns=[KEY, col]).select(
                F.col(KEY).alias("node"), F.col(col).alias("_val")
            ),
            "node",
        )
        best = ranked.groupBy("comp").agg(
            (F.max("_val") if direction == "max" else F.min("_val")).alias(
                "_best"
            )
        )
        # winner = min key among members at the best value (NULL-safe:
        # a NULL _val never equals _best unless every member is NULL,
        # in which case eqNullSafe keeps them all and min-key decides)
        winners = (
            ranked.join(best, "comp")
            .filter(F.col("_val").eqNullSafe(F.col("_best")))
            .groupBy("comp")
            .agg(F.min("node").alias("winner"))
        )
        losers = (
            members.join(winners, "comp")
            .filter(F.col("node") != F.col("winner"))
            .select(F.col("node").alias(KEY))
        )

    losers = losers.localCheckpoint()
    n_losers = losers.count()
    n_clusters = members.select("comp").distinct().count()
    if dry_run or n_losers == 0:
        return {
            "clusters": n_clusters,
            "losers": n_losers,
            "batch_id": None,
            "op_sequence": None,
            "version": snap["version"],
            "dry_run": dry_run,
        }

    # one clock tick for the whole sweep; (version, seq) batch id —
    # stable across crash-retries, unique per logical sweep even after
    # a tombstone GC regresses the raw max seq (delete_where's lesson)
    seq = next_op_sequence(sink)
    schema = parse_schema(snap["schema"])
    payload = [
        f for f in schema.fields if f.name not in (KEY, SEQ, "deleted", CELL)
    ]
    events = losers.select(
        F.lit("D").alias("op"),
        F.lit(seq).cast("long").alias(SEQ),
        F.col(KEY),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload],
    )
    bid = batch_id or f"dedup-sweep-v{snap['version']}-{seq}"
    metrics = sink.apply_batch(events, bid)
    if metrics.get("skipped"):
        return {
            "clusters": n_clusters,
            "losers": 0,
            "batch_id": bid,
            "op_sequence": seq,
            "version": sink.current_snapshot()["version"],
            "dry_run": False,
            "skipped": metrics.get("reason", "batch id already committed"),
        }
    return {
        "clusters": n_clusters,
        "losers": n_losers,
        "batch_id": bid,
        "op_sequence": seq,
        "version": sink.current_snapshot()["version"],
        "dry_run": False,
    }
