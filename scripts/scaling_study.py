#!/usr/bin/env python
"""Dedup/text-family scaling study (VERDICT r04 item 6): one measured
10x-per-step data series for the queries whose 100 TB claims otherwise
rest on plan shape alone.

Tiers: sf0.01 (500 docs) -> sf0.1 (5 000 docs, the largest tier
/root/testdata holds) -> docs_x10 (50 000 docs), where docs_x10 is
derived DETERMINISTICALLY from sf0.1 per the round brief ("synthesise
it deterministically at small scale"): each replica r in 1..9 re-keys
doc_id by +r*10_000_000 and permutes each document's words by sorting
on xxhash64(word, position, r). The positional permutation is shared
by all docs within a replica, so two near-duplicate documents stay
near-duplicates of each other inside every replica (the corpus's REAL
duplicate structure scales linearly), while a doc shares almost no
3-word shingles with its own permuted replicas (random word order ~
disjoint trigrams), so replication does not manufacture cross-replica
duplicate clusters the original corpus doesn't have. All other tables
are symlinked from sf0.1 unchanged.

Writes BENCH/scaling_queries.md: per-query walls at the three tiers,
the 10x step ratios, and a SUPRALINEAR flag for any step whose wall
grows more than 10 x 1.3 (constant-dominated small tiers make
sub-10x ratios the expected shape; anything well above 10x means a
super-linear join/shuffle and needs investigation).

Usage: python scripts/scaling_study.py   (from the repo root; ~5 min)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BENCH_TMP = os.environ.get("SPARK_GRAFT_BENCH_TMP", "/tmp/beehive_bench")
X10_DIR = os.path.join(BENCH_TMP, "docs_x10")
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"

# the most expensive dedup/text queries of BENCH_r04 (desc wall order)
QUERIES_UNDER_STUDY = [
    "q_dedup_sweep",
    "q_cooccur",
    "q_dedup_incremental",
    "q_dup_span",
    "q_dedup_minhash",
    "q_dup_ngram_fraction",
    "q_tfidf",
    "q_bm25",
    "q_entropy",
    "q_decontaminate",
]


def build_x10(spark) -> str:
    from pyspark.sql import functions as F

    marker = os.path.join(X10_DIR, "_built")
    if os.path.exists(marker):
        return X10_DIR
    os.makedirs(X10_DIR, exist_ok=True)
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        dst = os.path.join(X10_DIR, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF01, f"{t}.parquet"), dst)
    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    reps = []
    for r in range(10):
        if r == 0:
            reps.append(docs)
            continue
        words = F.split(F.col("text"), " ")
        # deterministic positional permutation shared by every doc of
        # replica r: sort (hash(word,pos,r), word) pairs by hash
        permuted = F.array_join(
            F.transform(
                F.array_sort(
                    F.transform(
                        words,
                        lambda w, i: F.struct(
                            F.xxhash64(w, i, F.lit(r)).alias("h"),
                            w.alias("w"),
                        ),
                    )
                ),
                lambda s: s["w"],
            ),
            " ",
        )
        reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
                permuted.alias("text"),
                "lang",
                "source",
                F.length(permuted).alias("n_chars"),
            )
        )
    out = reps[0]
    for d in reps[1:]:
        out = out.unionByName(d)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(X10_DIR, "documents.parquet")
    )
    open(marker, "w").close()
    return X10_DIR


def main() -> None:
    from beehive_data_etl_spark.plans.queries import QUERIES
    from beehive_data_etl_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("scaling-study", cores=cpus, shuffle_partitions=2 * cpus)
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    build_x10(spark)
    tiers = [("sf0.01", SF001, 500), ("sf0.1", SF01, 5000), ("x10", X10_DIR, 50000)]
    walls: dict[str, dict[str, float]] = {}
    for name in QUERIES_UNDER_STUDY:
        walls[name] = {}
        for tier, path, _ in tiers:
            best = None
            for _ in range(2):
                t0 = time.time()
                QUERIES[name](spark, path).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            walls[name][tier] = round(best, 2)
            print(f"{name} @ {tier}: {best:.2f}s", flush=True)

    lines = [
        "# Query-family scaling study (dedup/text, 10x steps)",
        "",
        f"generated {time.strftime('%Y-%m-%d %H:%M UTC', time.gmtime())} · "
        f"local[{cpus}] · tiers: sf0.01 (500 docs) / sf0.1 (5 000) / "
        "x10 (50 000, deterministic permuted replication of sf0.1 — see "
        "scripts/scaling_study.py header for why replication preserves "
        "the corpus's duplicate structure without manufacturing "
        "cross-replica duplicates)",
        "",
        "| query | sf0.01 s | sf0.1 s | x10 s | step1 (x10 data) | "
        "step2 (x10 data) | verdict |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    flagged = []
    for name in QUERIES_UNDER_STUDY:
        w = walls[name]
        r1 = w["sf0.1"] / max(w["sf0.01"], 1e-9)
        r2 = w["x10"] / max(w["sf0.1"], 1e-9)
        over = [(step, r) for step, r in (("step1", r1), ("step2", r2)) if r > 13.0]
        verdict = "SUPRALINEAR — investigate" if over else "ok (sublinear-to-linear)"
        flagged += [(name, step, r) for step, r in over]
        lines.append(
            f"| {name} | {w['sf0.01']} | {w['sf0.1']} | {w['x10']} "
            f"| {r1:.1f}x | {r2:.1f}x | {verdict} |"
        )
    lines += [
        "",
        "Reading: each step multiplies the document count by 10. Walls "
        "growing ~<=10x per step are at-or-below linear in data (the "
        "small tiers are constant/latency-dominated, so sub-10x ratios "
        "dominate); a step ratio well above 10x would mean a "
        "super-linear join or shuffle hiding behind the plan shape — "
        "the exact failure the 100 TB claims must exclude.",
    ]
    if flagged:
        lines += [
            "",
            "## Flagged for investigation",
            "",
        ] + [f"- {n}: {step} ratio {r:.1f}x" for n, step, r in flagged]
    else:
        lines += ["", "No step exceeded the 13x supralinear threshold."]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling_queries.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(json.dumps(walls, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
