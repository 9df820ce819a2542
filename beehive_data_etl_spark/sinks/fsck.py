"""Table integrity checker (``fsck``) for the snapshot sink.

Stats-pruned reads (``lookup``/``scan_range``), bucket-pruned
changelogs, and time travel all TRUST snapshot metadata: a recorded
key range that doesn't cover its file's actual keys silently drops
rows from point reads; a row sitting in the wrong bucket directory is
invisible to every pruned path while a full scan still sees it — the
worst kind of divergence, one that only shows up under pruning. This
module turns that trust into a checkable invariant, the engine's
analogue of Iceberg's metadata/manifest verification.

Two tiers:

- **metadata tier** (default): driver-side only, O(referenced files)
  footer reads, no Spark job. Verifies the snapshot chain is intact
  (every version's JSON from 1 to head exists — time travel's
  contract), every entry referenced by head AND by every tag resolves
  to an existing directory with readable parquet footers, every
  entry's schema DDL parses, bucket ids are inside the head's bucket
  space, and recorded key ranges COVER the actual footer ranges
  (recorded ⊇ actual is sound — parquet stat truncation widens, never
  narrows; actual outside recorded means pruning would skip live
  rows: an error). Orphan data dirs are reported informationally
  (they are vacuum's job, not corruption).

- **deep tier** (``deep=True``): adds ONE Spark aggregation job per
  distinct entry schema (a handful — schema evolution is rare) over
  the head's raw delta files, counting rows whose key hashes outside
  the bucket directory they sit in (bucket parsed from the file path,
  expected bucket recomputed with the sink's own bucket expression)
  plus NULL keys / NULL sequences. Cost is one full scan of the
  referenced bytes — the "audit a 10^10-row table in one pass" shape,
  column-pruned to (key, seq).

Returns a report dict with ``ok`` plus per-category findings; never
raises on corruption (the caller decides), only on unusable input.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from ..sources import table_meta as tm
from .snapshot import KEY, SEQ, _bucket_expr, _parquet_stats, parse_schema


def fsck(sink, deep: bool = False) -> dict:
    spark = sink.spark
    head = sink.current_snapshot()
    if head is None:
        raise ValueError("no snapshot yet — nothing to check")
    errors: list[str] = []
    info: list[str] = []

    # --- snapshot chain: time travel's contract is every version JSON
    # at or above the recorded expiry floor (expire_snapshots retires
    # the rest on purpose — a hole BELOW the floor is policy, not
    # corruption; a hole above it is corruption)
    floor = head.get("snapshot_floor", 1)
    missing_versions = [
        v
        for v in range(floor, head["version"] + 1)
        if not os.path.exists(tm.snapshot_path(sink.root, v))
    ]
    if missing_versions:
        errors.append(f"missing snapshot JSONs for versions {missing_versions}")
    if floor > 1:
        info.append(f"snapshot chain expired below v{floor}")

    # --- referenced entries: head + every tagged version
    checked_versions = {head["version"]: head}
    for name, v in sink.tags().items():
        try:
            checked_versions[v] = sink.snapshot(v)
        except (FileNotFoundError, ValueError):
            # ValueError: snapshot() converts a below-floor miss into
            # an informative "expired" error — but a TAGGED version's
            # JSON is supposed to survive expiry, so either way this
            # is corruption to REPORT, never a crash (fsck contract)
            errors.append(f"tag {name!r} points at missing version {v}")
    files_checked = 0
    # footer reads once per distinct directory, not per referencing
    # version — tags shortly behind head share most entry dirs
    stats_cache: dict[str, tuple] = {}

    def _stats(path: str):
        if path not in stats_cache:
            stats_cache[path] = _parquet_stats(os.path.join(sink.root, path))
        return stats_cache[path]

    for v, snap in sorted(checked_versions.items()):
        n_buckets = snap.get("n_buckets")
        if n_buckets is None:
            errors.append(f"v{v}: snapshot lacks n_buckets")
            continue
        for b, entries in snap["buckets"].items():
            if not (0 <= int(b) < n_buckets):
                errors.append(f"v{v}: bucket {b} outside space of {n_buckets}")
            for e in entries:
                d = os.path.join(sink.root, e["path"])
                if not os.path.isdir(d):
                    errors.append(f"v{v} bucket {b}: missing dir {e['path']}")
                    continue
                try:
                    parse_schema(e["schema"])
                except Exception:
                    errors.append(
                        f"v{v} bucket {b}: unparseable schema {e['schema']!r}"
                    )
                try:
                    rows, files, actual, actual_pf, actual_cols = _stats(
                        e["path"]
                    )
                except Exception as exc:  # unreadable footer = corruption
                    errors.append(
                        f"v{v} bucket {b}: unreadable parquet in {e['path']}: {exc}"
                    )
                    continue
                files_checked += len(files)
                if not files and rows == 0:
                    info.append(f"v{v} bucket {b}: empty entry {e['path']}")
                rec = e.get("key_range")
                # recorded must COVER actual (⊇ is sound; ⊉ means a
                # pruned read can skip live rows)
                if rec and rec[0] is not None and actual is not None:
                    if actual[0] < rec[0] or actual[1] > rec[1]:
                        errors.append(
                            f"v{v} bucket {b}: recorded key_range {rec} does "
                            f"not cover actual {actual} in {e['path']}"
                        )
                # per-FILE ranges are load-bearing in a stronger way:
                # when present, pruned reads enumerate files FROM THE
                # DICT — an on-disk file absent from it is invisible to
                # every lookup/scan_range, and a recorded range that
                # doesn't cover its file's actual range skips live rows
                rec_pf = e.get("file_ranges")
                if rec_pf:
                    unlisted = sorted(set(files) - set(rec_pf))
                    if unlisted:
                        errors.append(
                            f"v{v} bucket {b}: files {unlisted} in "
                            f"{e['path']} are absent from file_ranges — "
                            "invisible to pruned reads"
                        )
                    ghost = sorted(set(rec_pf) - set(files))
                    if ghost:
                        errors.append(
                            f"v{v} bucket {b}: file_ranges list missing "
                            f"files {ghost} in {e['path']}"
                        )
                    for name, rng in rec_pf.items():
                        a = (actual_pf or {}).get(name)
                        if a and rng and rng[0] is not None and (
                            a[0] < rng[0] or a[1] > rng[1]
                        ):
                            errors.append(
                                f"v{v} bucket {b}: file_ranges[{name}] "
                                f"{rng} does not cover actual {a} in "
                                f"{e['path']}"
                            )
                # per-COLUMN ranges: scan_where() prunes whole buckets
                # on these, so recorded must COVER actual; a recorded
                # all-NULL marker ([]) with actual non-null values means
                # pruned scans skip live rows
                for cname, rng in (e.get("col_ranges") or {}).items():
                    a = (actual_cols or {}).get(cname)
                    if a is None:
                        continue  # footer stats absent ⇒ unverifiable
                    if rng == [] and a != []:
                        errors.append(
                            f"v{v} bucket {b}: col_ranges[{cname}] claims "
                            f"all-NULL but actual is {a} in {e['path']}"
                        )
                        continue
                    try:
                        if rng and a and (a[0] < rng[0] or a[1] > rng[1]):
                            errors.append(
                                f"v{v} bucket {b}: col_ranges[{cname}] "
                                f"{rng} does not cover actual {a} in "
                                f"{e['path']}"
                            )
                    except TypeError:
                        pass  # incomparable recorded/actual ⇒ skip

    # --- orphans (informational: vacuum's jurisdiction, not corruption)
    # computed from the snapshots ALREADY loaded above — calling
    # sink._referenced_paths here would re-load every tagged snapshot
    # and crash on exactly the missing-tag-version corruption the tag
    # loop just recorded
    referenced = {
        e["path"]
        for snap in checked_versions.values()
        for ents in snap["buckets"].values()
        for e in ents
    }
    # branch heads reference data main's chain can't see — not orphans
    referenced |= {
        e["path"]
        for bh in sink._branch_heads()
        for ents in bh["buckets"].values()
        for e in ents
    }
    on_disk = {
        os.path.relpath(p, sink.root)
        for p in glob.glob(os.path.join(sink.root, "data", "*", "bucket=*"))
    }
    orphans = sorted(on_disk - referenced)
    if orphans:
        info.append(f"{len(orphans)} unreferenced data dirs (vacuum candidates)")

    report = {
        "version": head["version"],
        "n_buckets": head.get("n_buckets"),
        "files_checked": files_checked,
        "errors": errors,
        "info": info,
        "orphan_dirs": len(orphans),
    }

    if deep:
        if head.get("n_buckets") is None:
            report["deep"] = {
                "rows_scanned": 0,
                "errors": ["skipped: head lacks n_buckets"],
            }
        else:
            report["deep"] = _deep_check(spark, sink, head)
        errors.extend(report["deep"]["errors"])

    report["ok"] = not errors
    return report


def _deep_check(spark, sink, head) -> dict:
    """One column-pruned aggregation per distinct entry schema over the
    head's raw deltas: every row must hash to the bucket directory it
    sits in, and carry a key and a sequence."""
    by_schema: dict[str, list[str]] = {}
    for entries in head["buckets"].values():
        for e in entries:
            by_schema.setdefault(e["schema"], []).append(
                os.path.join(sink.root, e["path"])
            )
    n = head["n_buckets"]
    wrong_bucket = null_keys = null_seqs = rows = 0
    for ddl, dirs in by_schema.items():
        df = spark.read.schema(ddl).parquet(*sorted(set(dirs))).select(
            F.col(KEY), F.col(SEQ), F.input_file_name().alias("_f")
        )
        agg = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col(KEY).isNull().cast("long")).alias("nk"),
            F.sum(F.col(SEQ).isNull().cast("long")).alias("ns"),
            F.sum(
                (
                    _bucket_expr(n)
                    != F.regexp_extract("_f", r"bucket=(\d+)", 1).cast("int")
                ).cast("long")
            ).alias("wb"),
        ).collect()[0]
        rows += agg.rows
        null_keys += agg.nk or 0
        null_seqs += agg.ns or 0
        wrong_bucket += agg.wb or 0
    errors = []
    if wrong_bucket:
        errors.append(f"{wrong_bucket} rows hash outside their bucket dir")
    if null_keys:
        errors.append(f"{null_keys} rows with NULL {KEY}")
    if null_seqs:
        errors.append(f"{null_seqs} rows with NULL {SEQ}")
    return {"rows_scanned": rows, "errors": errors}
