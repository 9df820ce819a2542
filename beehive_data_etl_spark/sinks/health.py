"""Table health report: the operator-facing "what should maintenance
do next" diagnostic, computed ENTIRELY from snapshot metadata and
parquet footers — driver-side, no Spark job, O(referenced files)
footer reads (the same cost class as fsck's metadata tier).

At 10^10 rows the question is never "is the table broken" (fsck) but
"which levers need pulling": which buckets accumulated deltas (read
amplification), where small files pile up (open/seek overhead), how
skewed the bucket layout is (straggler tasks), how far metadata has
grown (snapshot chain, dedup window), and which retention floors lag.
Each finding carries the concrete API call that fixes it, so a
scheduler can act on the report mechanically.

Everything here is advisory: the report never mutates the table and
degrades gracefully on legacy metadata (entries without stats simply
don't contribute to the estimates)."""

from __future__ import annotations

import glob as _glob
import os
from concurrent.futures import ThreadPoolExecutor

from ..sources import table_meta as tm


def _dir_rows(path: str) -> list[int]:
    """Per-file row counts of a delta dir — the ONLY footer fact the
    report needs, so it reads exactly that (a full _parquet_stats pass
    would also build key/column ranges per row group only to discard
    them — review-found cost multiplier on a cron'd diagnostic)."""
    import pyarrow.parquet as pq

    return [
        pq.read_metadata(f).num_rows
        for f in sorted(_glob.glob(os.path.join(path, "*.parquet")))
    ]


def table_report(sink, small_file_rows: int | None = None) -> dict:
    """Metadata-only health report for a SnapshotSink table.

    Returns ``{"table": {...}, "buckets": {...}, "recommendations":
    [...]}`` where every recommendation is ``{"action", "reason",
    "call", "args"}`` — ``args`` carries the COMPLETE machine-usable
    parameters (full bucket lists, counts), ``call`` a human-readable
    summary of the engine API to run; mechanical actors consume
    ``action`` + ``args``, never parse ``call``.

    ``small_file_rows``: files below this row count are counted as
    small (default: the sink's ``target_file_rows`` if set, else
    10% of the mean rows-per-file)."""
    snap = sink.current_snapshot()
    if snap is None:
        return {
            "table": {"version": None},
            "buckets": {},
            "recommendations": [
                {
                    "action": "none",
                    "reason": "table has no snapshot yet",
                    "call": None,
                    "args": {},
                }
            ],
        }

    # one light footer pass per distinct referenced dir, threaded like
    # the publish-path stats harvest
    entries = [
        (int(b), e) for b, ents in snap["buckets"].items() for e in ents
    ]
    dirs = sorted({e["path"] for _, e in entries})
    with ThreadPoolExecutor(max_workers=min(16, max(1, len(dirs)))) as ex:
        stats = dict(
            zip(
                dirs,
                ex.map(
                    lambda p: _dir_rows(os.path.join(sink.root, p)), dirs
                ),
            )
        ) if dirs else {}

    buckets: dict[int, dict] = {}
    for b, e in entries:
        per_file = stats[e["path"]]
        cur = buckets.setdefault(
            b, {"deltas": 0, "rows": 0, "files": 0, "file_rows": []}
        )
        cur["deltas"] += 1
        cur["rows"] += sum(per_file)
        cur["files"] += len(per_file)
        cur["file_rows"].extend(per_file)

    all_rows = sorted(b["rows"] for b in buckets.values()) or [0]
    total_rows = sum(all_rows)
    total_files = sum(b["files"] for b in buckets.values())
    mean_rows_per_file = total_rows // max(1, total_files)
    if small_file_rows is None:
        small_file_rows = (
            sink.target_file_rows
            if getattr(sink, "target_file_rows", 0)
            else max(1, mean_rows_per_file // 10)
        )
    small_files = sum(
        1
        for b in buckets.values()
        for r in b["file_rows"]
        if r < small_file_rows
    )
    median_bucket = all_rows[len(all_rows) // 2]
    max_bucket = all_rows[-1]
    n_json = len(tm.chain_versions(sink.root))

    recs: list[dict] = []
    # advisory bar, NOT the sink's inline compact_threshold: a table
    # run with inline compaction disabled (high threshold) is exactly
    # the one whose delta accumulation maintenance must watch
    bar = 4
    dirty = sorted(b for b, s in buckets.items() if s["deltas"] >= bar)
    if dirty:
        recs.append(
            {
                "action": "compact",
                "reason": f"{len(dirty)} bucket(s) hold >= "
                f"{bar} deltas (read amplification: every "
                "read folds them)",
                "call": f"sink.compact(buckets=<{len(dirty)} buckets, "
                "see args>)",
                "args": {"buckets": dirty},
            }
        )
    if small_files > max(4, total_files // 10):
        recs.append(
            {
                "action": "compact-small-files",
                "reason": f"{small_files}/{total_files} files under "
                f"{small_file_rows} rows (per-file open/seek overhead)",
                "call": "sink.compact()",
                "args": {"small_files": small_files},
            }
        )
    # bucket skew: the unit of merge parallelism — one bucket far
    # above the median makes straggler tasks at every fold
    if median_bucket > 0 and max_bucket > 4 * median_bucket:
        recs.append(
            {
                "action": "investigate-skew",
                "reason": f"largest bucket holds {max_bucket} raw rows vs "
                f"median {median_bucket} (straggler tasks at every merge; "
                "hot keys? enable salting, or rebucket if the table "
                "outgrew its bucket count — a human call, not automatic)",
                "call": "SnapshotSink(..., salt_partials=<args>) or "
                "sink.rebucket(<args>)",
                "args": {
                    "salt_partials": 8,
                    "rebucket_to": 2 * snap["n_buckets"],
                    "max_bucket_rows": max_bucket,
                    "median_bucket_rows": median_bucket,
                },
            }
        )
    # average deltas-per-bucket ~ rows folded per read beyond 1x
    if total_rows > 0 and snap["n_buckets"] > 0:
        rows_per_bucket = total_rows / snap["n_buckets"]
        if rows_per_bucket > 50_000_000:
            recs.append(
                {
                    "action": "rebucket",
                    "reason": f"~{int(rows_per_bucket)} raw rows per bucket "
                    "— bucket state stops fitting an executor partition",
                    "call": "sink.rebucket(<args>)",
                    "args": {"rebucket_to": 2 * snap["n_buckets"]},
                }
            )
    n_batches = len(snap.get("committed_batches", []))
    if n_batches > 10_000:
        recs.append(
            {
                "action": "trim-dedup-window",
                "reason": f"{n_batches} committed batch ids copied into "
                "every snapshot JSON",
                "call": "sink.trim_committed_batches(retain_last=<args>)",
                "args": {"retain_last": 10_000},
            }
        )
    if n_json > 10_000:
        recs.append(
            {
                "action": "expire-snapshots",
                "reason": f"{n_json} snapshot JSONs on disk (metadata "
                "chain growth)",
                "call": "sink.expire_snapshots(keep_last=<args>)",
                "args": {"keep_last": 10_000},
            }
        )
    if not recs:
        recs.append(
            {
                "action": "none",
                "reason": "table is healthy",
                "call": None,
                "args": {},
            }
        )

    return {
        "table": {
            "version": snap["version"],
            "n_buckets": snap["n_buckets"],
            "schema_version": snap.get("schema_version", 0),
            "raw_rows": total_rows,
            "files": total_files,
            "small_files": small_files,
            "small_file_rows": small_file_rows,
            "snapshot_jsons": n_json,
            "snapshot_floor": snap.get("snapshot_floor", 1),
            "tombstone_floor": snap.get("tombstone_floor", 0),
            "committed_batches": n_batches,
            "patch": bool(snap.get("patch", False)),
            "max_bucket_rows": max_bucket,
            "median_bucket_rows": median_bucket,
        },
        "buckets": {
            b: {k: v for k, v in s.items() if k != "file_rows"}
            for b, s in sorted(buckets.items())
        },
        "recommendations": recs,
    }
