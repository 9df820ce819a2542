"""The Arrow merge-on-read fold over SnapshotSink tables, Spark-free.

One fold, two callers:

- the ``beehive`` Data Sources (``sources/spark_datasource.py``) run it
  inside Spark's Python workers, one table bucket per input partition;
- ``SnapshotSink`` (``sinks/snapshot.py``) runs it on the driver to
  answer one-bucket point reads (``lookup``) and small row-LWW
  changelog windows (``read_changes``) without launching a Spark job.

The fold is a vectorized two-pass over a bucket's parquet files: pass 1
reads only the (key, seq, deleted) columns and picks each key's LWW
winner with a pandas groupby-idxmax; pass 2 ``take``s exactly the
winning rows with the full projection, so loser versions never
materialize their token arrays. A changelog window diffs the FROM and
TO winners of the keys the window's added files hold (``read_changes``'
I/U/D truth table). Parity with the sink's Spark fold is pinned by
tests/test_spark_datasource.py and tests/test_driver_reads.py.

Point reads plan from the snapshot's recorded key ranges: an entry
whose ``key_range`` — or, inside a sorted rewrite, a file whose
``file_ranges`` range — cannot hold any probe key is never opened
(``_range_may_contain``, the rule the sink's Spark scans use), and the
files that remain are read only in the row groups whose key statistics
admit a probe.

Everything here is plain file I/O plus pyarrow/pandas: no SparkSession,
no JVM, no pyspark import.
"""

from __future__ import annotations

import bisect
import os
from dataclasses import dataclass, field

import pyarrow as pa

from . import table_meta as tm

KEY, SEQ, DELETED = tm.KEY, tm.SEQ, tm.DELETED
CHANGE = "change_type"


@dataclass
class BucketWork:
    """One table bucket's work: absolute delta-file paths in commit
    order (new state), plus — for changelog windows — the FROM-version
    file list and the window's newly added files (candidate keys)."""

    bucket: int
    new_files: list[str] = field(default_factory=list)
    old_files: list[str] = field(default_factory=list)
    added_files: list[str] = field(default_factory=list)
    # probed key values (point reads): passed as parquet row-group
    # filters on BOTH fold passes — sound for LWW because every version
    # of a key carries the key (the file-level key-prune argument),
    # unlike payload predicates which must never prune below the fold
    key_values: list | None = None


# ----------------------------------------------------------------- planning
def _range_may_contain(key_range, keys_sorted: list) -> bool:
    """True unless the entry's recorded [min, max] proves NONE of the
    (sorted) probe keys can be in the file. Missing/legacy range ⇒
    True (never skip on absent evidence)."""
    if not key_range or key_range[0] is None:
        return True
    i = bisect.bisect_left(keys_sorted, key_range[0])
    return i < len(keys_sorted) and keys_sorted[i] <= key_range[1]


def _bucket_files(
    root: str, snap: dict, bucket: int, key_values: list | None = None
) -> list[str]:
    """Entry paths expanded to concrete parquet part files (an entry is
    a directory of part files — one per write task, or several when
    target_file_rows split a sorted rewrite). Given ``key_values``, an
    entry or a file whose recorded key range cannot hold any of them is
    skipped: it holds no version of a probed key."""
    keys = None if key_values is None else sorted(key_values)
    paths: list[str] = []
    for ent in snap["buckets"].get(str(bucket), []):
        if keys is not None and not _range_may_contain(ent.get("key_range"), keys):
            continue
        p = os.path.join(root, ent["path"])
        file_ranges = ent.get("file_ranges")
        if keys is not None and file_ranges:
            paths.extend(
                os.path.join(p, name)
                for name, rng in sorted(file_ranges.items())
                if _range_may_contain(rng, keys)
            )
        elif os.path.isdir(p):
            for dirpath, _, names in sorted(os.walk(p)):
                paths.extend(
                    os.path.join(dirpath, n)
                    for n in sorted(names)
                    if n.endswith(".parquet")
                )
        else:
            paths.append(p)
    return paths


def _refuse_patch(snap: dict, root: str) -> None:
    if snap.get("patch"):
        raise RuntimeError(
            f"table at {root} is per-cell (patch=True): the flat "
            "data-source row cannot carry cell clocks, so a consumer "
            "would silently diverge on late out-of-order patches. Read "
            "it through SnapshotSink.read_final/read_changes "
            "(include_cells=True) or replicate with a patch-mode "
            "Replicator instead."
        )


def plan_window_partitions(root: str, frm: int, to: int) -> list[BucketWork]:
    """Changelog window (frm, to] of the table's main chain, with the
    refusals of the changelog stream: windows spanning a rollback,
    backfill, purge, column alter, rebucket or tombstone-floor advance,
    and per-cell patch tables, raise with recovery guidance."""
    if to <= frm:
        return []
    # frm == 0 is the bootstrap: a pure state copy of the TO version
    # that never reads history, so the per-version marker walk is both
    # unnecessary and wrong there (it would do O(history) JSON loads
    # and crash on expired snapshots / old markers) — the same
    # exemption Replicator.sync gives its initial full copy.
    if frm > 0:
        tm.refuse_unstreamable_window(root, frm, to)
    new_snap = tm.load_snapshot(root, to)
    _refuse_patch(new_snap, root)
    old_snap = tm.load_snapshot(root, frm) if frm > 0 else None
    if old_snap is not None and old_snap["n_buckets"] != new_snap["n_buckets"]:
        raise RuntimeError(
            f"rebucket inside stream window ({frm}, {to}]: bucket "
            "identities shifted, the per-bucket diff is undefined. "
            "Restart the stream from a fresh checkpoint with "
            f"startingVersion={to} (full re-bootstrap), or re-point the "
            "consumer after reconciling out of band."
        )
    if old_snap is not None and old_snap.get("tombstone_floor", 0) != new_snap.get(
        "tombstone_floor", 0
    ):
        # expire_tombstones drops tombstones at the NEXT fold; a window
        # spanning the floor advance could contain a delete whose
        # tombstone was created AND folded away inside it — the key
        # vanishes from every window-added file, so the candidate-key
        # diff would silently miss the D row read_changes emits. The
        # sink-side readers diff whole states and don't care; here we
        # refuse, which is cheap to honor (consume faster than the
        # tombstone retention horizon — the same contract a compacted
        # Kafka topic imposes).
        raise RuntimeError(
            f"tombstone_floor advanced inside stream window ({frm}, "
            f"{to}] (expire_tombstones ran): a delete folded away inside "
            "the window would be missed. Consume in windows that don't "
            "span a floor advance, or restart from a fresh checkpoint "
            f"with startingVersion={to} after reconciling."
        )
    return window_partitions(root, old_snap, new_snap)


def window_partitions(
    root: str, old_snap: dict | None, new_snap: dict
) -> list[BucketWork]:
    """Per bucket of an already-vetted window (same bucket count, no
    floor advance): the FROM and TO file lists plus the window-added
    files. Buckets with no added files are pruned (rewrite-only buckets
    change no state — compaction replaces paths but every key's winning
    (seq, value) is unchanged, and candidate keys from a rewrite-added
    file fold to zero diff rows)."""
    parts = []
    for b in range(new_snap["n_buckets"]):
        new_files = _bucket_files(root, new_snap, b)
        old_files = (
            _bucket_files(root, old_snap, b) if old_snap is not None else []
        )
        old_set = set(old_files)
        added = [p for p in new_files if p not in old_set]
        if not added:
            continue
        parts.append(
            BucketWork(
                bucket=b,
                new_files=new_files,
                old_files=old_files,
                added_files=added,
            )
        )
    return parts


def uncompressed_bytes(paths: list[str]) -> int:
    """The files' uncompressed row-group bytes, from their footers."""
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        md = pq.read_metadata(p)
        total += sum(md.row_group(g).total_byte_size for g in range(md.num_row_groups))
    return total


# ---------------------------------------------------------------- the fold
def _matching_row_groups(pf, key_values: list) -> list[int]:
    """Row groups whose key statistics admit any probed value —
    stats-missing groups are kept (never prune on absence of proof,
    the same rule as _range_may_contain).  Deterministic function of
    (file, key_values): both fold passes select identical groups,
    which is what keeps their row ordinals aligned."""
    md = pf.metadata
    leaf = next(
        i for i in range(len(md.schema)) if md.schema.column(i).path == KEY
    )
    keep = []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(leaf).statistics
        if (
            st is None
            or not st.has_min_max
            or any(st.min <= v <= st.max for v in key_values)
        ):
            keep.append(g)
    return keep


def _read_cols(path: str, columns: list[str], key_values: list | None = None):
    """Read a parquet file restricted to the columns it actually has
    (older-schema deltas lack later columns).  ``key_values`` (point
    reads) prunes row groups by key statistics — the I/O win on
    compacted key-sorted buckets, where a probe decodes one row group
    instead of the bucket (surviving groups are read whole; callers
    re-apply the key predicate row-level).  One footer read per file:
    names, stats, and data all come off the same ParquetFile.
    CRITICAL ordinal contract: both fold passes of one partition must
    pass the SAME key_values, because row ordinals index the
    (identically) pruned read."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    have = set(pf.schema_arrow.names)
    cols = [c for c in columns if c in have]
    if key_values is None:
        return pf.read(columns=cols), have
    groups = _matching_row_groups(pf, key_values)
    if not groups:
        return pf.schema_arrow.empty_table().select(cols), have
    return pf.read_row_groups(groups, columns=cols), have


def _versions(files: list[str], key_values: list | None = None):
    """Pass 1's input: every (key, seq, deleted) row of ``files`` as a
    pandas frame with its file ordinal ``f`` and row ordinal ``r``.
    Only those three columns' bytes are read; token arrays of loser
    versions never leave the parquet file."""
    import pandas as pd

    frames = []
    for i, path in enumerate(files):
        t, _ = _read_cols(path, [KEY, SEQ, DELETED], key_values)
        df = t.to_pandas()
        df["f"] = i
        df["r"] = range(len(df))
        frames.append(df)
    if not frames:
        return pd.DataFrame(columns=[KEY, SEQ, DELETED, "f", "r"])
    return pd.concat(frames, ignore_index=True)


def _winners(versions):
    """Pass 1 of the merge-on-read fold: per-key LWW winner location
    among ``_versions`` rows.

    Returns a pandas frame indexed by key with columns (seq, deleted,
    f, r) — the winning row's file ordinal and row ordinal.  Ties keep
    the first-read row — duplicate deliveries are byte-identical by the
    envelope contract (operators/lww.py), so either copy is the same
    row."""
    if len(versions) == 0:
        return versions.set_index(KEY)
    win = versions.loc[versions.groupby(KEY, sort=False)[SEQ].idxmax()]
    return win.set_index(KEY)


def _align(table: pa.Table, target: pa.Schema) -> pa.Table:
    """pyarrow twin of ``operators/schema_evolution.align_to_schema``:
    missing columns become typed nulls, widened columns cast."""
    n = table.num_rows
    cols = []
    for fld in target:
        if fld.name in table.column_names:
            col = table.column(fld.name)
            if col.type != fld.type:
                col = col.cast(fld.type)
            cols.append(col)
        else:
            cols.append(pa.nulls(n, fld.type))
    return pa.Table.from_arrays(cols, schema=target)


def _take_rows(
    files: list[str],
    win,
    keys,
    target: pa.Schema,
    extra_cols: dict | None = None,
    key_values: list | None = None,
):
    """Pass 2: materialize the winning rows of ``keys`` (an index into
    ``win``), aligned to ``target``, optionally appending constant-ish
    extra columns (the changelog's change_type), yielding one
    RecordBatch per source file."""
    import numpy as np

    sel = win.loc[list(keys)] if keys is not None else win
    read_cols = [f.name for f in target if f.name != CHANGE]
    for i, path in enumerate(files):
        rows = sel[sel["f"] == i]
        if len(rows) == 0:
            continue
        order = np.sort(rows["r"].to_numpy())
        t, _ = _read_cols(path, read_cols, key_values)
        t = t.take(pa.array(order))
        if extra_cols:
            # map each taken row back to its key to fetch its tag
            key_of = rows.reset_index().set_index("r").loc[order, KEY]
            tags = pa.array([extra_cols[k] for k in key_of], pa.string())
            t = _align(t, pa.schema([f_ for f_ in target if f_.name != CHANGE]))
            t = t.append_column(CHANGE, tags)
        else:
            t = _align(t, target)
        for batch in t.to_batches():
            yield batch


def read_state_partition(part: BucketWork, target: pa.Schema, internal: bool):
    """Fold the bucket, emit live winners (read_final parity), or all
    winners when ``internal``. With ``key_values`` set, winners of
    unprobed keys in the surviving row groups may be stale: callers
    filter to the probed keys."""
    win = _winners(_versions(part.new_files, part.key_values))
    if not internal and len(win) > 0:
        win = win[~win[DELETED].astype(bool)]
    yield from _take_rows(
        part.new_files, win, None, target, key_values=part.key_values
    )


def read_changes_partition(part: BucketWork, target: pa.Schema):
    """Diff the bucket's FROM and TO states restricted to keys seen in
    window-added files — ``read_changes``'s I/U/D contract computed
    inside one partition."""
    import numpy as np

    versions = _versions(part.new_files)
    new_win = _winners(versions)
    old_win = _winners(_versions(part.old_files))
    # candidate keys: pass 1 already read every added file's keys
    added = set(part.added_files)
    touched = [i for i, p in enumerate(part.new_files) if p in added]
    cand = versions.loc[versions["f"].isin(touched), KEY].unique()
    # vectorized I/U/D tagging over the candidate slice (read_changes'
    # truth table): reindex the FROM-state winners onto the candidate
    # keys — absent keys surface as NaN, i.e. not-old-live
    idx = new_win.index.intersection(cand)
    if len(idx) == 0:
        return
    nw = new_win.loc[idx]
    old = old_win.reindex(idx)
    new_live = ~nw[DELETED].astype(bool).to_numpy()
    # NaN == False is False, so keys absent from the FROM state read as
    # not-old-live without any dtype coercion
    old_live = (old[DELETED] == False).to_numpy()  # noqa: E712
    # reindex floats the seq column when keys are absent — float64 is
    # exact for int seqs below 2^53, far above any real op_sequence
    # clock (10^10-event replays sit near 2^34)
    seq_adv = nw[SEQ].to_numpy() > old[SEQ].to_numpy(
        dtype="float64", na_value=-(2.0**63)
    )
    tag = np.where(
        new_live & ~old_live,
        "I",
        np.where(
            new_live & old_live & seq_adv,
            "U",
            np.where(~new_live & old_live, "D", ""),
        ),
    )
    tags = {k: t for k, t in zip(idx, tag) if t}
    if not tags:
        return
    yield from _take_rows(part.new_files, new_win, tags.keys(), target, tags)
