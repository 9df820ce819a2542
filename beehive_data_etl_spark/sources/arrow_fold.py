"""The Arrow merge-on-read fold over SnapshotSink tables, Spark-free.

One fold, three callers:

- the ``beehive`` Data Sources (``sources/spark_datasource.py``) run it
  inside Spark's Python workers, one table bucket per input partition;
- ``SnapshotSink`` (``sinks/snapshot.py``) runs it on the driver to
  answer one-bucket point reads (``lookup``) and small row-LWW
  changelog windows (``read_changes``, every touched bucket in one
  call) without launching a Spark job;
- ``SnapshotSink``'s small-batch ingest (``apply_wal`` and the small
  row-LWW ``apply_batch``) folds a batch, held in memory, together
  with the files of the buckets it compacts inline.

The fold is a two-pass over sources (parquet files or in-memory Arrow
tables) on pyarrow compute, whole columns per call: pass 1 reads only
the (key, seq, deleted) columns of every source, tags each row with its
source ordinal ``f`` and row ordinal ``r``, sorts by (key, seq desc, f,
r) with ``sort_indices`` and keeps the first row of each key's run —
the LWW winner, the first-read row on seq ties; pass 2 ``take``s
exactly the winning rows with the full projection, so loser versions
never materialize their token arrays. Each parquet source is opened
once per call and both passes read from that handle. A changelog
window diffs the FROM and TO winners of the keys the window's added
files hold (``read_changes``' I/U/D truth table), reading the (key,
seq, deleted) columns of each distinct file of the two versions once.
Keys never straddle buckets, so one call may fold any set of whole
buckets. Parity with the sink's Spark fold is pinned by
tests/test_spark_datasource.py, tests/test_driver_reads.py and
tests/test_merge_routes.py.

Point reads plan from the snapshot's recorded key ranges: an entry
whose ``key_range`` — or, inside a sorted rewrite, a file whose
``file_ranges`` range — cannot hold any probe key is never opened
(``_range_may_contain``, the rule the sink's Spark scans use), and the
files that remain are read only in the row groups whose key statistics
admit a probe.

Everything here is plain file I/O plus pyarrow/numpy: no SparkSession,
no JVM, no pyspark import.
"""

from __future__ import annotations

import bisect
import os
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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
    # that never reads history (classify_window's first build, the same
    # exemption Replicator.sync gives its initial full copy)
    tm.refuse_unstreamable_window(root, frm, to)
    new_snap = tm.load_snapshot(root, to)
    _refuse_patch(new_snap, root)
    old_snap = tm.load_snapshot(root, frm) if frm > 0 else None
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


# bytes per value once read into Arrow (a BYTE_ARRAY's offset; its
# bytes are in the chunk's uncompressed size)
_DECODED_WIDTH = {"BOOLEAN": 1, "INT32": 4, "FLOAT": 4, "INT64": 8,
                  "DOUBLE": 8, "INT96": 12, "BYTE_ARRAY": 4}


def decoded_bytes(paths: list[str]) -> int:
    """The files' size once read into Arrow, from their footers: per
    column chunk, the larger of its uncompressed bytes and its values
    at their decoded width. A dictionary-encoded chunk's uncompressed
    bytes are its indices, often half the values they stand for or
    less (40k events of token lists: 20 MB uncompressed, 40 MB read);
    only the bytes of strings a dictionary repeats stay counted once."""
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        md = pq.read_metadata(p)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                width = _DECODED_WIDTH.get(cc.physical_type) or md.schema.column(c).length
                total += max(cc.total_uncompressed_size, cc.num_values * width)
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


@contextmanager
def opened_sources(sources: list):
    """Each source as the fold reads it: an in-memory Arrow table as
    is, a parquet file path opened once — one footer read — so both
    passes of a call share the handle; the files close on exit."""
    import pyarrow.parquet as pq

    with ExitStack() as stack:
        yield [
            s if isinstance(s, pa.Table) else stack.enter_context(pq.ParquetFile(s))
            for s in sources
        ]


def _read_cols(src, columns: list[str], key_values: list | None = None):
    """A source's ``columns`` that it actually has (older-schema deltas
    lack later columns). A source is an in-memory Arrow table or an
    opened ``ParquetFile`` (``opened_sources``); for a file,
    ``key_values`` (point reads) prunes row groups by key statistics —
    the I/O win on compacted key-sorted buckets, where a probe decodes
    one row group instead of the bucket (surviving groups are read
    whole; callers re-apply the key predicate row-level).
    CRITICAL ordinal contract: both fold passes of one partition must
    pass the SAME key_values, because row ordinals index the
    (identically) pruned read."""
    if isinstance(src, pa.Table):
        return src.select([c for c in columns if c in src.column_names])
    have = set(src.schema_arrow.names)
    cols = [c for c in columns if c in have]
    if key_values is None:
        return src.read(columns=cols)
    groups = _matching_row_groups(src, key_values)
    if not groups:
        return src.schema_arrow.empty_table().select(cols)
    return src.read_row_groups(groups, columns=cols)


def _versions(sources: list, key_values: list | None = None) -> pa.Table:
    """Pass 1's input: every (key, seq, deleted) row of the opened
    ``sources`` with its source ordinal ``f`` and row ordinal ``r``.
    Only those three columns' bytes are read; token arrays of loser
    versions never leave the parquet file."""
    return _tag_versions(
        [_read_cols(src, [KEY, SEQ, DELETED], key_values) for src in sources]
    )


def _tag_versions(reads: list[pa.Table]) -> pa.Table:
    """``reads`` (one (key, seq, deleted) table per source) as one
    table with source ordinals ``f`` and row ordinals ``r``. A key
    widened across sources (int → bigint) reads as the widest type."""
    tables = []
    for i, t in enumerate(reads):
        n = t.num_rows
        tables.append(
            t.append_column("f", pa.array(np.full(n, i, np.int32)))
            .append_column("r", pa.array(np.arange(n, dtype=np.int64)))
        )
    if not tables:
        return pa.table(
            {KEY: pa.array([], pa.null()), SEQ: pa.array([], pa.int64()),
             DELETED: pa.array([], pa.bool_()), "f": pa.array([], pa.int32()),
             "r": pa.array([], pa.int64())}
        )
    return pa.concat_tables(tables, promote_options="permissive")


def _winners(versions: pa.Table) -> pa.Table:
    """Pass 1 of the merge-on-read fold: each key's LWW winner among
    ``_versions`` rows, sorted by key — its (key, seq, deleted) and the
    source and row ordinals ``f``, ``r`` that locate it. One sort on
    (key, seq desc, f, r) puts each key's winner first in its run, so
    ties keep the first-read row — duplicate deliveries are
    byte-identical by the envelope contract (operators/lww.py), so
    either copy is the same row. As in Spark's grouping, -0.0 and 0.0
    keys form one run, all NaN keys one, and all NULL keys one."""
    if versions.num_rows == 0:
        return versions
    order = pc.sort_indices(
        versions,
        sort_keys=[(KEY, "ascending"), (SEQ, "descending"),
                   ("f", "ascending"), ("r", "ascending")],
    )
    keys = versions[KEY].take(order).combine_chunks()
    prev, cur = keys.slice(0, len(keys) - 1), keys.slice(1)
    same = pc.or_(
        pc.fill_null(pc.equal(cur, prev), False),
        pc.and_(pc.is_null(cur), pc.is_null(prev)),
    )
    if pa.types.is_floating(keys.type):
        same = pc.or_(same, pc.fill_null(pc.and_(pc.is_nan(cur), pc.is_nan(prev)), False))
    first = pa.concat_arrays([pa.array([True]), pc.invert(same)])
    return versions.take(order.filter(first))


def canonical_keys(table: pa.Table) -> pa.Table:
    """``table`` with its float keys stored as Spark's grouping stores
    them: -0.0 as 0.0 and every NaN as the canonical NaN. Ingest runs
    it on a batch before the fold, so both routes write the same key
    bits."""
    key = table[KEY]
    if not pa.types.is_floating(key.type):
        return table
    zero, nan = pa.scalar(0.0, key.type), pa.scalar(float("nan"), key.type)
    key = pc.if_else(pc.equal(key, zero), zero, key)
    key = pc.if_else(pc.is_nan(key), nan, key)
    return table.set_column(table.column_names.index(KEY), KEY, key)


def _align(table: pa.Table, target: pa.Schema) -> pa.Table:
    """pyarrow twin of ``operators/schema_evolution.align_to_schema``:
    missing columns become typed nulls, widened columns cast (unchecked,
    like Spark's cast)."""
    n = table.num_rows
    cols = []
    for fld in target:
        if fld.name in table.column_names:
            col = table.column(fld.name)
            if col.type != fld.type:
                col = col.cast(fld.type, safe=False)
            cols.append(col)
        else:
            cols.append(pa.nulls(n, fld.type))
    return pa.Table.from_arrays(cols, schema=target)


_ORDINALS = {KEY, SEQ, DELETED, "f", "r"}


def _take_rows(
    sources: list, win: pa.Table, target: pa.Schema, key_values: list | None = None
) -> pa.Table:
    """Pass 2: the rows ``win`` locates, in ``win``'s order, aligned to
    ``target``, from the opened ``sources`` pass 1 read. Each source is
    read once, and only when it holds a winner. A ``target`` column
    that ``win`` carries beyond the fold's own (a changelog's
    change_type, ingest's bucket) comes from ``win`` rather than from
    the sources."""
    extra = [f for f in target if f.name in win.column_names and f.name not in _ORDINALS]
    data = pa.schema([f for f in target if f not in extra])
    f = win["f"].to_numpy()
    r = win["r"].to_numpy()
    pieces, pos = [], []
    for i, src in enumerate(sources):
        idx = np.flatnonzero(f == i)
        if idx.size:
            t = _read_cols(src, data.names, key_values).take(pa.array(r[idx]))
            pieces.append(_align(t, data))
            pos.append(idx)
    if not pieces:
        return target.empty_table()
    out = pa.concat_tables(pieces).take(pa.array(np.argsort(np.concatenate(pos))))
    for fld in extra:
        out = out.append_column(fld, win[fld.name].cast(fld.type))
    return out.select(target.names)


def read_state_partition(part: BucketWork, target: pa.Schema, internal: bool):
    """Fold the bucket, emit live winners (read_final parity), or all
    winners when ``internal``. With ``key_values`` set, winners of
    unprobed keys in the surviving row groups may be stale: callers
    filter to the probed keys."""
    with opened_sources(part.new_files) as sources:
        win = _winners(_versions(sources, part.key_values))
        if not internal:
            win = win.filter(pc.invert(win[DELETED]))
        rows = _take_rows(sources, win, target, part.key_values)
    yield from rows.to_batches()


def read_changes_partition(part: BucketWork, target: pa.Schema):
    """Diff the FROM and TO states restricted to keys seen in
    window-added files — ``read_changes``'s I/U/D contract computed in
    one call over one bucket, or over several whole buckets at once.
    Each distinct file of FROM ∪ TO is opened once and its (key, seq,
    deleted) read once, shared by both states; both are cut to the
    candidate keys before their winner sorts."""
    paths = list(dict.fromkeys(part.new_files + part.old_files))
    with opened_sources(paths) as handles:
        rows = _changed_rows(part, dict(zip(paths, handles)), target)
    if rows is not None:
        yield from rows.to_batches()


def _changed_rows(
    part: BucketWork, handles: dict, target: pa.Schema
) -> pa.Table | None:
    """``read_changes_partition`` over the opened files, by path."""
    reads = {p: _read_cols(h, [KEY, SEQ, DELETED]) for p, h in handles.items()}
    versions = _tag_versions([reads[p] for p in part.new_files])
    added = set(part.added_files)
    touched = [i for i, p in enumerate(part.new_files) if p in added]
    cand = pc.unique(
        versions[KEY].filter(pc.is_in(versions["f"], pa.array(touched, pa.int32())))
    )
    new = _winners(versions.filter(pc.is_in(versions[KEY], value_set=cand)))
    if new.num_rows == 0:
        return None
    old = _tag_versions([reads[p] for p in part.old_files])
    old = _winners(old.filter(pc.is_in(old[KEY].cast(cand.type), value_set=cand)))
    n = new.num_rows
    if old.num_rows:
        # locate each candidate's FROM-state winner (null: absent there)
        at = pc.index_in(new[KEY], value_set=old[KEY].combine_chunks().cast(new[KEY].type))
        old_live = pc.fill_null(pc.invert(old[DELETED].take(at)), False).to_numpy(
            zero_copy_only=False
        )
        seq_adv = pc.fill_null(
            pc.greater(new[SEQ], old[SEQ].take(at)), True
        ).to_numpy(zero_copy_only=False)
    else:
        old_live, seq_adv = np.zeros(n, bool), np.ones(n, bool)
    new_live = ~new[DELETED].to_numpy(zero_copy_only=False)
    tag = np.select(
        [new_live & ~old_live, new_live & old_live & seq_adv, ~new_live & old_live],
        ["I", "U", "D"],
        "",
    )
    keep = tag != ""
    if not keep.any():
        return None
    new = new.filter(pa.array(keep)).append_column(CHANGE, pa.array(tag[keep]))
    return _take_rows([handles[p] for p in part.new_files], new, target)
