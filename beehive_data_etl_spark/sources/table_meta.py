"""SparkSession-free owner of a SnapshotSink table's metadata layout.

Everything under ``<root>/_snapshots/`` is named, parsed, read, written
and locked here and nowhere else: the snapshot files (``vNNNNNN.json``
on main, ``b-<ref>-vNNNNNN.json`` on a branch), the ``CURRENT`` pointer,
the ``BRANCH-<name>.json`` pointers, ``TAGS.json`` and the ``LOCK``
flock. ``SnapshotSink`` (``sinks/snapshot.py``), ``fsck`` and ``health``
call these functions, and so does the Spark Python Data Source
(``sources/spark_datasource.py``), whose hooks run in Python worker
processes with **no SparkSession and no JVM** — ``DataSource.schema()``
/ ``reader.partitions()`` run in a forked planner worker, and the
streaming reader lives in its own long-running driver-side worker. So
this module imports no pyspark.

It also holds the protocol every derived view, replica and changelog
consumer shares, JVM-free: ``Pointer`` (read, atomic commit, reap) and
``classify_window`` with its one policy table, ``WINDOW_POLICY``: which
windows a consumer applies incrementally, rebuilds from or refuses.

Also here: ``_split_top``, the tiny DDL tokenizer the data source uses
to project the stored schema DDL (``snapshot._ddl`` output) down to a
read surface — full type parsing is never needed (Spark parses the DDL
string we return from ``DataSource.schema()``, and executors read each
parquet file with its own embedded schema).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from collections.abc import Iterable
from contextlib import contextmanager
from typing import NamedTuple

KEY = "doc_id"
SEQ = "op_sequence"
CELL = "_cell_seq"
DELETED = "deleted"
MAIN = "main"


# --------------------------------------------------------------- snapshots
def snapshots_dir(root: str) -> str:
    return os.path.join(root, "_snapshots")


def snapshot_name(version: int, ref: str = MAIN) -> str:
    """The file name of snapshot ``version`` on ``ref``'s own chain."""
    return f"v{version:06d}.json" if ref == MAIN else f"b-{ref}-v{version:06d}.json"


def parse_snapshot_name(name: str, ref: str = MAIN) -> int | None:
    """The version a file name on ``ref``'s own chain carries; None for
    any other file. Parses the WHOLE version field: ``f"v{v:06d}"``
    stops zero-padding at 10^6, so a 6-digit slice would read
    v1000000.json as 100000 (and expire_snapshots would reap live
    JSONs)."""
    prefix = "v" if ref == MAIN else f"b-{ref}-v"
    if not (name.startswith(prefix) and name.endswith(".json")):
        return None
    digits = name[len(prefix) : -len(".json")]
    return int(digits) if digits.isascii() and digits.isdigit() else None


def snapshot_path(root: str, version: int, ref: str = MAIN) -> str:
    return os.path.join(snapshots_dir(root), snapshot_name(version, ref))


def chain_versions(root: str, ref: str = MAIN) -> list[int]:
    """Versions of the snapshot files on ``ref``'s own chain, unordered
    (a branch's chain holds only its commits above the fork)."""
    found = (parse_snapshot_name(f, ref) for f in os.listdir(snapshots_dir(root)))
    return [v for v in found if v is not None]


def drop_snapshots(root: str, ref: str = MAIN, keep=lambda v: False) -> int:
    """Delete the files on ``ref``'s own chain whose version ``keep``
    rejects; foreign files are never touched. Returns the count."""
    dropped = 0
    for v in chain_versions(root, ref):
        if not keep(v):
            os.remove(snapshot_path(root, v, ref))
            dropped += 1
    return dropped


def branch_path(root: str, name: str) -> str:
    """The pointer of branch ``name``: ``{"head": <snapshot file name>,
    "base": <fork version>}``; the head names a main-chain file until
    the branch's first commit."""
    return os.path.join(snapshots_dir(root), f"BRANCH-{name}.json")


def branch(root: str, name: str) -> dict | None:
    """Branch ``name``'s {"base": fork version, "head": head version};
    None when there is no such branch."""
    ptr = read_json(branch_path(root, name))
    if ptr is None:
        return None
    head = parse_snapshot_name(ptr["head"], name)
    if head is None:
        head = parse_snapshot_name(ptr["head"])
    return {"base": ptr["base"], "head": ptr["base"] if head is None else head}


def branches(root: str) -> dict[str, dict]:
    """Every live branch: name → ``branch(root, name)``."""
    names = [
        f[len("BRANCH-") : -len(".json")]
        for f in os.listdir(snapshots_dir(root))
        if f.startswith("BRANCH-") and f.endswith(".json")
    ]
    found = {n: branch(root, n) for n in names}
    return {n: b for n, b in found.items() if b is not None}  # None: deleted meanwhile


def drop_branch(root: str, name: str) -> int:
    """Remove branch ``name``: the pointer first, then its own snapshot
    files — a crash in between leaves husks that ``create_branch``
    sweeps before a same-named branch could read them. Returns the
    number of snapshot files dropped."""
    os.remove(branch_path(root, name))
    return drop_snapshots(root, name)


def _head_name(root: str, ref: str) -> str:
    if ref == MAIN:
        with open(os.path.join(snapshots_dir(root), "CURRENT")) as fh:
            return fh.read().strip()
    ptr = read_json(branch_path(root, ref))
    if ptr is None:
        raise RuntimeError(
            f"no branch {ref!r} at {root} — create_branch() it on the main handle first"
        )
    return ptr["head"]


def current_snapshot(root: str, ref: str = MAIN) -> dict | None:
    """The head snapshot of ``ref`` (None before the first commit)."""
    try:
        name = _head_name(root, ref)
        with open(os.path.join(snapshots_dir(root), name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def set_head(root: str, version: int, ref: str = MAIN) -> None:
    """THE commit point: swap ``ref``'s pointer to snapshot ``version``
    (written before), one atomic replace — ``CURRENT`` holds the bare
    file name on main, the branch pointer's ``head`` on a branch."""
    name = snapshot_name(version, ref)
    if ref == MAIN:
        _replace(os.path.join(snapshots_dir(root), "CURRENT"), name)
        return
    ptr = read_json(branch_path(root, ref))
    if ptr is None:
        raise RuntimeError(f"branch {ref!r} was deleted")
    write_json(branch_path(root, ref), {**ptr, "head": name})


def read_snapshot(root: str, version: int, ref: str = MAIN) -> dict:
    """Snapshot ``version`` from ``ref``'s own chain file only
    (FileNotFoundError when absent)."""
    with open(snapshot_path(root, version, ref)) as fh:
        return json.load(fh)


def load_snapshot(root: str, version: int, ref: str = MAIN) -> dict:
    """Loads one committed snapshot as ``ref`` sees it — a branch's own
    chain first, then main's files (versions at or below the fork point
    are shared history) — naming the expire_snapshots floor when the
    version was retired."""
    try:
        if ref != MAIN:
            try:
                return read_snapshot(root, version, ref)
            except FileNotFoundError:
                pass
        return read_snapshot(root, version)
    except FileNotFoundError:
        head = current_snapshot(root, ref)
        floor = 1 if head is None else head.get("snapshot_floor", 1)
        if version < floor:
            raise ValueError(
                f"snapshot v{version} was expired (snapshot_floor="
                f"{floor}); time travel / changelog windows below the "
                "floor are gone — tag versions you need to keep before "
                "expire_snapshots()"
            ) from None
        raise


@contextmanager
def table_lock(root: str):
    """CROSS-PROCESS commit mutex (flock on ``_snapshots/LOCK``): a
    sink's ``_commit_lock`` serializes threads of one object, but two
    objects/processes over the same root would otherwise interleave
    head-read → pointer-swap and the last swap would silently DROP the
    other commit's bucket entries (the batch stays un-committed and is
    replayable, but nothing reports it). flock blocks across file
    descriptors even within one process, so it also covers the
    two-objects-one-process case. This is the sandbox stand-in for
    Iceberg's optimistic catalog-CAS commit; flock is advisory and not
    NFS-reliable — an object store deployment uses the catalog, not
    this file."""
    fd = os.open(os.path.join(snapshots_dir(root), "LOCK"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


# --------------------------------------------------------------------- refs
def _is_version(ref) -> bool:
    """The one ref rule: an int or a digit string is a version number
    (Data Source options are always strings); any other string names a
    tag."""
    return not isinstance(ref, str) or ref.lstrip("-").isdigit()


def load_tags(root: str) -> dict[str, int]:
    return read_json(os.path.join(snapshots_dir(root), "TAGS.json")) or {}


def write_tags(root: str, tags: dict[str, int]) -> None:
    """One atomic tags-file replace. Caller holds ``table_lock``."""
    write_json(os.path.join(snapshots_dir(root), "TAGS.json"), tags)


def check_tag_name(name) -> None:
    """Refuse a tag name ``resolve_ref`` would read as a version."""
    if _is_version(name):
        raise ValueError(
            f"tag name {name!r} reads as a version number (a digit "
            "string is a version everywhere a ref is taken) — pick a "
            "name with a non-digit character"
        )


def resolve_ref(root: str, ref) -> int:
    """A version number (an int or a digit string) passes through; any
    other string resolves via the tag table."""
    if _is_version(ref):
        return int(ref)
    tags = load_tags(root)
    if ref not in tags:
        raise KeyError(f"no tag {ref!r} (known: {sorted(tags)})")
    return tags[ref]


def pin_tag(root: str, name: str, version: int, monotonic: bool = False) -> None:
    """``SnapshotSink.move_tag`` for cursor-style tags, JVM-free, under
    the same ``table_lock`` the sink's tag writers hold — so a
    streaming reader's retention pin can never interleave with a
    concurrent ``tag``/``drop_tag``/``move_tag`` through a sink object
    and silently drop either write.  One atomic tags-file replace: no
    crash window where the pin is absent.  ``monotonic=True`` makes it
    a no-op when the tag already pins an equal-or-newer version — the
    forward-only check runs INSIDE the lock, so two racing pinners
    (the stream's eager partitions-time pin vs its lazy commit-time
    pin) can never move the cursor backward."""
    check_tag_name(name)
    with table_lock(root):
        tags = load_tags(root)
        if monotonic and tags.get(name, 0) >= int(version):
            return
        load_snapshot(root, version)  # must exist (raises otherwise)
        tags[name] = int(version)
        write_tags(root, tags)


# ---------------------------------------------------------------- pointers
def read_json(path: str) -> dict | None:
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def write_json(path: str, body) -> None:
    """Atomically replace ``path`` by ``body`` as JSON: a uniquely named
    sibling tmp file, then ``os.replace`` — a reader sees the old file
    or the new one, never a torn write. The replace survives process
    death, not power loss (nothing calls fsync)."""
    _replace(path, json.dumps(body))


def _replace(path: str, text: str) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


class Pointer:
    """The pointer JSON of a derived structure (a view, an index, an
    outbox cursor): the one file its readers trust. Data directories
    beside it are written BEFORE ``commit``, so a crash leaves orphans
    that no reader lists and the previous pointer stays live.

    ``pins()`` returns the fields every commit carries (the layout a
    handle must agree with: bucket counts, sketch precision, ...);
    ``refs(pointer)`` names the entries beside the pointer it
    references, for the keep-one-generation reap."""

    def __init__(self, path: str, pins=dict, refs=None) -> None:
        self.path = path
        self.root = os.path.dirname(path)
        self.pins = pins
        self.refs = refs

    def read(self) -> dict | None:
        return read_json(self.path)

    def commit(self, body: dict, reap: str | None = None) -> None:
        """THE commit point: replace the pointer by ``body`` plus the
        pins. With ``reap`` (a name prefix), then delete the prefixed
        entries that neither the new nor the previous pointer
        references — the previous generation survives one more commit,
        for a reader that loaded the old pointer and is still scanning."""
        prev = self.read() if reap else None
        body = {**body, **self.pins()}
        write_json(self.path, body)
        if reap:
            keep = set(self.refs(body)) | (set(self.refs(prev)) if prev else set())
            self.reap(reap, keep)

    def reap(self, prefix: str, keep, older_than_s: float = 0.0) -> int:
        """Delete the entries beside the pointer named ``prefix*`` and
        not in ``keep``; with ``older_than_s``, only those unmodified
        for that long (readers holding an older pointer finish first —
        the age cutoff of ``SnapshotSink.vacuum``). Returns the count."""
        now = time.time()
        reaped = 0
        for d in os.listdir(self.root):
            full = os.path.join(self.root, d)
            if not d.startswith(prefix) or d in keep:
                continue
            if older_than_s and now - os.path.getmtime(full) < older_than_s:
                continue
            shutil.rmtree(full, ignore_errors=True)
            reaped += 1
        return reaped


# ----------------------------------------------------------- window policy
# Every consumer of a changelog window (cursor, head] asks one question:
# can it apply the window as forward changes, must it rebuild, or must
# it refuse? The answer depends on the commits inside the window and on
# what kind of consumer asks.
COLUMN_VIEW = "column view"  # AggregateView family, Token/ValueIndex, AnnIndex
WHOLE_ROW_VIEW = "whole-row view"  # ShardExport
ACCUMULATING_VIEW = "accumulating view"  # NearDupView, read_changes_pruned
REPLICA = "replica"  # Replicator, Outbox; EnrichView rebuilds on refuse
STREAM = "changelog stream"  # beehive_changes, read_changes' driver route
KINDS = (COLUMN_VIEW, WHOLE_ROW_VIEW, ACCUMULATING_VIEW, REPLICA, STREAM)

NOOP, FULL, INCREMENTAL, REFUSE = "noop", "full", "incremental", "refuse"
_I, _F, _R = INCREMENTAL, FULL, REFUSE
_RANK = {INCREMENTAL: 0, FULL: 1, REFUSE: 2}

# The one policy table (one column per entry of KINDS). Why each cell:
# - snapshot_floor: expire_snapshots retired the cursor's snapshot, so
#   no diff from it exists. Views that can recompute rebuild; the rest
#   lose history they cannot recover.
# - rollback_to regresses state to LOWER op_sequences and backfill
#   rewrites rows at their old ones: the changelog (``seq > old_seq``)
#   cannot see either. A backfill records no column list, so a column
#   view cannot tell whether its columns changed: it rebuilds too. An
#   accumulating view cannot rebuild, and a backfill of its own column
#   goes unseen (see ``SnapshotSink.backfill``).
# - purge removes keys with no tombstone: the state diff reports them as
#   D rows with no forward clock, fine for a diff consumer, not for a
#   replica whose LWW needs a truthful op_sequence.
# - drop_column / rename_column rewrite rows changelog-silently. A view
#   over the altered column would merge stale values into its old
#   identity (a drop + re-add of the same name passes any current-schema
#   check): "maintained_column" refuses. Alters of other columns pass a
#   column-scoped view; a whole-row view re-exports every row.
# - rebucket renumbers buckets (the stream diffs per bucket, ShardExport
#   aligns shards to buckets); tombstone_floor means a delete may have
#   been folded away inside the window, which only the stream's
#   per-bucket key diff misses; schema_version (any evolution) changes
#   every row a whole-row view exports.
WINDOW_POLICY = {
    #                     column whole-row accumulating replica stream
    "snapshot_floor":    (_F, _F, _R, _R, _R),
    "rollback_to":       (_F, _F, _R, _R, _R),
    "backfill":          (_F, _F, _I, _R, _R),
    "purge":             (_I, _I, _I, _R, _R),
    "maintained_column": (_R, _F, _R, _R, _R),
    "drop_column":       (_I, _F, _I, _R, _R),
    "rename_column":     (_I, _F, _I, _R, _R),
    "rebucket":          (_I, _F, _I, _I, _R),
    "tombstone_floor":   (_I, _I, _I, _I, _R),
    "schema_version":    (_I, _F, _I, _I, _I),
}
# markers read off the two endpoint snapshots: (marker, snapshot field)
_ENDPOINT_MARKERS = (
    ("rebucket", "n_buckets"),
    ("tombstone_floor", "tombstone_floor"),
    ("schema_version", "schema_version"),
)


class Window(NamedTuple):
    """A consumer's verdict on one window: the action, and the commit
    marker that decided it, at ``version``, with the maintained
    ``columns`` an alter touched."""

    action: str
    marker: str | None = None
    version: int | None = None
    columns: tuple = ()


def classify_window(
    kind: str, cursor: int | None, head: dict, load, columns: Iterable[str] = ()
) -> Window:
    """How a consumer of ``kind`` at ``cursor`` (None or 0: never built)
    consumes the window up to ``head`` (a snapshot dict). ``load(v)``
    returns snapshot ``v`` and raises ValueError for one
    ``expire_snapshots`` retired; ``columns`` are the payload columns
    the consumer maintains. The verdict is the strongest action among
    the window's markers (refuse > full > incremental), the first in
    version order among equals. Driver-side JSON only: O(window)."""
    to = head["version"]
    if not cursor:
        return Window(FULL)
    if cursor >= to:
        return Window(NOOP)
    col = KINDS.index(kind)
    try:
        base = load(cursor)
    except ValueError:
        floor = head.get("snapshot_floor", 1)
        return Window(WINDOW_POLICY["snapshot_floor"][col], "snapshot_floor", floor)
    mine = set(columns)
    found = []  # (policy row, marker, version, touched maintained columns)
    for v in range(cursor + 1, to + 1):
        m = load(v).get("metrics", {})
        found += [(k, k, v, ()) for k in ("rollback_to", "backfill", "purge") if k in m]
        for op, names in (
            ("drop_column", [m.get("dropped")]),
            ("rename_column", list(m.get("rename_map", {}).values())),
        ):
            if op in m:
                hit = tuple(sorted(mine.intersection(names)))
                found.append(("maintained_column" if hit else op, op, v, hit))
    found += [
        (k, k, to, ()) for k, f in _ENDPOINT_MARKERS if base.get(f, 0) != head.get(f, 0)
    ]
    best = Window(INCREMENTAL)
    for row, marker, v, hit in found:
        action = WINDOW_POLICY[row][col]
        if _RANK[action] > _RANK[best.action]:
            best = Window(action, marker, v, hit)
    return best


def altered_columns_error(w: Window) -> ValueError:
    """The refusal of a column-scoped view whose maintained column was
    dropped or renamed inside its window."""
    return ValueError(
        f"column(s) {list(w.columns)} were dropped/renamed at v{w.version} "
        "inside the refresh window: the stored view references their old "
        "identity — delete the view directory and rebuild"
    )


def refuse_unstreamable_window(root: str, frm: int, to: int) -> None:
    """The changelog stream's refusal: raises with recovery guidance
    when the window (frm, to] of the table's main chain cannot be
    streamed as forward change events (``STREAM`` in WINDOW_POLICY), so
    the stream fails loudly rather than silently diverging its
    consumer."""
    w = classify_window(STREAM, frm, load_snapshot(root, to), lambda v: load_snapshot(root, v))
    if w.action != REFUSE:
        return
    win = f"stream window ({frm}, {to}]"
    if w.marker in ("drop_column", "rename_column"):
        raise RuntimeError(
            f"upstream {w.marker} at v{w.version} inside {win}: the "
            "stream's schema is fixed at start and rewritten rows keep "
            "their op_sequence. Apply the same alter on the consumer, then "
            "restart the stream from a fresh checkpoint with "
            f"startingVersion={w.version}."
        )
    what = {
        "snapshot_floor": f"{win} starts below the snapshot_floor "
        f"v{w.version} (expire_snapshots retired its start)",
        "rebucket": f"rebucket inside {win}: bucket identities shifted, "
        "the per-bucket diff is undefined",
        "tombstone_floor": f"tombstone_floor advanced inside {win} "
        "(expire_tombstones ran): a delete folded away inside the window "
        "would be missed",
    }.get(
        w.marker,
        f"upstream {w.marker} at v{w.version} inside {win}: no forward "
        "change event can express it (see sinks/replicate.py for the "
        "per-case argument)",
    )
    raise RuntimeError(
        f"{what}. Reconcile the consumer out of band, then restart the "
        f"stream from a fresh checkpoint with startingVersion={to}."
    )


# ----------------------------------------------------------- DDL utilities
def _split_top(s: str) -> list[str]:
    """Split on commas not nested inside <> or ()."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


