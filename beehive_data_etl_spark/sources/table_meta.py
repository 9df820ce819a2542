"""SparkSession-free access to a SnapshotSink table's metadata.

The Spark Python Data Source (``sources/spark_datasource.py``) plans
partitions and resolves offsets inside Python worker processes that
have **no SparkSession and no JVM** — ``DataSource.schema()`` /
``reader.partitions()`` run in a forked planner worker, and the
streaming reader lives in its own long-running driver-side worker.
Everything those hooks need from the table is plain JSON under
``<root>/_snapshots/``, so this module re-implements exactly the
metadata surface of ``sinks/snapshot.py`` (``current_snapshot``,
``snapshot``, ``resolve_ref``, ``tags``/``move_tag``, the Replicator's
window-refusal guards) as standalone file I/O. The window policy
(``unstreamable_window_reason``) is the one copy: the changelog stream
refuses on it and ``SnapshotSink.read_changes`` routes on it.  Behavioral parity with
the sink is pinned by ``tests/test_spark_datasource.py`` — if the sink
ever changes its on-disk metadata, those tests break loudly here.

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
import uuid
from collections.abc import Iterable

KEY = "doc_id"
SEQ = "op_sequence"
CELL = "_cell_seq"
DELETED = "deleted"


# --------------------------------------------------------------- snapshots
def snapshots_dir(root: str) -> str:
    return os.path.join(root, "_snapshots")


def current_snapshot(root: str) -> dict | None:
    """Twin of ``SnapshotSink.current_snapshot`` (snapshot.py)."""
    try:
        with open(os.path.join(snapshots_dir(root), "CURRENT")) as fh:
            name = fh.read().strip()
        with open(os.path.join(snapshots_dir(root), name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def load_snapshot(root: str, version: int) -> dict:
    """Twin of ``SnapshotSink.snapshot``: loads one committed snapshot,
    naming the expire_snapshots floor when the version was retired."""
    try:
        with open(
            os.path.join(snapshots_dir(root), f"v{version:06d}.json")
        ) as fh:
            return json.load(fh)
    except FileNotFoundError:
        head = current_snapshot(root)
        floor = 1 if head is None else head.get("snapshot_floor", 1)
        if version < floor:
            raise ValueError(
                f"snapshot v{version} was expired (snapshot_floor="
                f"{floor}); time travel / changelog windows below the "
                "floor are gone — tag versions you need to keep before "
                "expire_snapshots()"
            ) from None
        raise


def load_tags(root: str) -> dict[str, int]:
    try:
        with open(os.path.join(snapshots_dir(root), "TAGS.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def resolve_ref(root: str, ref) -> int:
    """Twin of ``SnapshotSink.resolve_ref``: ints pass through, strings
    resolve via the tag table (numeric strings pass through too, so
    option values — always strings — can carry plain versions)."""
    if isinstance(ref, str) and not ref.lstrip("-").isdigit():
        tags = load_tags(root)
        if ref not in tags:
            raise KeyError(f"no tag {ref!r} (known: {sorted(tags)})")
        return tags[ref]
    return int(ref)


def pin_tag(root: str, name: str, version: int, monotonic: bool = False) -> None:
    """Twin of ``SnapshotSink.move_tag`` for cursor-style tags, under
    the same cross-process flock the sink's tag writers hold — so a
    streaming reader's retention pin can never interleave with a
    concurrent ``tag``/``drop_tag``/``move_tag`` through a sink object
    and silently drop either write.  One atomic tags-file replace: no
    crash window where the pin is absent.  ``monotonic=True`` makes it
    a no-op when the tag already pins an equal-or-newer version — the
    forward-only check runs INSIDE the lock, so two racing pinners
    (the stream's eager partitions-time pin vs its lazy commit-time
    pin) can never move the cursor backward."""
    lock_fd = os.open(
        os.path.join(snapshots_dir(root), "LOCK"), os.O_CREAT | os.O_RDWR
    )
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX)
        tags = load_tags(root)
        if monotonic and tags.get(name, 0) >= int(version):
            return
        load_snapshot(root, version)  # must exist (raises otherwise)
        tags[name] = int(version)
        path = os.path.join(snapshots_dir(root), "TAGS.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(tags, fh)
        os.replace(tmp, path)
    finally:
        fcntl.flock(lock_fd, fcntl.LOCK_UN)
        os.close(lock_fd)


# ------------------------------------------------------------ window guard
def unstreamable_window_reason(
    frm: int, to: int, window_metrics: Iterable[dict]
) -> str | None:
    """Why the changelog window (frm, to] cannot be expressed as
    forward change events, or None. ``window_metrics`` holds the commit
    metrics of versions frm+1..to in order. A window spanning a
    rollback / backfill / purge / drop_column / rename_column cannot be
    expressed at truthful op_sequences (the per-case arguments live on
    the Replicator, sinks/replicate.py). The stream raises the reason
    (``refuse_unstreamable_window``); ``SnapshotSink.read_changes``
    answers such windows with its Spark diffs instead of the Arrow
    one."""
    for v, m in enumerate(window_metrics, frm + 1):
        for marker in ("rollback_to", "backfill", "purge"):
            if marker in m:
                return (
                    f"upstream {marker} at v{v} inside stream window "
                    f"({frm}, {to}]: no forward change event can express "
                    "it (see sinks/replicate.py for the per-case "
                    "argument). Reconcile the consumer out of band, then "
                    "restart the stream from a fresh checkpoint with "
                    f"startingVersion={to}."
                )
        for op in ("drop_column", "rename_column"):
            if op in m:
                return (
                    f"upstream {op} at v{v} inside stream window "
                    f"({frm}, {to}]: the stream's schema is fixed at "
                    "start and rewritten rows keep their op_sequence. "
                    "Apply the same alter on the consumer, then restart "
                    f"the stream from a fresh checkpoint with "
                    f"startingVersion={v}."
                )
    return None


def refuse_unstreamable_window(root: str, frm: int, to: int) -> None:
    """Twin of ``Replicator._refuse_unreplicable_window``
    (sinks/replicate.py), plus the column alters the DS stream cannot
    bridge: raises ``unstreamable_window_reason`` for the window of the
    table's main chain, so the stream fails loudly with recovery
    guidance rather than silently diverging its consumer."""
    reason = unstreamable_window_reason(
        frm,
        to,
        (load_snapshot(root, v).get("metrics", {}) for v in range(frm + 1, to + 1)),
    )
    if reason is not None:
        raise RuntimeError(reason)


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


