"""The one window classifier and pointer commit every derived view,
replica and changelog consumer shares (``sources/table_meta.py``).
Pure Python: fake snapshot chains, no SparkSession.

Pins the policy as one table: every commit marker against every
consumer kind."""

import os

import pytest

from beehive_data_etl_spark.sources import table_meta as tm

I, F_, R, N = tm.INCREMENTAL, tm.FULL, tm.REFUSE, tm.NOOP
MAINTAINED = ["m"]


def _snap(version, metrics=None, **fields):
    base = {
        "version": version,
        "n_buckets": 4,
        "tombstone_floor": 0,
        "schema_version": 0,
        "snapshot_floor": 1,
        "metrics": metrics or {},
    }
    base.update(fields)
    return base


def _chain(*snaps, expired=()):
    """A loader over ``snaps`` (by version) that raises like
    ``SnapshotSink.snapshot`` for an expired version."""
    by_v = {s["version"]: s for s in snaps}

    def load(v):
        if v in expired:
            raise ValueError(f"snapshot v{v} was expired")
        return by_v[v]

    return load


# (cursor, head version, loader) per window; the window holds one marker
_ALTERED = {"schema_version": 1}
WINDOWS = {
    "first build": (None, 1, _chain(_snap(1))),
    "no-op": (1, 1, _chain(_snap(1))),
    "append": (1, 2, _chain(_snap(1), _snap(2, {"appended": [0]}))),
    "rollback_to": (1, 2, _chain(_snap(1), _snap(2, {"rollback_to": 1}))),
    "backfill": (1, 2, _chain(_snap(1), _snap(2, {"backfill": [0]}))),
    "purge": (1, 2, _chain(_snap(1), _snap(2, {"purge": [0]}))),
    "drop_column, maintained": (1, 2, _chain(_snap(1), _snap(
        2, {"drop_column": [0], "dropped": "m"}, **_ALTERED))),
    "drop_column, other": (1, 2, _chain(_snap(1), _snap(
        2, {"drop_column": [0], "dropped": "x"}, **_ALTERED))),
    "rename_column, maintained": (1, 2, _chain(_snap(1), _snap(
        2, {"rename_column": [0], "rename_map": {"old": "m", "new": "m2"}},
        **_ALTERED))),
    "rename_column, other": (1, 2, _chain(_snap(1), _snap(
        2, {"rename_column": [0], "rename_map": {"old": "x", "new": "y"}},
        **_ALTERED))),
    "rebucket": (1, 2, _chain(_snap(1), _snap(
        2, {"rebucket": {"from": 4, "to": 8}}, n_buckets=8))),
    "tombstone_floor": (1, 2, _chain(_snap(1), _snap(
        2, {"compacted": [0]}, tombstone_floor=10))),
    "add column": (1, 2, _chain(_snap(1), _snap(2, {}, **_ALTERED))),
    "snapshot_floor": (1, 3, _chain(
        _snap(2, snapshot_floor=2), _snap(3, snapshot_floor=2), expired={1})),
}

POLICY = {
    #                            column whole-row accumulating replica stream
    "first build":               (F_, F_, F_, F_, F_),
    "no-op":                     (N, N, N, N, N),
    "append":                    (I, I, I, I, I),
    "rollback_to":               (F_, F_, R, R, R),
    "backfill":                  (F_, F_, I, R, R),
    "purge":                     (I, I, I, R, R),
    "drop_column, maintained":   (R, F_, R, R, R),
    "drop_column, other":        (I, F_, I, R, R),
    "rename_column, maintained": (R, F_, R, R, R),
    "rename_column, other":      (I, F_, I, R, R),
    "rebucket":                  (I, F_, I, I, R),
    "tombstone_floor":           (I, I, I, I, R),
    "add column":                (I, F_, I, I, I),
    "snapshot_floor":            (F_, F_, R, R, R),
}


def _classify(kind, name):
    cursor, to, load = WINDOWS[name]
    return tm.classify_window(kind, cursor, load(to), load, MAINTAINED)


@pytest.mark.parametrize("name", sorted(POLICY))
def test_policy_table(name):
    got = tuple(_classify(kind, name).action for kind in tm.KINDS)
    assert got == POLICY[name], name


def test_verdict_names_marker_version_and_columns():
    w = _classify(tm.COLUMN_VIEW, "rename_column, maintained")
    assert w == tm.Window(R, "rename_column", 2, ("m",))
    with pytest.raises(ValueError, match=r"\['m'\] were dropped/renamed at v2"):
        raise tm.altered_columns_error(w)
    w = _classify(tm.ACCUMULATING_VIEW, "snapshot_floor")
    assert (w.marker, w.version) == ("snapshot_floor", 2)
    # endpoint markers are reported at the head version
    assert _classify(tm.STREAM, "tombstone_floor").version == 2


def test_strongest_marker_wins_first_among_equals():
    load = _chain(
        _snap(1),
        _snap(2, {"purge": [0]}),
        _snap(3, {"rollback_to": 1}),
        _snap(4, {"drop_column": [0], "dropped": "m"}, schema_version=1),
        _snap(5, {"backfill": [0]}, schema_version=1),
    )

    def verdict(kind, to):
        w = tm.classify_window(kind, 1, load(to), load, MAINTAINED)
        return w.action, w.marker

    # refuse beats full, full beats incremental
    assert verdict(tm.COLUMN_VIEW, 3) == (F_, "rollback_to")
    assert verdict(tm.COLUMN_VIEW, 5) == (R, "drop_column")
    # among refusals the earliest version decides
    assert verdict(tm.REPLICA, 5) == (R, "purge")
    assert verdict(tm.ACCUMULATING_VIEW, 5) == (R, "rollback_to")


def test_policy_rows_cover_every_kind():
    assert all(len(row) == len(tm.KINDS) for row in tm.WINDOW_POLICY.values())


# ------------------------------------------------------------------ pointer
def test_pointer_commit_pins_and_keeps_one_generation(tmp_path):
    root = str(tmp_path)
    ptr = tm.Pointer(
        os.path.join(root, "CURRENT"),
        pins=lambda: {"n_buckets": 4},
        refs=lambda p: [p["dir"]],
    )
    assert ptr.read() is None
    for name in ("gen-a", "gen-b", "gen-c", "other"):
        os.makedirs(os.path.join(root, name))
    ptr.commit({"version": 1, "dir": "gen-a"}, reap="gen-")
    assert ptr.read() == {"version": 1, "dir": "gen-a", "n_buckets": 4}
    # gen-b / gen-c are orphans (a crashed writer's): no pointer lists them
    assert sorted(os.listdir(root)) == ["CURRENT", "gen-a", "other"]
    os.makedirs(os.path.join(root, "gen-b"))
    ptr.commit({"version": 2, "dir": "gen-b"}, reap="gen-")
    assert "gen-a" in os.listdir(root)  # the previous generation stays
    os.makedirs(os.path.join(root, "gen-c"))
    ptr.commit({"version": 3, "dir": "gen-c"}, reap="gen-")
    assert sorted(os.listdir(root)) == ["CURRENT", "gen-b", "gen-c", "other"]


def test_pointer_reap_age_cutoff(tmp_path):
    root = str(tmp_path)
    ptr = tm.Pointer(os.path.join(root, "CURRENT"))
    for name in ("ix-old", "ix-new", "ix-live"):
        os.makedirs(os.path.join(root, name))
    os.utime(os.path.join(root, "ix-old"), (0, 0))
    assert ptr.reap("ix-", {"ix-live"}, older_than_s=3600) == 1
    assert sorted(os.listdir(root)) == ["ix-live", "ix-new"]
    assert ptr.reap("ix-", {"ix-live"}) == 1
    assert os.listdir(root) == ["ix-live"]
