"""``columns=`` projection on the changelog readers (read_changes /
read_changes_pruned) and its threading into the derived views.

Contract: only the projected payload columns (plus key, seq, deleted,
change_type, and matching ``_old_`` pre-images) are carried, and the
narrowing is pushed into every parquet scan — a 2-column view over a
50-column table pays 2 columns of changelog bytes per refresh.
Row-LWW tables emit the SAME ROWS as the full reader (detection is
seq-based). Per-cell PATCH tables additionally SCOPE DETECTION to the
projected cells (+ row clock + liveness) — the column-scoped-view
semantics; full-row consumers read unprojected (ShardExport pins the
gating).

Pins:
- row-LWW: projected output == full output restricted to the same
  columns, across an insert/update/delete window; include_old too;
- patch mode: a late out-of-order patch confined to column ``c``
  emits for ``columns=["c"]`` and the full reader, and is scoped out
  of ``columns=["a"]`` by design;
- rename window: a projected renamed column's pre-image carries the
  old VALUE under the new name (the bridge composes with projection);
- the narrowing reaches ReadSchema;
- columns=[] (key-only changelog — what ShardExport passes on
  row-LWW tables) works;
- unknown columns are refused driver-side."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink

SCHEMA = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def sink(spark, tmp_path):
    """v1: 8 inserts. v2: updates, a delete and a fresh insert — the
    window (1, 2] carries all three change types."""
    s = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4)
    s.apply_batch(
        _batch(
            spark,
            [("I", 100 + i, f"d-{i}", [i], i, "web") for i in range(8)],
        ),
        "b1",
    )
    s.apply_batch(
        _batch(
            spark,
            [("U", 200 + i, f"d-{i}", [9, i], i + 50, "upd") for i in range(3)]
            + [("D", 250, "d-7", None, None, None)]
            + [("I", 260, "d-new", [42], 1, "new")],
        ),
        "b2",
    )
    return s


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("include_old", [False, True])
def test_row_lww_projection_equals_full(sink, include_old):
    for reader in (sink.read_changes, sink.read_changes_pruned):
        full = reader(1, 2, include_old=include_old)
        proj = reader(1, 2, include_old=include_old, columns=["n_tok"])
        want_cols = [
            c
            for c in full.columns
            if c.split("_old_")[-1] not in ("tokens", "source")
        ]
        assert proj.columns == want_cols
        assert _rows(proj) == _rows(full.select(*want_cols))


def test_key_only_changelog(sink):
    proj = sink.read_changes_pruned(1, 2, columns=[])
    assert proj.columns == ["doc_id", "op_sequence", "deleted", "change_type"]
    full = sink.read_changes_pruned(1, 2)
    assert _rows(proj) == _rows(full.select(*proj.columns))


def test_projection_reaches_changelog_scans(sink, capsys):
    # pre-images keep the window on the Spark diff, which plans scans
    # (the Arrow diff on the driver reads only the target columns too)
    sink.read_changes_pruned(
        1, 2, columns=["n_tok"], include_old=True
    ).explain("formatted")
    plan = capsys.readouterr().out
    schemas = re.findall(r"ReadSchema: struct<(.*?)>", plan)
    assert schemas, plan
    for s in schemas:
        names = {f.split(":")[0] for f in s.split(",") if f}
        assert "tokens" not in names and "source" not in names, plan


def test_changelog_projection_validation(sink):
    with pytest.raises(ValueError, match="no such payload column"):
        sink.read_changes_pruned(1, 2, columns=["nope"])


def test_patch_projection_scopes_detection(spark, tmp_path):
    """Patch-table contract: projection also scopes DETECTION — the
    narrowed fold rebuilds cell maps from the projected columns only.
    A late out-of-order patch (row clock unchanged) confined to ``c``
    is emitted by the full reader and by ``columns=["c"]``, and is BY
    DESIGN absent from ``columns=["a"]`` (a view over ``a`` is
    unaffected by it). Consumers needing every changed row read
    unprojected — pinned in ShardExport."""
    from patch_model import SCHEMA as PSCHEMA

    def _pdf(events):
        return spark.createDataFrame(pd.DataFrame(events), schema=PSCHEMA)

    s = SnapshotSink(spark, str(tmp_path / "p"), n_buckets=4, patch=True)
    # d2 is born from a patch that only ever set 'a' — its 'c' cell is
    # unset, so a LATE lower-seq patch on 'c' lands (changes state)
    # while the row clock stays at 20
    s.apply_batch(
        _pdf(
            [
                {"op": "P", "op_sequence": 20, "doc_id": "d2",
                 "a": 2.0, "b": None, "c": None, "patch_cols": ["a"]},
            ]
        ),
        "b1",
    )
    v3 = s.current_snapshot()["version"]
    s.apply_batch(
        _pdf(
            [
                {"op": "P", "op_sequence": 15, "doc_id": "d2",
                 "a": None, "b": None, "c": 77, "patch_cols": ["c"]},
            ]
        ),
        "b2",
    )
    v4 = s.current_snapshot()["version"]
    for reader in (s.read_changes, s.read_changes_pruned):
        full = reader(v3, v4)
        assert {r["doc_id"] for r in full.collect()} == {"d2"}, (
            "late patch must be a change for the full reader"
        )
        on_c = reader(v3, v4, columns=["c"])
        assert {r["doc_id"] for r in on_c.collect()} == {"d2"}
        assert {r["c"] for r in on_c.collect()} == {77}
        on_a = reader(v3, v4, columns=["a"])  # 'c' unprojected
        assert on_a.count() == 0, (
            "a change confined to an unprojected cell is scoped out"
        )


def test_rename_window_projection_bridges(spark, tmp_path):
    s = SnapshotSink(spark, str(tmp_path / "r"), n_buckets=4)
    s.apply_batch(
        _batch(
            spark,
            [("I", 100 + i, f"d-{i}", [i], i, f"src-{i}") for i in range(4)],
        ),
        "b1",
    )
    v1 = s.current_snapshot()["version"]
    s.rename_column("source", "origin")
    s.apply_batch(
        spark.createDataFrame(
            [("U", 300, "d-0", [7], 70, "upd")],
            "op string, op_sequence long, doc_id string, tokens array<int>, "
            "n_tok int, origin string",
        ),
        "b2",
    )
    v2 = s.current_snapshot()["version"]
    for reader in (s.read_changes, s.read_changes_pruned):
        proj = reader(v1, v2, include_old=True, columns=["origin"])
        by_id = {r["doc_id"]: r.asDict() for r in proj.collect()}
        assert by_id["d-0"]["origin"] == "upd"
        # the pre-image carries the OLD VALUE under the NEW name —
        # a naive align would read NULL here
        assert by_id["d-0"]["_old_origin"] == "src-0"
        assert "tokens" not in proj.columns
        # projecting a column OUT doesn't hide the rename bridge for
        # the projected one
        full = reader(v1, v2, include_old=True)
        assert {r["doc_id"] for r in full.collect()} == set(by_id)
