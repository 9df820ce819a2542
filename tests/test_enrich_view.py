"""EnrichView (sinks/enrich.py): incrementally-maintained
fact-LEFT-JOIN-dim view, materialized as its own SnapshotSink.

Pins:
- full build == recompute; the dest is a REAL table (lookup works);
- fact inserts/updates/deletes maintain incrementally (O(changed));
- a dim change fans out to exactly its holder docs (ValueIndex path
  and scan_where fallback agree); dim deletes NULL the joined columns;
- both-sides windows dedup to one image per doc;
- crash between dest commit and pointer write retries idempotently;
- purge/rollback-class windows degrade to an exact full rebuild that
  tombstones leavers; schema changes in-window force a rebuild;
- rewrite-only windows advance the cursor without an apply;
- refusals: patch tables, unknown fk, prefix collision."""

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.enrich import EnrichView
from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sinks.token_index import ValueIndex

FACT_SCHEMA = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string"
)
DIM_SCHEMA = (
    "op string, op_sequence long, doc_id string, license string, tier int"
)


def _fb(spark, rows):
    return spark.createDataFrame(rows, FACT_SCHEMA)


def _db(spark, rows):
    return spark.createDataFrame(rows, DIM_SCHEMA)


@pytest.fixture()
def tables(spark, tmp_path):
    fact = SnapshotSink(spark, str(tmp_path / "fact"), n_buckets=4)
    fact.apply_batch(
        _fb(
            spark,
            [
                ("I", 100 + i, f"d-{i}", [i], i, f"src-{i % 3}")
                for i in range(9)
            ],
        ),
        "f1",
    )
    dim = SnapshotSink(spark, str(tmp_path / "dim"), n_buckets=2)
    dim.apply_batch(
        _db(
            spark,
            [("I", 10 + i, f"src-{i}", f"lic-{i}", i) for i in range(3)],
        ),
        "d1",
    )
    return fact, dim


def _view(spark, tables, tmp_path, **kw):
    fact, dim = tables
    return EnrichView(
        spark, fact, dim, str(tmp_path / "enriched"), fk="source", **kw
    )


def _rows(view):
    return {
        r["doc_id"]: (r["source"], r["dim_license"], r["dim_tier"])
        for r in view.read().collect()
    }


def test_full_build_and_fact_increments(spark, tables, tmp_path):
    fact, dim = tables
    v = _view(spark, tables, tmp_path)
    assert v.refresh()["mode"] == "full"
    assert v.verify()["ok"]
    got = _rows(v)
    assert len(got) == 9
    assert got["d-4"] == ("src-1", "lic-1", 1)
    # the dest IS a table: point lookup works
    assert v.dest.lookup(["d-4"]).count() == 1
    # fact insert + update + delete, one window
    fact.apply_batch(
        _fb(
            spark,
            [
                ("I", 200, "d-9", [9], 9, "src-0"),
                ("U", 201, "d-0", [7], 7, "src-2"),
                ("D", 202, "d-1", None, None, None),
            ],
        ),
        "f2",
    )
    out = v.refresh()
    assert out["mode"] == "incremental"
    assert v.verify()["ok"]
    got = _rows(v)
    assert got["d-9"] == ("src-0", "lic-0", 0)
    assert got["d-0"] == ("src-2", "lic-2", 2)  # re-joined after update
    assert "d-1" not in got
    assert v.refresh()["mode"] == "noop"


def test_dim_change_fans_out_and_delete_nulls(spark, tables, tmp_path):
    fact, dim = tables
    v = _view(spark, tables, tmp_path)
    v.refresh()
    dim.apply_batch(
        _db(spark, [("U", 50, "src-1", "lic-NEW", 99)]), "d2"
    )
    out = v.refresh()
    assert out["mode"] == "incremental" and out["dim_keys"] == 1
    got = _rows(v)
    for i in (1, 4, 7):  # exactly src-1's holders re-joined
        assert got[f"d-{i}"] == ("src-1", "lic-NEW", 99)
    assert got["d-0"] == ("src-0", "lic-0", 0)
    assert v.verify()["ok"]
    # dim delete: holders keep their rows with NULL dim columns
    dim.apply_batch(_db(spark, [("D", 60, "src-1", None, None)]), "d3")
    v.refresh()
    got = _rows(v)
    assert got["d-4"] == ("src-1", None, None)
    assert v.verify()["ok"]


def test_value_index_path_matches_scan_path(spark, tables, tmp_path):
    fact, dim = tables
    ix = ValueIndex(
        spark, fact, str(tmp_path / "ix"), token_col="source", n_buckets=2
    )
    ix.refresh()
    va = _view(spark, tables, tmp_path, value_index=ix)
    va.refresh()
    vb = EnrichView(
        spark, fact, dim, str(tmp_path / "enriched_b"), fk="source"
    )
    vb.refresh()
    dim.apply_batch(_db(spark, [("U", 50, "src-0", "lic-X", 5)]), "d2")
    assert va.refresh()["mode"] == "incremental"
    assert vb.refresh()["mode"] == "incremental"
    assert _rows(va) == _rows(vb)
    assert va.verify()["ok"] and vb.verify()["ok"]


def test_both_sides_window_dedups(spark, tables, tmp_path):
    fact, dim = tables
    v = _view(spark, tables, tmp_path)
    v.refresh()
    # d-0 changes AND its (new) dim changes in the same window
    fact.apply_batch(_fb(spark, [("U", 300, "d-0", [1], 1, "src-1")]), "f2")
    dim.apply_batch(_db(spark, [("U", 70, "src-1", "lic-B", 8)]), "d2")
    out = v.refresh()
    assert out["mode"] == "incremental"
    assert _rows(v)["d-0"] == ("src-1", "lic-B", 8)
    assert v.verify()["ok"]
    # exactly one stored version of d-0 at the dest head (no dup rows)
    assert v.dest.read_final().filter(F.col("doc_id") == "d-0").count() == 1


def test_crash_between_commit_and_pointer_retries(spark, tables, tmp_path):
    fact, dim = tables
    v = _view(spark, tables, tmp_path)
    v.refresh()
    fact.apply_batch(_fb(spark, [("U", 300, "d-0", [1], 1, "src-1")]), "f2")
    cur_before = v.current()
    out1 = v.refresh()
    assert out1["mode"] == "incremental" and not out1["skipped"]
    # simulate the crash: rewind the pointer as if it never wrote
    v._ptr.commit(cur_before)
    out2 = v.refresh()  # same window -> same batch id -> dest dedupes
    assert out2["mode"] == "incremental" and out2["skipped"]
    assert v.current()["fact_version"] == out1["fact_window"][1]
    assert v.verify()["ok"]


def test_purge_window_full_rebuild_tombstones_leavers(
    spark, tables, tmp_path
):
    fact, dim = tables
    v = _view(spark, tables, tmp_path)
    v.refresh()
    fact.purge_keys(["d-3"])
    out = v.refresh()
    assert out["mode"] == "full" and "unstreamable" in out["reason"]
    assert "d-3" not in _rows(v)
    # the leaver is a REAL tombstone at the dest (not a silently
    # missing row): its old image cannot resurrect
    dead = v.dest.read_state().filter(F.col("deleted"))
    assert {r["doc_id"] for r in dead.collect()} == {"d-3"}
    assert v.verify()["ok"]


def test_schema_change_window_full_rebuild(spark, tables, tmp_path):
    fact, dim = tables
    # a view NOT carrying the renamed column: the in-window alter
    # degrades to an exact full rebuild
    v = _view(spark, tables, tmp_path, fact_cols=["source", "n_tok"])
    v.refresh()
    # a view that DOES carry it: refresh refuses with guidance, since
    # even a rebuild cannot read the old name
    v_stale = EnrichView(
        spark, fact, dim, str(tmp_path / "e_stale"), fk="source"
    )
    v_stale.refresh()
    fact.rename_column("tokens", "toks")
    out = v.refresh()
    assert out["mode"] == "full" and "schema changed" in out["reason"]
    assert v.verify()["ok"]
    with pytest.raises(ValueError, match="no longer exist"):
        v_stale.refresh()
    # construction against the NEW schema refuses the stale column list
    with pytest.raises(ValueError, match="not in fact payload"):
        EnrichView(
            spark, fact, dim, str(tmp_path / "e2"), fk="source",
            fact_cols=["tokens"],
        )


def test_rewrite_only_window_moves_cursor_without_apply(
    spark, tables, tmp_path
):
    fact, dim = tables
    # second delta per bucket so compact() has something to fold
    fact.apply_batch(_fb(spark, [("U", 200, "d-0", [7], 7, "src-0")]), "f2")
    v = _view(spark, tables, tmp_path)
    v.refresh()
    dv = v.dest.current_snapshot()["version"]
    out_c = fact.compact()  # version bump, zero changed rows
    assert out_c["compacted"]
    out = v.refresh()
    assert out["mode"] == "incremental"
    assert v.current()["fact_version"] == fact.current_snapshot()["version"]
    assert v.verify()["ok"]
    assert v.dest.current_snapshot()["version"] <= dv + 1


def test_refusals(spark, tables, tmp_path):
    fact, dim = tables
    with pytest.raises(ValueError, match="not a fact payload"):
        EnrichView(spark, fact, dim, str(tmp_path / "e"), fk="nope")
    # a dim column that, prefixed, collides with a fact column
    d2 = SnapshotSink(spark, str(tmp_path / "d2"), n_buckets=2)
    d2.apply_batch(
        spark.createDataFrame(
            [("I", 1, "src-0", 5)],
            "op string, op_sequence long, doc_id string, n_tok int",
        ),
        "b1",
    )
    with pytest.raises(ValueError, match="collide"):
        EnrichView(
            spark, fact, d2, str(tmp_path / "e_c"), fk="source",
            dim_prefix="",
        )
    p = SnapshotSink(spark, str(tmp_path / "p"), n_buckets=2, patch=True)
    full = spark.createDataFrame(
        [("I", 1, "src-0", None, "lic", 1)],
        "op string, op_sequence long, doc_id string, patch_cols "
        "array<string>, license string, tier int",
    )
    p.apply_batch(full, "b1")
    with pytest.raises(ValueError, match="per-cell"):
        EnrichView(spark, fact, p, str(tmp_path / "e"), fk="source")
