"""Point reads stay exact across the data layouts whose key statistics
prune least: unsorted deltas (random doc_ids make every delta file's
key [min, max] span the keyspace), key-sorted compaction, and
cluster_by compaction (sorted by payload first, loosening key stats on
purpose) — including negative probes, where a false skip would LOSE
rows."""

from beehive_data_etl_spark.sinks.snapshot import KEY, SnapshotSink


def _events(spark, lo, hi, op="I", seq_base=1000):
    return spark.createDataFrame(
        [
            (op, seq_base + i, f"doc-{i:05d}", [i, i + 1, i + 2], 3, "src")
            for i in range(lo, hi)
        ],
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )


def test_lookup_exact_with_blooms_across_layouts(spark, tmp_path):
    """Point reads stay exact on bloom'd files in all three layouts —
    unsorted deltas, key-sorted compaction, payload-clustered
    compaction — including updates, tombstones and negative probes."""
    root = str(tmp_path / "t")
    s = SnapshotSink(spark, root, n_buckets=4, compact_threshold=100)
    s.apply_batch(_events(spark, 0, 300), "b1")
    s.apply_batch(_events(spark, 100, 200, op="U", seq_base=5000), "b2")
    s.apply_batch(_events(spark, 0, 50, op="D", seq_base=9000), "b3")

    def probe():
        hit = s.lookup(["doc-00150", "doc-00250"]).toPandas().set_index(KEY)
        assert sorted(hit.index) == ["doc-00150", "doc-00250"]
        # doc-150 was updated at seq 5150 -> tokens [150,151,152] again
        # but through the U image; doc-250 is the original insert
        assert list(hit.loc["doc-00250", "tokens"]) == [250, 251, 252]
        # tombstoned + never-existed keys return no row (a bloom false
        # SKIP here would also return no row — so additionally assert
        # a LIVE key in the same file is found, above)
        assert s.lookup(["doc-00010", "doc-99999"]).count() == 0

    probe()  # unsorted deltas
    s.compact()  # 3 deltas/bucket -> key-sorted rewrite
    probe()
    s.compact(cluster_by=["source"])  # payload-clustered rewrite
    probe()  # (key stats loosened on purpose — the bloom's case)
    assert s.read_final().count() == 250
