"""Unit tests: incremental dedup against a persisted MinHash index,
and the table profiler."""

from __future__ import annotations

from pyspark.sql import functions as F

from deepdb_public_spark.operators.dedup import (
    build_minhash_index,
    dedup_against_index,
)
from deepdb_public_spark.operators.lifecycle import release
from deepdb_public_spark.operators.prep import profile_table

BASE = (
    "the quick brown fox jumps over the lazy dog while birds sing in the "
    "warm afternoon sun near the old oak tree and the gentle breeze moves"
)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestDedupIndex:
    def test_exact_and_near_dup_found(self, spark):
        index = _corpus(
            spark,
            [
                (1, BASE),
                (2, "completely different content about spark engines and parquet files"),
                (3, "yet another unrelated document mentioning streams and watermarks"),
            ],
        )
        new = _corpus(
            spark,
            [
                (100, BASE),  # exact dup of 1
                (101, BASE + " extra"),  # near dup of 1
                (102, "nothing like anything indexed here at all ever"),
            ],
        )
        bands, sets = build_minhash_index(index, "text", "doc_id")
        pairs = dedup_against_index(
            new, "text", "doc_id", bands, sets, threshold=0.6
        ).collect()
        release()
        got = {(r.new_id, r.index_id): r.jaccard for r in pairs}
        assert got.get((100, 1)) == 1.0
        assert (101, 1) in got and got[(101, 1)] >= 0.6
        assert all(nid != 102 for nid, _ in got)

    def test_roundtrip_through_parquet(self, spark, tmp_path):
        """The index is a pair of plain DataFrames — persisting to
        parquet and reloading must not change match results."""
        index = _corpus(spark, [(1, BASE), (2, "unrelated words entirely here")])
        new = _corpus(spark, [(50, BASE)])
        bands, sets = build_minhash_index(index, "text", "doc_id")
        bands.write.parquet(str(tmp_path / "bands"))
        sets.write.parquet(str(tmp_path / "sets"))
        release()
        bands2 = spark.read.parquet(str(tmp_path / "bands"))
        sets2 = spark.read.parquet(str(tmp_path / "sets"))
        pairs = dedup_against_index(
            new, "text", "doc_id", bands2, sets2, threshold=0.8
        ).collect()
        release()
        assert [(r.new_id, r.index_id) for r in pairs] == [(50, 1)]

    def test_oversized_bucket_truncated(self, spark):
        """1k identical index docs: candidate pairs stay bounded by
        max_bucket_size, not 1k per band."""
        index = _corpus(spark, [(i, BASE) for i in range(1000)])
        new = _corpus(spark, [(5000, BASE)])
        bands, sets = build_minhash_index(index, "text", "doc_id")
        pairs = dedup_against_index(
            new, "text", "doc_id", bands, sets, threshold=0.8,
            max_bucket_size=16,
        )
        n = pairs.count()
        release()
        assert 1 <= n <= 16  # capped, and the duplicate is still caught


class TestIndexAppend:
    def test_ingestion_loop(self, spark):
        """probe -> drop matches -> append survivors -> later batches
        see the grown index."""
        from deepdb_public_spark.operators.dedup import append_to_minhash_index

        index = _corpus(spark, [(1, BASE)])
        batch1 = _corpus(
            spark, [(10, BASE), (11, "fresh new content about columnar engines")]
        )
        bands, sets = build_minhash_index(index, "text", "doc_id")
        hits = dedup_against_index(
            batch1, "text", "doc_id", bands, sets, threshold=0.8
        )
        dup_ids = [r.new_id for r in hits.collect()]
        assert dup_ids == [10]
        survivors = batch1.join(
            spark.createDataFrame([(i,) for i in dup_ids], ["doc_id"]),
            "doc_id",
            "left_anti",
        )
        bands2, sets2 = append_to_minhash_index(
            bands, sets, survivors, "text", "doc_id"
        )
        # a later batch duplicating doc 11 now matches the grown index
        batch2 = _corpus(spark, [(20, "fresh new content about columnar engines")])
        hits2 = dedup_against_index(
            batch2, "text", "doc_id", bands2, sets2, threshold=0.8
        ).collect()
        release()
        assert [(r.new_id, r.index_id) for r in hits2] == [(20, 11)]


class TestStreamingIndexDedup:
    def test_stream_matches_batch(self, spark, tmp_path):
        """The streaming micro-batch form produces exactly the batch
        operator's pairs (one definition, two execution modes)."""
        from deepdb_public_spark.streaming.windows import streaming_index_dedup

        index = _corpus(
            spark,
            [(1, BASE), (2, "some totally different indexed text about engines")],
        )
        new_rows = [(100, BASE), (101, "unrelated fresh crawl content"), (102, BASE + " tail")]
        new = _corpus(spark, new_rows)
        src = str(tmp_path / "incoming")
        new.repartition(2).write.parquet(src)  # >1 file => >=1 micro-batch
        bands, sets = build_minhash_index(index, "text", "doc_id")

        stream = (
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = str(tmp_path / "pairs")
        streaming_index_dedup(
            stream, "text", "doc_id", bands, sets,
            out_path=out, checkpoint=str(tmp_path / "ckpt"), threshold=0.6,
        )
        got = sorted(
            (r.new_id, r.index_id) for r in spark.read.parquet(out).collect()
        )
        want = sorted(
            (r.new_id, r.index_id)
            for r in dedup_against_index(
                new, "text", "doc_id", bands, sets, threshold=0.6
            ).collect()
        )
        release()
        assert got == want and (100, 1) in got

    def test_stream_frees_batch_state(self, spark, tmp_path):
        """Each micro-batch frees what it persisted or checkpointed
        (spread barrier included) once its pairs are written: a live
        stream must not keep one batch's state per batch forever."""
        from deepdb_public_spark.streaming.windows import streaming_index_dedup

        index = _corpus(
            spark,
            [(1, BASE), (2, "some totally different indexed text about engines")],
        )
        new_rows = [(100, BASE), (101, "unrelated fresh crawl content"), (102, BASE + " tail")]
        new = _corpus(spark, new_rows)
        src = str(tmp_path / "incoming")
        new.repartition(2).write.parquet(src)
        bands, sets = build_minhash_index(index, "text", "doc_id")
        bands.count(), sets.count()  # the index's own state, before
        persistent = spark.sparkContext._jsc.getPersistentRDDs
        before = persistent().size()

        stream = (
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        streaming_index_dedup(
            stream, "text", "doc_id", bands, sets,
            out_path=str(tmp_path / "pairs"),
            checkpoint=str(tmp_path / "ckpt"), threshold=0.6,
        )
        after = persistent().size()
        release()
        assert after == before


class TestProfileTable:
    def test_profile_stats(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", None), (3, None, 2.5), (3, "a", 0.5)],
            "id long, s string, v double",
        )
        rows = {r.col_name: r for r in profile_table(df).collect()}
        assert rows["id"].n_rows == 4 and rows["id"].n_distinct == 3
        assert rows["s"].n_nulls == 1 and rows["s"].min_str == "a"
        assert rows["s"].max_str == "b" and rows["s"].min_num is None
        assert rows["v"].n_nulls == 1
        assert rows["v"].min_num == 0.5 and rows["v"].max_num == 2.5
        assert rows["id"].dtype == "bigint" and rows["v"].dtype == "double"

    def test_profile_column_subset(self, spark):
        df = spark.createDataFrame([(1, "x")], "id long, s string")
        out = profile_table(df, columns=["s"]).collect()
        assert len(out) == 1 and out[0].col_name == "s"
