"""End-to-end training-data pipeline composition: the operators chain
the way a real corpus build does — profile -> quality filter ->
near-dup removal -> decontamination -> split -> pack — and the
invariants that make the output trainable hold at every stage.

Each stage is an operator tested in isolation elsewhere; this file
asserts the COMPOSITION: counts monotonically decrease, no duplicate
survives dedup at the threshold, no test-set fingerprint leaks into
train, every pack respects its budget shard-locally.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deepdb_public_spark.functions.text import fingerprint_md5, token_count
from deepdb_public_spark.operators.dedup import (
    deduplicate_corpus,
    minhash_lsh_pairs,
)
from deepdb_public_spark.operators.filters import gopher_filter
from deepdb_public_spark.operators.lifecycle import release
from deepdb_public_spark.operators.sampling import hash_split, pack_sequences
from deepdb_public_spark.operators.textstats import contamination_report
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    # plant exact duplicates so dedup provably has work to do
    dups = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 700_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return docs.unionByName(dups).persist()


def test_pipeline_stages_compose(spark, corpus):
    n0 = corpus.count()

    # 1. quality filter — the synthetic corpus structurally fails the
    # stopword/word-count Gopher rules (40-word vocabulary, no real
    # English), so this stage filters on the rules it CAN meet, via
    # the audit view (the full-rule gopher_filter path is unit-tested
    # on real English in test_filters.py)
    from deepdb_public_spark.operators.filters import gopher_quality_flags

    flags = gopher_quality_flags(corpus, "text", "doc_id").filter(
        F.col("mean_word_len_ok")
        & F.col("symbol_ratio_ok")
        & F.col("alpha_fraction_ok")
    ).select("doc_id")
    filtered = corpus.join(flags, "doc_id", "left_semi").persist()
    n1 = filtered.count()
    assert 0 < n1 <= n0
    assert gopher_filter(corpus, "text", "doc_id").count() <= n1  # full rules stricter

    # 2. near-dup removal at J >= 0.8
    pairs = minhash_lsh_pairs(
        filtered, "text", "doc_id", threshold=0.8, n_hashes=64, n_bands=16,
        use_char_ngrams=True, ngram=5,
    )
    deduped = deduplicate_corpus(filtered, "doc_id", pairs).persist()
    n2 = deduped.count()
    release()
    assert n2 < n1  # the planted duplicates are gone
    # no exact duplicate content survives
    fps = deduped.select(fingerprint_md5(F.col("text")).alias("fp"))
    assert fps.count() == fps.distinct().count()

    # 3. split + decontamination: leakage detector finds nothing after
    # dedup (any cross-split duplicate would have been collapsed)
    split = hash_split(deduped, "doc_id", {"train": 0.9, "test": 0.1}).persist()
    leaks = contamination_report(split, "text", "doc_id", "split")
    assert leaks.count() == 0

    # 4. pack the train split into 512-token context windows per source
    train = split.filter(F.col("split") == "train").select(
        "doc_id", "source", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(train, "doc_id", F.col("n_tokens"), 512, "source")
    stats = (
        packed.groupBy("source", "pack_id")
        .agg(F.sum("n_tokens").alias("tok"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert stats and all(r.n >= 1 for r in stats)
    # every pack holds < budget + one max-doc of tokens (a doc may
    # straddle its pack boundary, never more)
    max_doc = train.agg(F.max("n_tokens")).collect()[0][0]
    assert all(r.tok <= 512 + max_doc for r in stats)

    for df in (filtered, deduped, split):
        df.unpersist()
