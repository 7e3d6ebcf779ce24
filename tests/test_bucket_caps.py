"""Adversarial LSH bucket caps: a degenerate bucket (1k identical
docs) must produce a LINEAR number of candidate pairs, not B²,
while keeping the duplicate cluster connected."""

from __future__ import annotations

from pyspark.sql import functions as F

from deepdb_public_spark.operators.dedup import (
    capped_bucket_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from deepdb_public_spark.operators.lifecycle import release


def _connected_one_cluster(pairs, n):
    """Union-find over the pair list: all n ids in one component."""
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        parent[find(a)] = find(b)
    return len({find(i) for i in range(n)}) == 1


def test_capped_bucket_pairs_linear_and_connected(spark):
    n = 1000
    members = spark.createDataFrame(
        [(i, "same") for i in range(n)], "id int, bucket string"
    )
    out = capped_bucket_pairs(
        members, ["bucket"], max_bucket_size=256, chain_width=4
    )
    rows = [(r["id_a"], r["id_b"]) for r in out.collect()]
    assert len(rows) <= n * 4  # linear, not 499500
    assert _connected_one_cluster(rows, n)
    # regression: sequence(start, stop) REVERSES when start > stop, so
    # the chain end used to emit (last, last) self-pairs
    assert all(a != b for a, b in rows)


def test_minhash_identical_docs_complete_pairs(spark):
    """Identical shingle sets collapse to ONE representative before
    banding (buckets never see the duplicate mass), and the intra-group
    expansion emits the complete, correct pair set — recall 1.0 on
    exact duplicates regardless of banding or bucket caps."""
    n = 400
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(n)],
        "doc_id int, text string",
    )
    out = minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.8, n_hashes=16, n_bands=4
    )
    rows = [(r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()]
    assert len(rows) == n * (n - 1) // 2
    assert all(j == 1.0 for _, _, j in rows)
    assert _connected_one_cluster([(a, b) for a, b, _ in rows], n)
    release()


def test_minhash_distinct_sets_capped_candidates(spark):
    """Distinct shingle sets that collide into the same band buckets
    are still bounded by the chain cap — candidate (and output) pairs
    stay linear, and the chain keeps the cluster connected."""
    n = 1000
    base = "the same long boilerplate text repeated everywhere in every document body"
    docs = spark.createDataFrame(
        [(i, f"{base} tail{i}") for i in range(n)],
        "doc_id int, text string",
    )
    out = minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.5, n_hashes=16, n_bands=4
    )
    rows = [(r["id_a"], r["id_b"]) for r in out.collect()]
    # chain bound: ~n * chain_width (4) per band (4), minus overlaps.
    # (Global connectivity is NOT expected here: distinct signatures
    # legitimately scatter across buckets; connectivity under the cap
    # is asserted by test_capped_bucket_pairs_linear_and_connected.)
    assert 0 < len(rows) <= n * 4 * 4
    release()


def test_simhash_identical_docs_complete_pairs(spark):
    """Equal signatures collapse before blocking; the complete
    hamming-0 pair set is emitted directly."""
    n = 300
    docs = spark.createDataFrame(
        [(i, "identical words in every document here") for i in range(n)],
        "doc_id int, text string",
    )
    out = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    rows = [(r["id_a"], r["id_b"], r["hamming"]) for r in out.collect()]
    assert len(rows) == n * (n - 1) // 2
    assert all(h == 0 for _, _, h in rows)
    assert _connected_one_cluster([(a, b) for a, b, _ in rows], n)
    release()
