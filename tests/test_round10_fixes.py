"""Round 10: portable simhash token hash (x07 oracle flip), jaccard
corpus-prep memoization, index-side-only bitmap broadcast, cross-piece
grid mass pruning, unseen-categorical diagnostic fallback.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_portable_hash64_matches_duckdb(spark, duck):
    """portable_hash64 (Spark conv(md5-prefix, 16, -10)) must equal
    DuckDB's ('0x'||substr(md5,1,16))::UBIGINT wrapped to signed,
    bit for bit — the foundation of the x07 simhash oracle. Includes
    a leading-f token (negative as signed) and unicode."""
    from deepdb_public_spark.functions.hashing import portable_hash64

    tokens = ["hello", "world", "a", "ffff_leading", "naïve", "42"]
    got = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in tokens], "t string")
        .select("t", portable_hash64(F.col("t")).alias("h"))
        .collect()
    }
    con = duck[SF_SMOKE]
    for t in tokens:
        (exp,) = con.execute(
            "SELECT CAST(u::HUGEINT - CASE WHEN u >= "
            "9223372036854775808::UBIGINT THEN "
            "18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) "
            "FROM (SELECT ('0x' || substr(md5(?), 1, 16))::UBIGINT AS u)",
            [t],
        ).fetchone()
        assert got[t] == exp, t
    assert any(v < 0 for v in got.values())  # sign bit exercised


def test_jaccard_prepared_equivalence(spark):
    """jaccard_pairs_exact(prepared=...) must return the exact same
    pair set as the self-contained call — the memoization only moves
    corpus prep out of the per-call plan (x05 bench accounting)."""
    from deepdb_public_spark.operators.dedup import (
        jaccard_pairs_exact,
        prepare_jaccard_corpus,
    )
    from deepdb_public_spark.operators.lifecycle import release

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = sorted(
        tuple(r)
        for r in jaccard_pairs_exact(
            docs, "text", "doc_id", threshold=0.8,
            use_char_ngrams=True, ngram=5,
        ).collect()
    )
    prepared = prepare_jaccard_corpus(
        docs, "text", "doc_id", use_char_ngrams=True, ngram=5,
        checkpoint=True,
    )
    try:
        for thr in (0.8, 0.9):
            via_prep = sorted(
                tuple(r)
                for r in jaccard_pairs_exact(
                    docs, "text", "doc_id", threshold=thr,
                    use_char_ngrams=True, ngram=5, prepared=prepared,
                ).collect()
            )
            if thr == 0.8:
                assert via_prep == base
            else:  # threshold is NOT baked into the prepared state
                assert set(via_prep) <= set(base)
                assert all(p[2] >= 0.9 for p in via_prep)
    finally:
        release()


def test_bitmap_verify_broadcasts_index_side_only(spark):
    """With a separate bm_b (the dedup_against_index probe shape),
    broadcast_bm must hint ONLY the bounded index-side table: the
    new-batch side is unbounded on the advertised per-crawl-batch
    path and broadcasting it could exceed the broadcast limit
    (round-9 ADVICE)."""
    from deepdb_public_spark.operators.dedup import _bitmap_verify

    cand = spark.createDataFrame([(1, 10)], "id_a long, id_b long")
    bm_a = spark.createDataFrame(
        [(1, 2, 3)], "id long, sz long, w0 long"
    )
    bm_b = spark.createDataFrame(
        [(10, 2, 3)], "id long, sz long, w0 long"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = _bitmap_verify(cand, bm_a, 1, broadcast_bm=True, bm_b=bm_b)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastExchange") == 1, plan
        # sanity: the verify math still runs
        assert out.collect()[0]["jaccard"] == pytest.approx(1.0)
        # shared-table shape (bm_b=None): both sides may broadcast
        out2 = _bitmap_verify(cand, bm_a, 1, broadcast_bm=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cross_piece_grid_mass_pruning(spark):
    """A 200x200 raw cross-piece grid (40k cells > the 10k cap) must
    now ANSWER instead of raising GroupByExplosion: the cust piece's
    bucket marginals are ~0 for every non-vip bucket under the
    piece-local vip condition, so per-piece mass pruning drops them
    before the cross product — and the surviving estimates match the
    planted truth (round-9 review item 7)."""
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
        Condition,
        Query,
        QueryType,
    )
    from deepdb_public_spark.plans.schema import SchemaGraph, Table
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.learn import LearnParams
    from deepdb_public_spark.spn.trainer import train_spn_model

    # 200 buckets x 5 custs; only buckets 0..4 are vip. Each cust has
    # 40 orders, flag2 uniform over 200 values -> vip join rows =
    # 5 * 5 * 40 = 1000, ~1 expected row per surviving (bucket, flag2)
    custs, orders, ok = [], [], 0
    for b in range(200):
        for i in range(5):
            ck = b * 5 + i
            custs.append((ck, b, 1 if b < 5 else 0))
            for j in range(40):
                orders.append((ok, ck, (ck * 40 + j) % 200))
                ok += 1
    cdf = spark.createDataFrame(custs, "ck int, bucket int, vip int")
    odf = spark.createDataFrame(orders, "ok int, o_ck int, flag2 int")

    g = SchemaGraph()
    g.add_table(Table("cust", ["ck"]))
    g.add_table(Table("ord", ["ok"]))
    rel = g.add_relationship("ord", "o_ck", "cust", "ck")
    catalog = {"cust": cdf, "ord": odf}
    params = LearnParams(min_instances_slice=100)
    ens = SPNEnsemble(g)
    ens.add_model(train_spn_model(catalog, g, {"cust"}, 50_000, params))
    ens.add_model(train_spn_model(catalog, g, {"ord"}, 50_000, params))

    q = Query(
        query_type=QueryType.AQP,
        table_set={"cust", "ord"},
        relationship_set={rel.identifier},
        group_bys=[("cust", "bucket"), ("ord", "flag2")],
        aggregations=[
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.COUNT,
                [],
                alias="cnt",
            )
        ],
        conditions=[Condition("cust", "vip", "=", 1)],
    )
    rows = ens.aqp(q)  # pre-round-10: GroupByExplosion (40k > 10k)
    assert rows, "pruned grid answered nothing"
    buckets = {r["bucket"] for r in rows}
    assert buckets <= set(range(5)), f"non-vip buckets survived: {buckets}"
    total = sum(r["cnt"] for r in rows)
    # truth: 1000 vip join rows; surviving cells carry nearly all mass
    assert total == pytest.approx(1000.0, rel=0.35), total


def test_unseen_diagnostic_fallback_names_counts(spark):
    """When the string-form anti-join probe finds no example pairs
    (typed-lookup vs string-form disagreement), the error must fall
    back to the per-column unseen counts from the fused stats pass
    instead of reading 'e.g. []' (round-9 ADVICE)."""
    from types import SimpleNamespace

    from deepdb_public_spark.spn.incremental import _raise_unseen

    # a model whose only dict column's string forms cover the delta's
    # string forms -> the probe comes back empty by construction
    meta = SimpleNamespace(
        columns={
            "c": SimpleNamespace(
                kind="categorical", value_to_code={"1": 0, "2": 1}
            )
        }
    )
    model = SimpleNamespace(column_names=["c"], meta=meta)
    delta = spark.createDataFrame([("1",), ("2",)], "c string")
    with pytest.raises(ValueError) as ei:
        _raise_unseen(model, delta, {"c": 7})
    msg = str(ei.value)
    assert "'c': 7" in msg and "[]" not in msg


def test_index_build_secs_recorded(spark):
    """x35's memoized index build must record its one-time cost in
    INDEX_BUILD_SECS so bench.py can emit index_build_secs (round-9
    review item 2). x05 no longer memoizes — its memo was measured
    as a pessimization and reverted (see _x_jaccard_pairs docstring),
    so it must NOT write a key."""
    import __spark_entry__ as entry_mod

    entry_mod.INDEX_BUILD_SECS.pop("x35_minhash_index", None)
    entry_mod.INDEX_BUILD_SECS.pop("x05_jaccard_prepare", None)
    eng = entry_mod._engine(spark, SF_SMOKE)
    if hasattr(eng, "_x35_index"):
        del eng._x35_index
    entry_mod.queries()["x35_dedup_index"](spark, SF_SMOKE).collect()
    assert entry_mod.INDEX_BUILD_SECS.get("x35_minhash_index", 0) > 0
    # second run reuses the memo: the recorded cost must not change
    v = entry_mod.INDEX_BUILD_SECS["x35_minhash_index"]
    entry_mod.queries()["x35_dedup_index"](spark, SF_SMOKE).collect()
    assert entry_mod.INDEX_BUILD_SECS["x35_minhash_index"] == v
    entry_mod.queries()["x05_jaccard_pairs"](spark, SF_SMOKE).collect()
    assert "x05_jaccard_prepare" not in entry_mod.INDEX_BUILD_SECS
