"""Round 14 (optimization round 2): regression tests for the advisor's
robustness fixes — non-finite SQL literals, backtick-quoted DDL names,
the _lloyd_fit_multi fusion cap, and the None-exact literal guard."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from deepdb_public_spark.operators.partitioning import (
    _sql_literal,
    tiny_literal_frame,
)
from deepdb_public_spark.operators.similarity import _dlit


# ------------------------------------------ non-finite SQL literals


def test_dlit_non_finite_parses(spark):
    """repr(nan)+'D' is an unparseable 'nanD' token — the cast
    spelling must round-trip all three non-finite doubles."""
    row = spark.sql(
        f"SELECT {_dlit(float('nan'))} AS a, {_dlit(float('inf'))} AS b, "
        f"{_dlit(float('-inf'))} AS c, {_dlit(1.5)} AS d"
    ).collect()[0]
    assert math.isnan(row["a"])
    assert row["b"] == float("inf")
    assert row["c"] == float("-inf")
    assert row["d"] == 1.5


def test_tiny_literal_frame_non_finite(spark):
    rows = [
        (1, float("nan")),
        (2, float("inf")),
        (3, float("-inf")),
        (4, 2.75),
    ]
    got = (
        tiny_literal_frame(spark, rows, "id int, x double")
        .orderBy("id")
        .collect()
    )
    assert math.isnan(got[0]["x"])
    assert got[1]["x"] == float("inf")
    assert got[2]["x"] == float("-inf")
    assert got[3]["x"] == 2.75
    # array elements go through the same renderer
    arr = tiny_literal_frame(
        spark, [([float("nan"), 1.0],)], "v array<double>"
    ).collect()[0]["v"]
    assert math.isnan(arr[0]) and arr[1] == 1.0


def test_sql_literal_finite_unchanged():
    assert _sql_literal(1.5, "double") == "1.5D"
    assert _sql_literal(None, "double") == "CAST(NULL AS double)"


# ------------------------------------- backtick-quoted column names


def test_tiny_literal_frame_backtick_names(spark):
    df = tiny_literal_frame(
        spark,
        [(1, "a"), (2, "b")],
        "`weird name` int, `x` string",
    )
    assert df.columns == ["weird name", "x"]
    got = df.orderBy("`weird name`").collect()
    assert [(r["weird name"], r["x"]) for r in got] == [(1, "a"), (2, "b")]


def test_tiny_literal_frame_malformed_backtick_rejected(spark):
    with pytest.raises(ValueError):
        tiny_literal_frame(spark, [(1,)], "`unclosed int")


# ------------------------------------------- Lloyd fusion batching


def test_lloyd_fit_multi_batched_equals_fused(spark, monkeypatch):
    """Forcing the fusion cap below prod(k_s) must split the specs
    into independent chains that return the IDENTICAL codebooks (each
    batch is the classic per-fit chain over shared seeds)."""
    from deepdb_public_spark.operators import similarity as sim

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(200)
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    specs = [(0, 4, 4), (4, 4, 4), (8, 4, 4)]  # prod = 64
    fused = sim._lloyd_fit_multi(vecs, specs, iters=2, op_name="t")
    monkeypatch.setattr(sim, "_FUSE_MAX_GROUPS", 16)  # forces 3 batches
    split = sim._lloyd_fit_multi(vecs, specs, iters=2, op_name="t")
    assert fused == split


def test_lloyd_fit_multi_rejects_malformed_vectors(spark):
    """A cluster whose vectors are all shorter than dim sums to NULL
    (element_at is NULL past the end with ANSI off), and a NaN element
    sums to NaN: both must raise instead of yielding NaN centroids."""
    from deepdb_public_spark.operators.similarity import _lloyd_fit_multi

    short = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [10.0]), (2, [0.1, 0.1, 0.1]), (3, [10.2])],
        "id long, v array<double>",
    )
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(ValueError, match="finite"):
            _lloyd_fit_multi(short, [(None, None, 2)], iters=2)
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")
    nan = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [0.1, float("nan")]), (3, [10.0, 10.0])],
        "id long, v array<double>",
    )
    with pytest.raises(ValueError, match="finite"):
        _lloyd_fit_multi(nan, [(None, None, 2)], iters=2)


# ------------------------------- spread barrier as persist (r14)


def test_spread_barrier_blocks_pushdown(spark):
    """The spread persist must stop Catalyst from evaluating
    downstream expressions below the repartition: the physical plan
    reads an InMemoryTableScan of the RAW columns and the expensive
    projection sits above it, on the spread partitioning."""
    from deepdb_public_spark.operators.lifecycle import release
    from deepdb_public_spark.operators.partitioning import spread_small_input

    release()
    df = spark.range(100).coalesce(1).selectExpr(
        "id", "repeat('ab', 50) AS text"
    )
    out = spread_small_input(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    work = out.selectExpr(
        "id", "size(split(text, 'a')) AS n"
    ).filter("n > 1")
    plan = work._sc._jvm.PythonSQLUtils.explainString(
        work._jdf.queryExecution(), "formatted"
    ) if hasattr(work._sc._jvm, "PythonSQLUtils") else work._jdf.queryExecution().toString()
    assert "InMemoryTableScan" in plan
    assert work.count() == 100
    # released persists are recomputable (unlike the old checkpoint)
    assert release() >= 1
    assert work.count() == 100


def test_spread_barrier_checkpoint_flavor(spark):
    """barrier="checkpoint" (the branch-heavy-consumer flavor) spreads
    to full parallelism, presents a leaf (Scan ExistingRDD) that AQE's
    stage cache can reuse exchanges above, and is tracked for release."""
    from deepdb_public_spark.operators.lifecycle import release
    from deepdb_public_spark.operators.partitioning import spread_small_input

    release()
    df = spark.range(100).coalesce(1).selectExpr(
        "id", "repeat('ab', 50) AS text"
    )
    out = spread_small_input(df, barrier="checkpoint")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    work = out.selectExpr("id", "size(split(text, 'a')) AS n").filter("n > 1")
    plan = work._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    assert work.count() == 100
    assert release() >= 1


# ---------------------------------- all-pairs cost gate (r14, V7)


def test_allpairs_gate_dense_vs_sparse(spark):
    """The measured density gate must pick all-pairs on a corpus
    whose prefix lists degenerate (every doc shares the same shingle
    prefix) and the prefix plan on one with disjoint shingle sets."""
    from deepdb_public_spark.operators.dedup import _allpairs_beats_prefix

    n = 200
    # dense: every doc's sorted hashed-shingle prefix is identical
    dense = spark.range(n).selectExpr(
        "id", "transform(sequence(0, 19), j -> CAST(j AS BIGINT)) AS sh"
    )
    assert _allpairs_beats_prefix(dense, n, 0.8) is True
    # sparse: disjoint shingle sets -> zero prefix collisions
    sparse = spark.range(n).selectExpr(
        "id",
        "transform(sequence(0, 19), j -> id * 100 + CAST(j AS BIGINT)) AS sh",
    )
    assert _allpairs_beats_prefix(sparse, n, 0.8) is False


def test_jaccard_pairs_branches_agree(spark):
    """Both gate outcomes are exact: forcing each branch on the same
    corpus must produce identical pair sets (the gate is purely a
    cost choice)."""
    from deepdb_public_spark.operators import dedup as D
    from deepdb_public_spark.operators.lifecycle import release

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(120)
    )

    def run():
        out = D.jaccard_pairs_exact(
            docs, "text", "doc_id", threshold=0.8,
            use_char_ngrams=True, ngram=5,
        )
        rows = sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in out.collect()
        )
        release()
        return rows

    orig = D._allpairs_beats_prefix
    try:
        D._allpairs_beats_prefix = lambda *a, **k: True
        allpairs = run()
        D._allpairs_beats_prefix = lambda *a, **k: False
        prefix = run()
    finally:
        D._allpairs_beats_prefix = orig
    assert allpairs == prefix and len(allpairs) > 0


# ------------------------------ banded percentile refinement (r14)


def test_exact_percentiles_refinement_path(spark):
    """A band_cap far below the initial band mass forces the
    sketch-refinement loop; the refined band must still yield the
    bit-identical percentile (near-unique column, so refinement can
    always shrink the bracket below the cap)."""
    from deepdb_public_spark.operators.quantiles import (
        exact_interpolated_percentiles,
    )

    df = spark.range(50_000).selectExpr(
        "CAST(xxhash64(id) % 1000000 AS DOUBLE) AS x"
    )
    cases = [(None, "x", 0.25), (None, "x", 0.5), ("x > 0", "x", 0.9)]
    truth = df.selectExpr(
        *[
            f"percentile(x, {p!r})"
            + (f" FILTER (WHERE {pred})" if pred else "")
            + f" AS t{i}"
            for i, (pred, _c, p) in enumerate(cases)
        ]
    ).collect()[0]
    # initial band ~ 2*0.002*50k = 200 rows >> cap=40 -> refine loop
    got = exact_interpolated_percentiles(df, cases, band_cap=40)
    for i in range(len(cases)):
        assert got[i]["exact"] == truth[f"t{i}"], (i, got[i])


def test_exact_percentiles_tie_mass_falls_back(spark):
    """A single value with tie mass past band_cap can never shrink:
    the no-progress check must route it to the classic fallback with
    the identical result."""
    from deepdb_public_spark.operators.quantiles import (
        exact_interpolated_percentiles,
    )

    df = spark.range(10_000).selectExpr(
        "CASE WHEN id < 9000 THEN 42.0D ELSE CAST(id AS DOUBLE) END AS x"
    )
    (got,) = exact_interpolated_percentiles(
        df, [(None, "x", 0.5)], band_cap=100
    )
    truth = df.selectExpr("percentile(x, 0.5) AS t").collect()[0]["t"]
    assert got["exact"] == truth == 42.0


# -------------------------------------- None-exact literal rendering


def test_exact_percentiles_empty_population(spark):
    """exact_interpolated_percentiles returns exact=None on an empty
    population; the entry-side literal renderers must spell that as
    CAST(NULL AS DOUBLE), which ROUND propagates as NULL."""
    from deepdb_public_spark.operators.quantiles import (
        exact_interpolated_percentiles,
    )

    df = spark.range(0).selectExpr("CAST(id AS DOUBLE) AS x")
    (res,) = exact_interpolated_percentiles(df, [(None, "x", 0.5)])
    assert res == {"n": 0, "exact": None, "approx": None}
    ex = (
        "CAST(NULL AS DOUBLE)"
        if res["exact"] is None
        else f"CAST({res['exact']!r} AS DOUBLE)"
    )
    row = spark.sql(f"SELECT ROUND({ex}, 6) AS p").collect()[0]
    assert row["p"] is None
