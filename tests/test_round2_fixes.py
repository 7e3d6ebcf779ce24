"""Regression tests for the round-2 ADVICE fixes:
- per-column range intersection (two conjuncts on one column)
- group-by enumeration honoring a WHERE range on the grouped column
- add_dataset delta weighting when training fraction < 1
- COUNT(col) NULL-skipping semantics on both planes
- skew_tolerant_join 'left' NULL-key routing / non-inner rejection
"""

from __future__ import annotations

import numpy as np
import pytest

from deepdb_public_spark.operators.prep import ColumnMeta, TableMeta
from deepdb_public_spark.plans.parser import parse_query
from deepdb_public_spark.plans.query import Condition, Query, QueryType
from deepdb_public_spark.plans.schema import tpch_like_schema
from deepdb_public_spark.spn.leaves import Leaf
from deepdb_public_spark.spn.learn import LearnParams, learn_spn
from deepdb_public_spark.spn.model import SPNModel
from deepdb_public_spark.spn.ranges import (
    NominalRange,
    NullOnlyRange,
    NumericRange,
    intersect_ranges,
    is_empty_range,
)

# ---------- range intersection units ----------


def test_intersect_numeric_overlap():
    a = NumericRange([(10, np.inf, True, True)])
    b = NumericRange([(-np.inf, 20, True, False)])
    out = intersect_ranges(a, b)
    assert out.intervals == [(10, 20, True, False)]


def test_intersect_numeric_disjoint_is_empty():
    a = NumericRange([(0, 5, True, True)])
    b = NumericRange([(10, 20, True, True)])
    assert is_empty_range(intersect_ranges(a, b))


def test_intersect_point_boundary_inclusivity():
    a = NumericRange([(0, 10, True, True)])
    b = NumericRange([(10, 20, True, True)])
    out = intersect_ranges(a, b)
    assert out.intervals == [(10, 10, True, True)]
    b_open = NumericRange([(10, 20, False, True)])
    assert is_empty_range(intersect_ranges(a, b_open))


def test_intersect_nominal_and_mixed():
    a = NominalRange([1, 2, 3, 4])
    b = NominalRange([3, 4, 5])
    assert intersect_ranges(a, b).values == [3, 4]
    num = NumericRange([(2, 4, True, False)])
    assert intersect_ranges(a, num).values == [2, 3]


def test_intersect_null_only():
    assert isinstance(
        intersect_ranges(NullOnlyRange(), NullOnlyRange()), NullOnlyRange
    )
    # IS NULL AND x > 3 admits nothing
    out = intersect_ranges(NullOnlyRange(), NumericRange([(3, np.inf, False, True)]))
    assert is_empty_range(out)


# ---------- model-plane conjunct behavior ----------


def _single_table_model(data: np.ndarray, cols: list[str]) -> SPNModel:
    root = learn_spn(
        data, list(range(data.shape[1])), LearnParams(min_instances_slice=200)
    )
    meta = TableMeta("t", len(data))
    for c in cols:
        meta.columns[c] = ColumnMeta(c, "numeric", 50)
    return SPNModel(
        table_set={"t"},
        relationships=[],
        full_join_size=float(len(data)),
        column_names=cols,
        meta=meta,
        column_table={c: "t" for c in cols},
        root=root,
        sample_size=len(data),
    )


def test_two_conjuncts_same_column_intersect():
    rng = np.random.default_rng(0)
    x = rng.integers(0, 40, 5000).astype(float)
    y = rng.integers(0, 5, 5000).astype(float)
    m = _single_table_model(np.stack([x, y], axis=1), ["x", "y"])
    q = Query(table_set={"t"})
    q.add_where_condition(Condition("t", "x", ">=", 10))
    q.add_where_condition(Condition("t", "x", "<", 20))
    est = m.cardinality(q)
    true = ((x >= 10) & (x < 20)).sum()
    assert est == pytest.approx(true, rel=0.15)
    # the buggy last-wins behavior would estimate P(x < 20) ~ half the table
    assert est < ((x < 20).sum()) * 0.7


def test_groupby_respects_where_on_grouped_column():
    rng = np.random.default_rng(1)
    g = rng.integers(0, 4, 4000).astype(float)
    v = rng.integers(0, 10, 4000).astype(float)
    m = _single_table_model(np.stack([g, v], axis=1), ["g", "v"])
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
    )

    q = Query(query_type=QueryType.AQP, table_set={"t"})
    q.add_where_condition(Condition("t", "g", "<>", 1))
    q.add_group_by("t", "g")
    q.aggregations.append(
        AggOperation(
            AggregationOperationType.AGGREGATION,
            AggregationType.COUNT,
            alias="cnt",
        )
    )
    rows = m.aqp(q)
    groups = {r["g"] for r in rows}
    assert 1.0 not in groups  # excluded by WHERE, must not re-appear
    assert groups == {0.0, 2.0, 3.0}


def test_add_dataset_weights_delta_by_training_fraction():
    # model trained on a 20% sample of a 10k-row table; absorb a full
    # 5k-row delta that is all zeros. Correct posterior: P(x=0) =
    # (1000 + 5000) / 15000 = 0.4 (NOT (400+5000)/7400 ~ 0.73).
    rng = np.random.default_rng(2)
    base = rng.integers(0, 10, 10_000).astype(float)
    sample = base[:2000].copy()
    leaf = Leaf.fit(0, sample)
    m = SPNModel(
        table_set={"t"},
        relationships=[],
        full_join_size=10_000.0,
        column_names=["x"],
        meta=TableMeta("t", 10_000, {"x": ColumnMeta("x", "numeric", 10)}),
        column_table={"x": "t"},
        root=leaf,
        sample_size=2000,
    )
    delta = np.zeros((5000, 1))
    m.add_dataset(delta)
    assert m.full_join_size == pytest.approx(15_000)
    q = Query(table_set={"t"})
    q.add_where_condition(Condition("t", "x", "=", 0))
    est = m.cardinality(q)
    true_zeros = (base == 0).sum() + 5000
    assert est == pytest.approx(true_zeros, rel=0.15)


# ---------- COUNT(col) semantics ----------


def test_parser_count_col_is_aqp_with_operands():
    schema = tpch_like_schema()
    q = parse_query(
        "SELECT COUNT(orders.o_totalprice) FROM orders "
        "WHERE orders.o_totalprice > 100", schema
    )
    assert q.query_type is QueryType.AQP
    assert q.aggregations[0].operands == [("orders", "o_totalprice")]
    q2 = parse_query("SELECT COUNT(*) FROM orders", schema)
    assert q2.query_type is QueryType.CARDINALITY


def test_model_count_col_skips_nulls():
    # column with 30% NULLs: COUNT(x) must exclude them
    x = np.array([np.nan] * 300 + list(range(700)), dtype=float)
    leaf = Leaf.fit(0, x)
    m = SPNModel(
        table_set={"t"},
        relationships=[],
        full_join_size=1000.0,
        column_names=["x"],
        meta=TableMeta("t", 1000, {"x": ColumnMeta("x", "numeric", 700)}),
        column_table={"x": "t"},
        root=leaf,
        sample_size=1000,
    )
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
    )

    q = Query(query_type=QueryType.AQP, table_set={"t"})
    q.aggregations.append(
        AggOperation(
            AggregationOperationType.AGGREGATION,
            AggregationType.COUNT,
            operands=[("t", "x")],
            alias="cnt",
        )
    )
    rows = m.aqp(q)
    assert rows[0]["cnt"] == pytest.approx(700, rel=0.01)


def test_compiler_count_col_skips_nulls(spark):
    from deepdb_public_spark.plans.compiler import ExactCompiler
    from deepdb_public_spark.plans.schema import SchemaGraph, Table

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, None)], "id int, v double"
    )
    g = SchemaGraph()
    g.add_table(Table("t", ["id"]))
    comp = ExactCompiler(g, {"t": df})
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
    )

    q = Query(query_type=QueryType.AQP, table_set={"t"})
    q.aggregations.append(
        AggOperation(
            AggregationOperationType.AGGREGATION,
            AggregationType.COUNT,
            operands=[("t", "v")],
            alias="cnt",
        )
    )
    assert comp.compile(q).collect()[0]["cnt"] == 2


# ---------- skew join semantics ----------


def test_skew_join_left_keeps_null_keys(spark):
    from deepdb_public_spark.operators.joins import skew_tolerant_join

    left = spark.createDataFrame(
        [(1, "a")] * 50 + [(2, "b"), (None, "c")], "k int, lv string"
    )
    right = spark.createDataFrame([(1, "x"), (3, "y")], "k int, rv string")
    out = skew_tolerant_join(
        left, right, "k", how="left", hot_key_threshold=10, sample_fraction=1.0
    )
    expected = left.join(right, "k", "left")
    assert out.count() == expected.count()  # NULL-key row survives
    assert (
        out.filter("k IS NULL").count() == 1
        and out.filter("k = 2").count() == 1
    )
    with pytest.raises(ValueError):
        skew_tolerant_join(left, right, "k", how="full")


class TestOperatorReviewFixes:
    """Round-3 review regressions: star buckets, empty inputs, NULL
    semantics, banding validation."""

    def test_star_bucket_diameter_two(self, spark):
        from deepdb_public_spark.operators.dedup import capped_bucket_pairs

        n = 800
        members = spark.createDataFrame(
            [(i, "same") for i in range(n)], "id int, bucket string"
        )
        rows = [
            (r.id_a, r.id_b)
            for r in capped_bucket_pairs(
                members, ["bucket"], max_bucket_size=256, chain_width=4
            ).collect()
        ]
        assert len(rows) <= n * 4 and all(a < b for a, b in rows)
        # star: every member reaches member 0 within <= 2 hops
        nbrs: dict = {}
        for a, b in rows:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        hub_reach = {0} | nbrs.get(0, set())
        assert all(
            v in hub_reach or (nbrs[v] & hub_reach) for v in nbrs
        ), "component diameter exceeds 2"

    def test_banding_validation(self, spark):
        import pytest as _pytest

        from deepdb_public_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="multiple"):
            minhash_lsh_pairs(docs, "text", "doc_id", n_hashes=32, n_bands=40)
        with _pytest.raises(ValueError, match="multiple"):
            minhash_lsh_pairs(docs, "text", "doc_id", n_hashes=32, n_bands=10)

    def test_jaccard_exact_skips_empty_docs(self, spark):
        from deepdb_public_spark.operators.dedup import jaccard_pairs_exact
        from deepdb_public_spark.operators.lifecycle import release

        docs = spark.createDataFrame(
            [(1, "   "), (2, ""), (3, "real words here")],
            "doc_id long, text string",
        )
        pairs = jaccard_pairs_exact(docs, "text", "doc_id", threshold=0.5).collect()
        release()
        assert pairs == []  # no bogus jaccard-1.0 pair for (1, 2)

    def test_embedding_neardup_empty_input(self, spark):
        from deepdb_public_spark.operators.dedup import embedding_neardup_pairs

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        assert embedding_neardup_pairs(empty, "embedding", "vec_id").count() == 0

    def test_knn_join_lsh_empty_left(self, spark):
        from deepdb_public_spark.operators.similarity import knn_join_lsh

        empty = spark.createDataFrame([], "id long, v array<float>")
        right = spark.createDataFrame(
            [(1, [1.0, 0.0])], "id long, v array<float>"
        )
        assert knn_join_lsh(empty, right, "v", "id", "id").count() == 0

    def test_asof_join_null_keys_and_suffix_collision(self, spark):
        import pytest as _pytest

        from deepdb_public_spark.operators.joins import asof_join

        left = spark.createDataFrame(
            [(None, 10), (1, 10)], "k int, ts int"
        )
        right = spark.createDataFrame(
            [(None, 5, 99.0), (1, 5, 7.0)], "k int, ts int, value double"
        )
        out = {r.k: r.value_right for r in asof_join(left, right, "k").collect()}
        assert out[1] == 7.0
        assert out[None] is None  # NULL never matches NULL
        bad_left = left.withColumn("value_right", left.ts * 1.0)
        with _pytest.raises(ValueError, match="suffix"):
            asof_join(bad_left, right, "k")

    def test_fd_detection_respects_nulls(self, spark):
        from deepdb_public_spark.operators.prep import functional_dependencies

        df = spark.createDataFrame(
            [(1, "k1", "x"), (2, "k1", None), (3, "k2", "y"), (4, "k2", "y")],
            "id long, a string, b string",
        )
        fds = functional_dependencies(df, ["a", "b"])
        assert ("a", "b") not in fds  # k1 has {x, NULL}: not an FD

    def test_stateful_ema_multi_chunk_order(self, spark, tmp_path):
        """EMA must be computed over globally time-sorted rows even
        when the group spans several Arrow chunks (forced via a tiny
        maxRecordsPerBatch)."""
        from deepdb_public_spark.streaming.stateful import run_stateful_stream

        prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
        try:
            import datetime
            import random as _random

            n = 300
            base = datetime.datetime(2024, 1, 1)
            rows = [
                (1, base + datetime.timedelta(seconds=i), float(i)) for i in range(n)
            ]
            _random.Random(5).shuffle(rows)  # arrival order != time order
            df = spark.createDataFrame(
                rows, "user_id long, ts timestamp, value double"
            )
            src = str(tmp_path / "ev")
            df.coalesce(1).write.parquet(src)  # ONE file => one batch
            stream = spark.readStream.schema(df.schema).parquet(src)
            got = run_stateful_stream(stream, "ema_chunk_test").collect()[0]
            ema = None
            for i in range(n):
                v = float(i)
                ema = v if ema is None else 0.1 * v + 0.9 * ema
            assert abs(got.ema_value - ema) < 1e-9
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
