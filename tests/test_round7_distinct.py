"""Round 7: COUNT(DISTINCT) over table sets NO single model covers.

The last ModelPlaneUnsupported on the factorized surface: per-value
masses now compose across models — the anchor covering the distinct
column's table supplies the per-value (or per-(group, value)) grid,
scaled by the factor chain's NOT-NULL count over the anchor's total
(the per-value form of the independence the factorized COUNT already
assumes; reference: spn_ensemble.py::evaluate_factors +
group_by_combination.py). Every estimate is checked against the exact
plane; genuinely uncovered shapes still raise.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

REL_BUDGET = 0.2  # distinct domains here are well-sampled


@pytest.fixture(scope="module")
def two_model_engine(spark):
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(
        train_spn_model(eng.catalog, eng.schema, {"customer", "orders"}, 50_000)
    )
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))
    eng.ensemble = ens
    return eng


def _rel(est: float, true: float) -> float:
    return abs(est - true) / max(abs(true), 1e-9)


def test_factorized_distinct_ungrouped(two_model_engine):
    eng = two_model_engine
    sql = (
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS v FROM orders, "
        "lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND "
        "orders.o_orderstatus = 'F' AND lineitem.l_discount <= 0.06"
    )
    (est,) = eng.ensemble.aqp(eng.parse(sql))
    (true,) = [r["v"] for r in eng.query(sql).collect()]
    assert _rel(float(est["v"]), float(true)) <= REL_BUDGET


def test_factorized_distinct_under_or(two_model_engine):
    eng = two_model_engine
    sql = (
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS v FROM orders, "
        "lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND "
        "(orders.o_orderstatus = 'F' OR lineitem.l_quantity < 10)"
    )
    (est,) = eng.ensemble.aqp(eng.parse(sql))
    (true,) = [r["v"] for r in eng.query(sql).collect()]
    assert _rel(float(est["v"]), float(true)) <= REL_BUDGET


def test_factorized_distinct_grouped_anchor(two_model_engine):
    """Group-by and distinct column co-modeled (lineitem anchor), the
    selective condition in the OTHER model: grouped_distinct scales
    the anchor grid by the chain."""
    eng = two_model_engine
    sql = (
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS v FROM orders, "
        "lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND "
        "orders.o_orderstatus = 'F' GROUP BY lineitem.l_returnflag"
    )
    est = {r["l_returnflag"]: float(r["v"]) for r in eng.ensemble.aqp(eng.parse(sql))}
    for r in eng.query(sql).collect():
        true = float(r["v"])
        got = est.get(r["l_returnflag"])
        assert got is not None, r
        assert _rel(got, true) <= REL_BUDGET, (r, got)


def test_factorized_distinct_grouped_split(two_model_engine):
    """Group-by column (lineitem model) and distinct column (orders
    model) in DIFFERENT models: the split path pins each group key on
    the factorized chain and thresholds the pinned per-value masses."""
    eng = two_model_engine
    sql = (
        "SELECT COUNT(DISTINCT orders.o_orderpriority) AS v FROM orders, "
        "lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND "
        "lineitem.l_discount <= 0.06 GROUP BY lineitem.l_returnflag"
    )
    est = {r["l_returnflag"]: float(r["v"]) for r in eng.ensemble.aqp(eng.parse(sql))}
    for r in eng.query(sql).collect():
        true = float(r["v"])
        got = est.get(r["l_returnflag"])
        assert got is not None, r
        assert _rel(got, true) <= REL_BUDGET, (r, got)


def test_factorized_distinct_grouped_under_or(two_model_engine):
    eng = two_model_engine
    sql = (
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS v FROM orders, "
        "lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND "
        "(orders.o_orderstatus = 'F' OR lineitem.l_quantity < 10) "
        "GROUP BY lineitem.l_returnflag"
    )
    est = {r["l_returnflag"]: float(r["v"]) for r in eng.ensemble.aqp(eng.parse(sql))}
    for r in eng.query(sql).collect():
        true = float(r["v"])
        got = est.get(r["l_returnflag"])
        assert got is not None, r
        assert _rel(got, true) <= REL_BUDGET, (r, got)


def test_public_distinct_count_multi_model(two_model_engine):
    """SPNEnsemble.distinct_count over a multi-model scope: single- and
    multi-column, against DuckDB truth on the same parquet."""
    import duckdb

    eng = two_model_engine
    q = eng.parse(
        "SELECT COUNT(*) AS v FROM orders, lineitem WHERE "
        "orders.o_orderkey = lineitem.l_orderkey AND "
        "orders.o_orderstatus = 'F'"
    )
    single = eng.ensemble.distinct_count(q, ["l_quantity"])
    multi = eng.ensemble.distinct_count(q, ["l_returnflag", "l_linestatus"])
    con = duckdb.connect()
    base = (
        f"FROM read_parquet('{SF_SMOKE}/lineitem.parquet') l JOIN "
        f"read_parquet('{SF_SMOKE}/orders.parquet') o "
        "ON o_orderkey = l_orderkey WHERE o_orderstatus = 'F'"
    )
    t1 = con.sql(f"SELECT COUNT(DISTINCT l_quantity) {base}").fetchone()[0]
    t2 = con.sql(
        "SELECT COUNT(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus "
        + base
        + ")"
    ).fetchone()[0]
    assert _rel(single, float(t1)) <= REL_BUDGET, (single, t1)
    assert _rel(multi, float(t2)) <= REL_BUDGET, (multi, t2)


def test_grouped_distinct_or_uncovered_now_estimates(two_model_engine):
    """Grouped distinct under OR where NO model covers the group-by
    table and the distinct column's table in one connected piece: was
    a round-7 ModelPlaneUnsupported; round 8 pins each cross-piece
    group key and reads the pinned query's per-value masses
    (_cell_masses fallback). Estimates must track the
    exact plane."""
    eng = two_model_engine
    sql = (
        "SELECT COUNT(DISTINCT orders.o_orderpriority) AS v FROM orders, "
        "lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND "
        "(orders.o_orderstatus = 'F' OR lineitem.l_quantity < 10) "
        "GROUP BY lineitem.l_returnflag"
    )
    est = {r["l_returnflag"]: r["v"] for r in eng.ensemble.aqp(eng.parse(sql))}
    exact = {
        r["l_returnflag"]: float(r["v"]) for r in eng.query(sql).collect()
    }
    assert set(est) == set(exact)
    for g, t in exact.items():
        assert _rel(est[g], t) <= REL_BUDGET, (g, est[g], t)


def test_grouped_factorized_null_group_scaling(spark):
    """Round-7 review fix: the factorized grouped paths scale anchor
    grids (whose group axes exclude NULLs) by a chain count — the
    chain must pin the group columns NOT NULL, else every group
    inflates by the null-group row mass. Planted: 1/3 of the group
    column is NULL."""
    from pyspark.sql import functions as F

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

    a = spark.createDataFrame(
        [
            (i, None if i % 3 == 0 else ("x" if i % 2 else "y"))
            for i in range(120)
        ],
        "a_id int, grp string",
    )
    b = spark.createDataFrame(
        [(j, j % 120, float(j % 7)) for j in range(600)],
        "b_id int, b_aid int, val double",
    )
    g = SchemaGraph()
    g.add_table(Table("ta", ["a_id"]))
    g.add_table(Table("tb", ["b_id"]))
    rel = g.add_relationship("tb", "b_aid", "ta", "a_id")
    catalog = {"ta": a, "tb": b}
    params = LearnParams(min_instances_slice=50)
    ens = SPNEnsemble(g)
    ens.add_model(train_spn_model(catalog, g, {"ta"}, 50_000, params))
    ens.add_model(train_spn_model(catalog, g, {"tb"}, 50_000, params))

    q = Query(
        query_type=QueryType.AQP,
        table_set={"ta", "tb"},
        relationship_set={rel.identifier},
        conditions=[Condition("tb", "val", "<", 5)],
        group_bys=[("ta", "grp")],
        aggregations=[
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.COUNT,
                [],
                alias="cnt",
            )
        ],
    )
    est = {r["grp"]: float(r["cnt"]) for r in ens.aqp(q)}
    exact = {
        r["grp"]: float(r["cnt"])
        for r in (
            a.join(b, a.a_id == b.b_aid)
            .filter("val < 5")
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        if r["grp"] is not None
    }
    assert exact, "planted data must produce non-null groups"
    for gk, true in exact.items():
        got = est.get(gk)
        assert got is not None, (gk, est)
        # without the NOT-NULL chain pins the estimate runs ~1.5x high
        assert abs(got - true) / true <= 0.15, (gk, got, true)


def test_chain_value_masses_sum_invariant(two_model_engine):
    """By construction, the factorized cell masses (_cell_masses) sum
    to the factor chain's count with every axis NOT NULL (the scaling
    target) — per value, per (group, value) and per multi-column cell;
    the single-model branch sums to the covering model's NOT-NULL
    count. Pins the normalization so a future refactor cannot silently
    change the measure the 0.5-row threshold is taken in."""
    from deepdb_public_spark.plans.query import Condition, Query, QueryType

    eng = two_model_engine
    sql = (
        "SELECT COUNT(*) AS v FROM orders, lineitem WHERE "
        "orders.o_orderkey = lineitem.l_orderkey AND "
        "orders.o_orderstatus = 'F' AND lineitem.l_discount <= 0.06"
    )
    q = eng.parse(sql)

    def chain(axes) -> float:
        qc = Query(
            query_type=QueryType.CARDINALITY,
            table_set=set(q.table_set),
            relationship_set=set(q.relationship_set),
            conditions=list(q.conditions)
            + [Condition(t, c, "IS_NOT_NULL") for t, c in axes],
        )
        return float(eng.ensemble.cardinality(qc))

    quantity = ("lineitem", "l_quantity")
    flag = ("lineitem", "l_returnflag")
    status = ("lineitem", "l_linestatus")
    vm = eng.ensemble._cell_masses(q, [quantity])
    assert sum(vm.values()) == pytest.approx(chain([quantity]), rel=1e-6)
    grouped = eng.ensemble._cell_masses(q, [quantity], [flag])
    assert {len(cell) for cell in grouped} == {2}
    assert sum(grouped.values()) == pytest.approx(
        chain([flag, quantity]), rel=1e-6
    )
    multi = eng.ensemble._cell_masses(q, [status, quantity])
    assert {len(cell) for cell in multi} == {2}
    assert sum(multi.values()) == pytest.approx(
        chain([status, quantity]), rel=1e-6
    )
