"""NOT IN / NOT BETWEEN / LIKE / NOT LIKE — grammar extensions beyond
the reference's conjunctive =/range/IN fragment (SURVEY.md §2 table E:
"Subqueries, OR, NOT, disjunctive predicates — absent").

The model-plane trick: a LIKE over an encoded categorical column is a
code-set membership computed by matching the pattern against the
complete driver-side dictionary — EXACT, no approximation beyond the
histogram itself.
"""

from __future__ import annotations

import pytest

from deepdb_public_spark.engine import Engine
from deepdb_public_spark.plans.parser import parse_query
from deepdb_public_spark.plans.schema import tpch_like_schema
from deepdb_public_spark.spn.model import _like_to_regex
from tests.conftest import SF_SMOKE


def test_like_to_regex():
    rx = _like_to_regex("1-%")
    assert rx.fullmatch("1-URGENT") and not rx.fullmatch("21-URGENT")
    rx = _like_to_regex("B_ILDING")
    assert rx.fullmatch("BUILDING") and not rx.fullmatch("BILDING")
    rx = _like_to_regex("50%")  # literal escape of regex chars
    assert rx.fullmatch("50x") and not rx.fullmatch("x50")
    rx = _like_to_regex("a.b")
    assert rx.fullmatch("a.b") and not rx.fullmatch("axb")


def test_parser_not_variants():
    sch = tpch_like_schema()
    ops = {}
    for sql, op in [
        ("SELECT COUNT(*) FROM lineitem WHERE lineitem.l_returnflag NOT IN ('A')", "NOT_IN"),
        ("SELECT COUNT(*) FROM lineitem WHERE lineitem.l_quantity NOT BETWEEN 5 AND 45", "NOT_BETWEEN"),
        ("SELECT COUNT(*) FROM orders WHERE orders.o_orderpriority LIKE '1-%'", "LIKE"),
        ("SELECT COUNT(*) FROM orders WHERE orders.o_orderpriority NOT LIKE '1-%'", "NOT_LIKE"),
    ]:
        (cond,) = parse_query(sql, sch).conditions
        ops[op] = cond.op
    assert all(k == v for k, v in ops.items())
    with pytest.raises(ValueError, match="NOT is only supported"):
        parse_query(
            "SELECT COUNT(*) FROM lineitem WHERE NOT lineitem.l_quantity = 5",
            sch,
        )


EXACT_CASES = [
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_returnflag NOT IN ('A', 'R')",
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_quantity NOT BETWEEN 5 AND 45",
    "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_orderpriority LIKE '%URGENT%'",
    "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_orderpriority NOT LIKE '1-%'",
    "SELECT COUNT(*) AS cnt FROM orders, lineitem "
    "WHERE orders.o_orderkey = lineitem.l_orderkey "
    "AND orders.o_orderpriority LIKE '_-_IGH' AND lineitem.l_quantity NOT BETWEEN 2 AND 48",
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE "
    "(lineitem.l_returnflag LIKE 'A%' OR lineitem.l_quantity NOT BETWEEN 2 AND 48)",
]


@pytest.mark.parametrize("sql", EXACT_CASES)
def test_exact_plane_matches_duckdb(spark, duck, sql):
    eng = Engine(spark, SF_SMOKE)
    got = eng.query(sql).collect()[0][0]
    want = duck[SF_SMOKE].execute(sql).fetchone()[0]
    assert got == want, sql


@pytest.fixture(scope="module")
def engines(spark):
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    eng.ensemble = SPNEnsemble(eng.schema)
    eng.ensemble.add_model(
        train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 60_000)
    )
    eng.ensemble.add_model(
        train_spn_model(eng.catalog, eng.schema, {"orders"}, 60_000)
    )
    return eng


MODEL_CASES = [
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_returnflag NOT IN ('A', 'R')",
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_quantity NOT BETWEEN 5 AND 45",
    "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_orderpriority LIKE '%URGENT%'",
    "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_orderpriority NOT LIKE '1-%'",
    "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_orderstatus NOT IN ('F')",
]


def test_model_plane_within_budget(engines):
    eng = engines
    for sql in MODEL_CASES:
        q = eng.parse(sql)
        est = float(eng.ensemble.cardinality(q))
        true = int(eng.query(q).collect()[0][0])
        qerr = max(est / max(true, 1), true / max(est, 1e-9))
        assert qerr < 1.5, (sql, est, true)


def test_model_plane_like_is_dictionary_exact(engines):
    """With sample fraction 1 at this scale, LIKE code-set translation
    makes the estimate match the exact count almost exactly."""
    eng = engines
    q = eng.parse(
        "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_orderpriority LIKE '_-HIGH'"
    )
    est = float(eng.ensemble.cardinality(q))
    true = int(eng.query(q).collect()[0][0])
    assert est == pytest.approx(true, rel=0.02)


def test_model_plane_like_numeric_rejected(engines):
    eng = engines
    from deepdb_public_spark.plans.query import Condition, Query

    q = Query(table_set={"lineitem"})
    q.add_where_condition(Condition("lineitem", "l_quantity", "LIKE", "4%"))
    with pytest.raises(ValueError, match="non-categorical"):
        eng.ensemble.cardinality(q)


def test_model_distinct_count(engines):
    """B9 exposed: COUNT(DISTINCT) from the model, optionally under
    conditions and cross-column OR groups (set-algebra inclusion-
    exclusion is exact for distinct sets)."""
    from deepdb_public_spark.plans.query import Query

    eng = engines
    base = eng.catalog["lineitem"]

    q = Query(table_set={"lineitem"})
    est = eng.ensemble.distinct_count(q, ["l_returnflag"])
    assert est == base.select("l_returnflag").distinct().count()

    est2 = eng.ensemble.distinct_count(q, ["l_returnflag", "l_linestatus"])
    true2 = base.select("l_returnflag", "l_linestatus").distinct().count()
    assert est2 == pytest.approx(true2, abs=1)

    qc = eng.parse(
        "SELECT COUNT(*) AS c FROM lineitem WHERE lineitem.l_quantity < 25"
    )
    est3 = eng.ensemble.distinct_count(qc, ["l_quantity"])
    true3 = base.filter("l_quantity < 25").select("l_quantity").distinct().count()
    assert est3 == pytest.approx(true3, rel=0.1)

    q_or = eng.parse(
        "SELECT COUNT(*) AS c FROM lineitem WHERE "
        "(lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08)"
    )
    est4 = eng.ensemble.distinct_count(q_or, ["l_quantity"])
    true4 = (
        base.filter("l_quantity < 10 OR l_discount > 0.08")
        .select("l_quantity").distinct().count()
    )
    assert est4 == pytest.approx(true4, rel=0.1)


def test_count_distinct_parses_and_compiles(spark, duck):
    """COUNT(DISTINCT t.c) through parser + IR + exact compiler."""
    sch = tpch_like_schema()
    q = parse_query(
        "SELECT COUNT(DISTINCT lineitem.l_returnflag) AS d FROM lineitem "
        "WHERE lineitem.l_quantity < 25",
        sch,
    )
    (agg,) = q.aggregations
    assert agg.distinct and agg.agg_type.name == "COUNT"
    eng = Engine(spark, SF_SMOKE)
    sql = (
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS d FROM lineitem "
        "WHERE lineitem.l_discount <= 0.05"
    )
    got = eng.query(sql).collect()[0][0]
    want = duck[SF_SMOKE].execute(sql).fetchone()[0]
    assert got == want
    with pytest.raises(ValueError, match="one column"):
        parse_query(
            "SELECT COUNT(DISTINCT lineitem.l_quantity * lineitem.l_tax) "
            "FROM lineitem", sch,
        )
    with pytest.raises(ValueError, match="only supported inside COUNT"):
        parse_query(
            "SELECT SUM(DISTINCT lineitem.l_quantity) FROM lineitem", sch
        )


def test_count_distinct_model_plane(engines):
    eng = engines
    for sql in [
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS d FROM lineitem "
        "WHERE lineitem.l_discount <= 0.05",
        "SELECT COUNT(DISTINCT lineitem.l_returnflag) AS d FROM lineitem",
    ]:
        q = eng.parse(sql)
        (row,) = eng.ensemble.aqp(q)
        true = eng.query(q).collect()[0][0]
        qerr = max(row["d"] / max(true, 1), true / max(row["d"], 1e-9))
        assert qerr < 1.2, (sql, row, true)


def test_count_distinct_grouped_model_plane(engines):
    eng = engines
    sql = (
        "SELECT lineitem.l_returnflag, "
        "COUNT(DISTINCT lineitem.l_quantity) AS d, COUNT(*) AS cnt "
        "FROM lineitem WHERE lineitem.l_discount <= 0.05 "
        "GROUP BY lineitem.l_returnflag"
    )
    q = eng.parse(sql)
    est = {r["l_returnflag"]: r for r in eng.ensemble.aqp(q)}
    exact = {r["l_returnflag"]: r.asDict() for r in eng.query(q).collect()}
    assert set(est) == set(exact)
    for g, truth in exact.items():
        assert est[g]["d"] == pytest.approx(truth["d"], rel=0.15), g
        assert est[g]["cnt"] == pytest.approx(truth["cnt"], rel=0.25), g


def test_count_distinct_ci_supported(engines):
    """Round 8 (was a refusal): the ensemble routes COUNT(DISTINCT)
    CIs through the occupancy moments; the interval covers the exact
    distinct count and the point estimate matches aqp. The per-model
    CI keeps its refusal (no distinct variance at the tree level)."""
    from deepdb_public_spark.spn.model import ModelPlaneUnsupported

    eng = engines
    q = eng.parse(
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS d FROM lineitem"
    )
    (ci,) = eng.ensemble.confidence_interval(q, confidence=0.99)
    (aqp_row,) = eng.ensemble.aqp(q)
    true = eng.sql(
        "SELECT COUNT(DISTINCT l_quantity) FROM lineitem"
    ).collect()[0][0]
    assert ci["est"] == aqp_row["d"]
    assert ci["lo"] <= true <= ci["hi"] + 1e-9, (ci, true)
    with pytest.raises(ModelPlaneUnsupported):
        eng.ensemble.models[0].confidence_interval(q)


# ------------------------------------------------------------- HAVING


def test_having_parses_and_matches_duckdb(spark, duck):
    sch = tpch_like_schema()
    sql = (
        "SELECT lineitem.l_returnflag, COUNT(*) AS cnt, "
        "SUM(lineitem.l_quantity) AS sq FROM lineitem "
        "WHERE lineitem.l_discount <= 0.05 "
        "GROUP BY lineitem.l_returnflag HAVING cnt > 500 AND sq <= 50000"
    )
    q = parse_query(sql, sch)
    assert q.having == [("cnt", ">", 500), ("sq", "<=", 50000)]
    eng = Engine(spark, SF_SMOKE)
    got = sorted(tuple(r) for r in eng.query(q).collect())
    want = sorted(duck[SF_SMOKE].execute(sql).fetchall())
    assert got == want


def test_having_requires_group_by_and_known_alias():
    sch = tpch_like_schema()
    with pytest.raises(ValueError, match="requires GROUP BY"):
        parse_query(
            "SELECT COUNT(*) AS cnt FROM lineitem HAVING cnt > 5", sch
        )
    with pytest.raises(ValueError, match="not an .*alias"):
        parse_query(
            "SELECT lineitem.l_returnflag, COUNT(*) AS cnt FROM lineitem "
            "GROUP BY lineitem.l_returnflag HAVING nope > 5",
            sch,
        )


def test_having_model_plane_filters_groups(engines):
    eng = engines
    sql = (
        "SELECT lineitem.l_returnflag, COUNT(*) AS cnt FROM lineitem "
        "GROUP BY lineitem.l_returnflag HAVING cnt > 1500"
    )
    q = eng.parse(sql)
    est = {r["l_returnflag"] for r in eng.ensemble.aqp(q)}
    exact = {r["l_returnflag"] for r in eng.query(q).collect()}
    # thresholds far from any group's count: membership must agree
    assert est == exact

    # round 8 (was a refusal): CIs under HAVING — membership decided
    # on the point estimates, so visible groups match aqp(); every
    # surviving group's interval covers its exact count
    cis = {r["l_returnflag"]: r for r in eng.ensemble.confidence_interval(q)}
    assert set(cis) == est
    trues = {
        r["l_returnflag"]: r["cnt"] for r in eng.query(q).collect()
    }
    for g, ci in cis.items():
        assert ci["lo"] <= trues[g] <= ci["hi"], (g, ci, trues[g])
    # an impossible threshold empties the CI rows instead of raising
    q_none = eng.parse(sql.replace("cnt > 1500", "cnt > 999999999"))
    assert eng.ensemble.confidence_interval(q_none) == []


# ----------------------------- join-scope corrections (review fixes)


@pytest.fixture(scope="module")
def joint_engine(spark):
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    eng.ensemble = SPNEnsemble(eng.schema)
    eng.ensemble.add_model(
        train_spn_model(eng.catalog, eng.schema, {"orders", "lineitem"}, 80_000)
    )
    return eng


def test_join_scope_count_distinct_applies_corrections(joint_engine):
    """COUNT(DISTINCT orders.o_orderpriority) over the JOIN scope from
    a joint model: dangling orders (no lineitem) must not contribute,
    and fanout replication must not distort the expected-row
    threshold — the ungrouped path now applies the same corrections
    as the grouped one."""
    eng = joint_engine
    sql = (
        "SELECT COUNT(DISTINCT orders.o_orderpriority) AS d "
        "FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND lineitem.l_quantity < 5"
    )
    q = eng.parse(sql)
    (row,) = eng.ensemble.aqp(q)
    true = eng.query(q).collect()[0][0]
    qerr = max(row["d"] / max(true, 1), true / max(row["d"], 1e-9))
    assert qerr < 1.5, (row, true)


def test_join_scope_quantile_applies_corrections(joint_engine):
    """Quantile of a parent-side column under a join-scoped query:
    inverse-multiplier de-weighting keeps the percentile in the
    parent measure instead of the fanout-replicated join measure."""
    eng = joint_engine
    q = eng.parse(
        "SELECT COUNT(*) AS c FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND lineitem.l_quantity < 25"
    )
    (med,) = eng.ensemble.quantile(q, "o_totalprice", [0.5])
    true = (
        eng.sql(
            "SELECT percentile(o_totalprice, 0.5) FROM orders o "
            "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            "WHERE l.l_quantity < 25"
        ).collect()[0][0]
    )
    assert med == pytest.approx(true, rel=0.10)


def test_grouped_count_distinct_or_model_plane(engines):
    """Round 6: grouped COUNT(DISTINCT) under cross-column OR is now
    answered ON the model plane (signed per-(group, value) masses,
    SPNEnsemble._signed_masses) instead of raising
    ModelPlaneUnsupported — per-group estimates must track the exact
    plane within a tight q-error budget."""
    eng = engines
    sql = (
        "SELECT lineitem.l_returnflag, "
        "COUNT(DISTINCT lineitem.l_quantity) AS d FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08) "
        "GROUP BY lineitem.l_returnflag"
    )
    est = {
        r["l_returnflag"]: r["d"]
        for r in eng.ensemble.aqp(eng.parse(sql))
    }
    exact = {r["l_returnflag"]: r["d"] for r in
             (x.asDict() for x in eng.query(sql).collect())}
    assert set(est) == set(exact)
    for g, t in exact.items():
        qerr = max(est[g] / max(t, 1e-9), t / max(est[g], 1e-9))
        assert qerr < 1.35, (g, est[g], t)


def test_ungrouped_count_distinct_or_signed_masses(engines):
    eng = engines
    sql = (
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS d FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08)"
    )
    q = eng.parse(sql)
    (row,) = eng.ensemble.aqp(q)
    true = eng.query(q).collect()[0][0]
    qerr = max(row["d"] / max(true, 1), true / max(row["d"], 1e-9))
    assert qerr < 1.2, (row, true)


def test_composite_aggregate_ci_raises(engines):
    """CIs for agg ± agg chains raise ModelPlaneUnsupported instead of
    silently emitting per-step rows that disagree with aqp()."""
    from deepdb_public_spark.spn.model import ModelPlaneUnsupported

    eng = engines
    q = eng.parse(
        "SELECT SUM(lineitem.l_extendedprice) - SUM(lineitem.l_tax) AS d "
        "FROM lineitem WHERE lineitem.l_quantity < 30"
    )
    with pytest.raises(ModelPlaneUnsupported):
        eng.ensemble.confidence_interval(q, confidence=0.95)


@pytest.mark.parametrize(
    "sql",
    [
        # cross-column OR: the inclusion-exclusion CI path
        "SELECT COUNT(*) - SUM(lineitem.l_quantity) AS q FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08)",
        # orders⋈lineitem, which neither model covers: the factor chain
        "SELECT COUNT(*) AS c, SUM(lineitem.l_quantity) + COUNT(*) AS q "
        "FROM orders, lineitem WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND orders.o_orderstatus = 'F' GROUP BY lineitem.l_returnflag",
    ],
)
def test_composite_aggregate_ci_raises_on_the_composed_paths(engines, sql):
    """The inclusion-exclusion and factor-chain CI paths refuse agg ±
    agg too: they used to report the chain's first aggregate's interval
    under the chain's name."""
    from deepdb_public_spark.spn.model import ModelPlaneUnsupported

    eng = engines
    with pytest.raises(ModelPlaneUnsupported, match="composite"):
        eng.ensemble.confidence_interval(eng.parse(sql), confidence=0.95)
