"""Read-path memo tables: the parse memo in ``Engine.parse`` and the
factor cache (``SPNModel._eval_cache``) serving variance passes, group
grids and their axis domains too.

Contracts pinned here:
- a repeated parse returns the same IR object and counts a hit; the
  memo stays within ``PARSE_MEMO_MAX``; malformed text is never stored;
- a repeated CI, grouped aqp, grouped CI, distinct count or quantile
  walks the tree once; after an incremental update each answer equals
  a cold-cache answer;
- the factor cache holds at most ``EVAL_CACHE_MAX`` cells, a grid
  larger than that is returned unstored, and cached grids are
  read-only;
- pickled models carry no transient cache;
- the read path never mutates the (shared) IR;
- a doubled quote in a string literal is one quote on both planes.
"""

from __future__ import annotations

import json
import pickle

import numpy as np
import pytest

from deepdb_public_spark import engine as engine_module
from deepdb_public_spark.engine import Engine
from deepdb_public_spark.plans.compiler import ExactCompiler
from deepdb_public_spark.plans.parser import parse_query
from deepdb_public_spark.plans.query import (
    AggOperation,
    AggregationOperationType,
    AggregationType,
    Condition,
    Query,
    QueryType,
)
from deepdb_public_spark.plans.schema import schema_from_json
from deepdb_public_spark.spn import incremental
from deepdb_public_spark.spn import model as model_module
from deepdb_public_spark.spn import nodes as nodes_module
from deepdb_public_spark.spn.ensemble import SPNEnsemble
from deepdb_public_spark.spn.model import EVAL_CACHE_MAX
from deepdb_public_spark.spn.ranges import NominalRange
from deepdb_public_spark.spn.trainer import train_spn_model
from tests.conftest import SF_SMOKE
from tests.test_batch_eval import _model
from tests.test_parser_golden import GOLDEN, canonical_ir

READS = [
    "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_quantity < 25",
    "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_returnflag IN ('A', 'N') AND lineitem.l_tax <= 0.04",
    "SELECT SUM(lineitem.l_extendedprice) FROM lineitem WHERE lineitem.l_discount BETWEEN 0.02 AND 0.06",
    "SELECT AVG(lineitem.l_quantity) FROM lineitem WHERE lineitem.l_shipdate >= DATE '1995-01-01'",
    "SELECT lineitem.l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY lineitem.l_returnflag",
]
CI_READ = (
    "SELECT COUNT(*) AS n, SUM(lineitem.l_quantity) AS s, AVG(lineitem.l_tax) AS a "
    "FROM lineitem WHERE lineitem.l_quantity < 30"
)
GROUPED_READ = (
    "SELECT lineitem.l_returnflag, COUNT(*) AS n, AVG(lineitem.l_quantity) AS a "
    "FROM lineitem WHERE lineitem.l_quantity < 30 GROUP BY lineitem.l_returnflag"
)


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def ensemble(engine):
    ens = SPNEnsemble(engine.schema)
    for ts in ({"lineitem"}, {"orders", "lineitem"}, {"customer", "orders"}):
        ens.add_model(train_spn_model(engine.catalog, engine.schema, ts, 20_000))
    engine.ensemble = ens
    return ens


# ---------- parse memo ----------


def test_repeated_parse_returns_same_ir_and_counts_a_hit(engine):
    sql = "SELECT COUNT(*) FROM orders WHERE orders.o_totalprice > 12345.5"
    first = engine.parse(sql)
    hits, misses = engine.parse_hits, engine.parse_misses
    assert engine.parse(sql) is first
    assert (engine.parse_hits, engine.parse_misses) == (hits + 1, misses)


def test_parse_memo_bound_holds(engine):
    bound = engine_module.PARSE_MEMO_MAX
    misses = engine.parse_misses
    for k in range(bound + 1):
        engine.parse(f"SELECT COUNT(*) FROM lineitem WHERE lineitem.l_partkey = {10_000_000 + k}")
    assert engine.parse_misses == misses + bound + 1
    assert 0 < len(engine._parse_memo) <= bound
    last = f"SELECT COUNT(*) FROM lineitem WHERE lineitem.l_partkey = {10_000_000 + bound}"
    assert engine.parse(last) is engine.parse(last)


def test_malformed_text_is_never_stored_and_raises_every_time(engine):
    bad = "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_quantity < 5 5"
    misses = engine.parse_misses
    for _ in range(3):
        with pytest.raises(ValueError):
            engine.parse(bad)
    assert bad not in engine._parse_memo
    assert engine.parse_misses == misses


# ---------- factor cache: variance passes and grids ----------


def _count_walks(monkeypatch) -> dict[str, int]:
    """Calls per walk, counted at the names the model looks up (the
    names perfbench's tracer patches)."""
    calls: dict[str, int] = {}
    for mod, name in (
        (model_module, "evaluate_groupby"),
        (model_module, "distinct_values"),
        (nodes_module, "evaluate_with_variance"),
    ):
        calls[name] = 0
        real = getattr(mod, name)

        def counting(*args, _real=real, _name=name, **kwargs):
            calls[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(mod, name, counting)
    return calls


def _cells(entry) -> int:
    """Floats one cache entry holds, counted independently of the
    cache's own bookkeeping."""
    if isinstance(entry, np.ndarray):  # an axis domain
        return entry.size
    if isinstance(entry, tuple) and isinstance(entry[1], np.ndarray):  # a grid
        return entry[1].size + sum(len(a) for a in entry[0].values())
    return 2 if isinstance(entry, tuple) else 1


def test_repeated_ci_walks_the_tree_once(monkeypatch):
    rng = np.random.default_rng(11)
    x = rng.integers(0, 40, 3000).astype(float)
    y = x * 2 + rng.integers(0, 3, 3000)
    m = _model(np.stack([x, y], axis=1), ["x", "y"], mis=200)
    q = Query(query_type=QueryType.AQP, table_set={"t"})
    q.add_where_condition(Condition("t", "x", "<", 25))
    for agg, ops in ((AggregationType.COUNT, []), (AggregationType.SUM, [("t", "y")]),
                     (AggregationType.AVG, [("t", "y")])):
        q.aggregations.append(AggOperation(AggregationOperationType.AGGREGATION, agg, ops))
    calls = _count_walks(monkeypatch)
    first = m.confidence_interval(q)
    # COUNT, SUM (AVG's numerator is the same factor) and AVG's
    # not-null denominator
    assert calls["evaluate_with_variance"] == 3
    hits = m.cache_hits
    assert m.confidence_interval(q) == first
    assert calls["evaluate_with_variance"] == 3
    assert m.cache_hits == hits + 4  # every factor lookup of the CI hits


def test_eval_cache_bound_holds():
    rng = np.random.default_rng(12)
    m = _model(rng.integers(0, 50, (2000, 1)).astype(float), ["x"], mis=500)
    for k in range(EVAL_CACHE_MAX + 1):
        q = Query(table_set={"t"})
        q.add_where_condition(Condition("t", "x", "<", k / 7))
        m.cardinality(q)
    assert 0 < len(m._eval_cache) <= EVAL_CACHE_MAX
    assert m.cache_misses == EVAL_CACHE_MAX + 1


def _grouped_model():
    rng = np.random.default_rng(13)
    g = rng.integers(0, 6, 3000).astype(float)
    x = rng.integers(0, 40, 3000).astype(float)
    y = g * 5 + rng.integers(0, 3, 3000)
    return _model(np.stack([g, x, y], axis=1), ["g", "x", "y"], mis=200)


def _grouped_query(*aggs) -> Query:
    q = Query(query_type=QueryType.AQP, table_set={"t"})
    q.add_where_condition(Condition("t", "x", "<", 25))
    q.add_group_by("t", "g")
    for agg, ops in aggs:
        q.aggregations.append(AggOperation(AggregationOperationType.AGGREGATION, agg, ops))
    return q


_COUNT = (AggregationType.COUNT, [])
_SUM_Y = (AggregationType.SUM, [("t", "y")])
_AVG_Y = (AggregationType.AVG, [("t", "y")])


@pytest.mark.parametrize(
    "read, grids",
    [
        # COUNT, SUM (AVG's numerator is the same grid) and AVG's
        # not-null denominator
        (lambda m: m.aqp(_grouped_query(_COUNT, _SUM_Y, _AVG_Y)), 3),
        # the count grid enumerates the groups; each group's CI is
        # made of point variance passes
        (lambda m: m.confidence_interval(_grouped_query(_COUNT, _SUM_Y)), 1),
        (lambda m: m.distinct_count(["x"], _grouped_query()), 1),
        (lambda m: m.quantile("y", [0.1, 0.5, 0.9], _grouped_query()), 1),
    ],
    ids=["grouped-aqp", "grouped-ci", "distinct-count", "quantile"],
)
def test_repeated_grid_read_walks_the_tree_once(monkeypatch, read, grids):
    m = _grouped_model()
    calls = _count_walks(monkeypatch)
    first = read(m)
    assert calls["evaluate_groupby"] == grids
    assert calls["distinct_values"] == 1  # one axis column
    walked = dict(calls)
    assert read(m) == first
    assert calls == walked


def test_grid_larger_than_the_bound_is_returned_uncached(monkeypatch):
    n = EVAL_CACHE_MAX + 500
    m = _model(np.arange(n, dtype=float).reshape(-1, 1), ["x"], mis=n + 1)
    q = Query(table_set={"t"})
    q.add_where_condition(Condition("t", "x", "<", 10))
    m.cardinality(q)
    stored = dict(m._eval_cache)
    calls = _count_walks(monkeypatch)
    # one row per value: every value's expected rows is 1
    assert m.distinct_count(["x"]) == m.distinct_count(["x"]) == n
    # neither the n-cell grid nor its n-value domain was stored, and
    # storing nothing emptied nothing
    assert calls["evaluate_groupby"] == calls["distinct_values"] == 2
    assert m._eval_cache == stored
    assert m._eval_cells == 1


def test_stored_cells_never_exceed_the_bound():
    rng = np.random.default_rng(14)
    data = np.stack(
        [rng.integers(0, 60, 4000), rng.integers(0, 100, 4000)], axis=1
    ).astype(float)
    m = _model(data, ["g", "x"], mis=400)
    cleared = False
    for k in range(400):
        q = Query(table_set={"t"})
        q.add_where_condition(Condition("t", "x", "<", k / 4))
        before = m._eval_cells
        m.distinct_count(["g"], q)
        cleared |= m._eval_cells < before
        assert 0 < m._eval_cells <= EVAL_CACHE_MAX
        assert m._eval_cells == sum(_cells(v) for v in m._eval_cache.values())
    assert cleared  # the walk went past the bound and refilled


def test_cached_grids_are_read_only():
    m = _grouped_model()
    axes, grid = m._eval({}, None, axes=[0])
    assert m._eval({}, None, axes=[0])[1] is grid
    assert not grid.flags.writeable and not axes[0].flags.writeable
    with pytest.raises(ValueError):
        grid[0] = 1.0
    with pytest.raises(TypeError):
        axes[1] = np.zeros(1)
    dom, masses = m._value_masses("y")
    assert not dom.flags.writeable and not masses.flags.writeable


def test_ci_after_deltas_equals_cold_cache_ci(engine):
    from pyspark.sql import functions as F

    m = train_spn_model(engine.catalog, engine.schema, {"lineitem"}, 20_000)
    q = engine.parse(CI_READ)
    delta = engine.catalog["lineitem"].filter(F.col("l_orderkey") % 7 == 3)

    def cold_ci():
        return pickle.loads(pickle.dumps(m)).confidence_interval(q)

    before = m.confidence_interval(q)
    assert m.confidence_interval(q) == before  # warm
    incremental.remove_delta(m, delta)
    removed = m.confidence_interval(q)
    assert removed == cold_ci()
    assert removed != before
    incremental.absorb_delta(m, delta)
    m.confidence_interval(q)
    assert m.confidence_interval(q) == cold_ci()


def test_grouped_answers_after_deltas_equal_cold_cache_answers(engine):
    from pyspark.sql import functions as F

    m = train_spn_model(engine.catalog, engine.schema, {"lineitem"}, 20_000)
    q = engine.parse(GROUPED_READ)
    delta = engine.catalog["lineitem"].filter(F.col("l_orderkey") % 7 == 3)

    def answers(model):
        return (
            model.aqp(q),
            model.confidence_interval(q),
            model.distinct_count(["l_linestatus"], q),
            model.quantile("l_extendedprice", [0.1, 0.5, 0.9], q),
        )

    def cold():
        return answers(pickle.loads(pickle.dumps(m)))

    before = answers(m)
    assert answers(m) == before  # warm
    incremental.remove_delta(m, delta)
    removed = answers(m)
    assert removed == cold()
    assert removed != before
    incremental.absorb_delta(m, delta)
    answers(m)
    assert answers(m) == cold()


# ---------- pickled models carry no transient caches ----------


def test_pickled_size_does_not_grow_with_reads_and_reload_answers_identically(
    engine, ensemble, tmp_path
):
    size = ensemble.stats()["total_bytes"]
    answers = [engine.estimate(sql, exact_fallback=False) for sql in READS]
    ci = ensemble.confidence_interval(engine.parse(CI_READ))
    assert sum(len(m._eval_cache) for m in ensemble.models) > 0
    assert ensemble.stats()["total_bytes"] == size
    path = str(tmp_path / "ens.pkl")
    ensemble.save(path)
    loaded = SPNEnsemble.load(path, engine.schema)
    assert all(len(m._eval_cache) == 0 for m in loaded.models)
    assert [loaded.answer(engine.parse(sql)) for sql in READS] == answers
    assert loaded.confidence_interval(engine.parse(CI_READ)) == ci


# ---------- the read path never mutates its IR ----------


def test_read_path_leaves_the_memoized_ir_unchanged(engine, ensemble):
    with open(GOLDEN) as f:
        golden = json.load(f)
    covered = 0
    for e in golden:
        ir = engine.parse(e["sql"])
        try:
            engine.estimate(e["sql"], exact_fallback=False)
        except Exception:  # outside this ensemble: the IR must still be intact
            continue
        covered += 1
        try:
            ensemble.confidence_interval(ir)
        except Exception:  # a shape without CIs (distinct, composite)
            pass
        engine.query(e["sql"])  # compile only: no Spark job
        assert engine.parse(e["sql"]) is ir
    assert covered >= 300  # of 678
    changed = [e["sql"] for e in golden if canonical_ir(engine.parse(e["sql"])) != e["ir"]]
    assert not changed, f"{len(changed)} IRs mutated, first: {changed[0]}"


# ---------- doubled quotes ----------


def test_doubled_quote_is_one_quote_on_both_planes(spark):
    schema = schema_from_json({"tables": [{"name": "t", "primary_key": ["id"]}]})
    vals = ["it's", "plain", "x"]
    df = spark.createDataFrame(
        [(i, vals[i % 3], float(i % 5)) for i in range(60)], "id long, c string, v double"
    )
    catalog = {"t": df}
    ir = parse_query("SELECT t.c, COUNT(*) AS n FROM t WHERE t.c = 'it''s' GROUP BY t.c", schema)
    assert ir.conditions[0].value == "it's"
    rows = [r.asDict() for r in ExactCompiler(schema, catalog).compile(ir).collect()]
    assert rows == [{"c": "it's", "n": 20}]

    m = train_spn_model(catalog, schema, {"t"}, 1_000)
    count = parse_query("SELECT COUNT(*) FROM t WHERE t.c = 'it''s'", schema)
    code = m.meta.columns["c"].value_to_code["it's"]
    (rng,) = m.conditions_to_ranges(count).values()
    assert isinstance(rng, NominalRange) and list(rng.values) == [code]
    assert m.cardinality(count) == pytest.approx(20, rel=0.05)
