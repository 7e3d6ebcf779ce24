"""Round-6 fixes, driven by the round-5 advice list:

- z_value computes exact quantiles for uncommon confidence levels
  instead of silently falling back to the 0.95 z.
- CI rows expose the UNCLAMPED sd so the ensemble's OR composition
  never reconstructs an understated sd from a lo>=0-clamped interval.
- lifecycle.release only touches checkpoints THIS package
  created (no session-wide sweep of foreign checkpoints).
- IvfIndex.maintain_saved survives a degenerate hot cell (duplicate
  vectors -> KMeans leaves sub-clusters empty) without duplicating
  rows or leaving a stale partition.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# ----------------------------------------------- exact z quantiles


def test_z_value_exact_for_uncommon_confidence():
    from deepdb_public_spark.spn.model import z_value

    assert z_value(0.95) == pytest.approx(1.96)
    assert z_value(0.9) == pytest.approx(1.645)
    # 0.98 used to silently return the 0.95 z (1.96)
    assert z_value(0.98) == pytest.approx(2.326, abs=2e-3)
    assert z_value(0.5) == pytest.approx(0.6745, abs=2e-3)


def test_ensemble_or_ci_honors_uncommon_confidence(spark):
    """A 0.98-confidence OR interval must be strictly wider than the
    0.9 one (it used to collapse to the 0.95 width for both engines'
    z-lookup fallbacks)."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    from deepdb_public_spark.spn.ensemble import SPNEnsemble

    ens = SPNEnsemble(eng.schema)
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))
    q = eng.parse(
        "SELECT COUNT(*) AS cnt FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08)"
    )
    (lo_conf,) = ens.confidence_interval(q, confidence=0.9)
    (hi_conf,) = ens.confidence_interval(q, confidence=0.98)
    assert (hi_conf["hi"] - hi_conf["lo"]) > (lo_conf["hi"] - lo_conf["lo"])


# ------------------------------------------- unclamped sd in CI rows


def test_ci_rows_carry_unclamped_sd(spark):
    """Every CI row carries "sd", and it equals the UNCLAMPED
    half-width over z — (hi - est)/z, which differs from (hi-lo)/(2z)
    exactly when the COUNT lo>=0 clamp fires."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.model import z_value
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    m = train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000)
    z = z_value(0.95)
    q = eng.parse(
        "SELECT COUNT(*) AS cnt, SUM(lineitem.l_quantity) AS s, "
        "AVG(lineitem.l_quantity) AS a FROM lineitem "
        "WHERE lineitem.l_discount <= 0.06"
    )
    rows = m.confidence_interval(q, confidence=0.95)
    assert len(rows) == 3
    for row in rows:
        assert "sd" in row
        assert row["sd"] == pytest.approx((row["hi"] - row["est"]) / z, rel=1e-9)


# --------------------------- tracked (not session-wide) checkpoint release


def test_release_spares_foreign_local_checkpoints(spark):
    """A localCheckpoint created by USER code must survive
    release() — the round-5 advice scenario: an
    unmaterialized foreign DataFrame whose lineage is truncated would
    become unrecomputable if the package swept it."""
    from deepdb_public_spark.operators.lifecycle import release
    from deepdb_public_spark.operators.partitioning import spread_small_input

    release()  # clean slate
    foreign = spark.range(200).withColumn("x", F.col("id") * 2).localCheckpoint()
    ours = spread_small_input(spark.range(100).coalesce(1))
    ours.count()
    assert release() >= 1
    # the foreign checkpoint is untouched: still marked, still usable
    assert foreign.count() == 200
    jrdd = foreign._jdf.queryExecution().analyzed().rdd()
    assert jrdd.isLocallyCheckpointed()
    jrdd.unpersist(False)  # clean up after ourselves


def test_release_covers_dedup_internal_checkpoints(spark):
    """dup_clusters' label-propagation checkpoints are registered and
    freed by release(), leaving zero locally-checkpointed RDDs
    created by the package behind."""
    from deepdb_public_spark.operators.dedup import duplicate_clusters
    from deepdb_public_spark.operators.lifecycle import release

    release()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 3), (5, 7)],
        "id_a int, id_b int",
    )
    # driver_max_edges=0 forces the distributed label-propagation path,
    # the one that creates localCheckpoints every round
    duplicate_clusters(pairs, driver_max_edges=0).count()
    release()
    # everything the package checkpointed was already freed
    assert release() == 0


# ----------------------- IVF maintenance with degenerate hot cells


def test_ivf_maintain_degenerate_duplicate_vectors(spark, tmp_path):
    """A hot cell made of IDENTICAL vectors: KMeans cannot split it
    (every row lands in one sub-cluster). maintain_saved must keep the
    rows under the OLD cell id — not duplicate them under fresh ids
    while the stale partition survives (round-5 advice)."""
    from deepdb_public_spark.operators.similarity import IvfIndex

    dup = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(60)]
    spread = [
        (100 + j, [0.0, 1.0 + 0.01 * j, float(j % 3), 0.5 * (j % 5)])
        for j in range(20)
    ]
    df = spark.createDataFrame(dup + spread, "id int, v array<double>")
    path = str(tmp_path / "ivf_degenerate")
    idx = IvfIndex.build(df, "v", "id", n_cells=2, seed=3)
    idx.save(path)
    idx.release()

    stats = IvfIndex.maintain_saved(spark, path, max_cell_rows=30, split_k=2, seed=3)
    assert stats["split_cells"], "the duplicate-vector cell is hot"

    maintained = IvfIndex.load(spark, path)
    got = maintained.assigned.groupBy("id").count().collect()
    assert all(r["count"] == 1 for r in got), "rows were duplicated"
    assert len(got) == 80, "rows were lost"
    # centroid table and cell partitions stay consistent
    cells_on_disk = {
        r["cell"] for r in maintained.assigned.select("cell").distinct().collect()
    }
    assert cells_on_disk <= set(range(stats["n_cells"]))
    # the duplicate rows still probe correctly to their (old) cell
    hits = {r["id"] for r in maintained.topk([1.0, 0.0, 0.0, 0.0], k=5, nprobe=1).collect()}
    assert hits <= set(range(60)) and len(hits) == 5


# ----------------- grouped COUNT(DISTINCT) under cross-column OR


@pytest.fixture(scope="module")
def li_or_engine(spark):
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))
    eng.ensemble = ens
    return eng


def test_grouped_count_distinct_under_or(spark, li_or_engine):
    """The model plane now answers grouped COUNT(DISTINCT) under a
    cross-column OR (was ModelPlaneUnsupported): signed per-(group,
    value) masses, threshold on the COMBINED mass. Checked per group
    against the exact plane within a tight q-error budget."""
    eng = li_or_engine
    sql = (
        "SELECT COUNT(DISTINCT lineitem.l_linestatus) AS dc FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08) "
        "GROUP BY lineitem.l_returnflag"
    )
    q = eng.parse(sql)
    est = {r["l_returnflag"]: r["dc"] for r in eng.ensemble.aqp(q)}
    true = {
        r["l_returnflag"]: r["dc"]
        for r in eng.sql(
            "SELECT l_returnflag, COUNT(DISTINCT l_linestatus) AS dc "
            "FROM lineitem WHERE l_quantity < 10 OR l_discount > 0.08 "
            "GROUP BY l_returnflag"
        ).collect()
    }
    assert set(est) == set(true)
    for g, t in true.items():
        e = est[g]
        qerr = max(e / max(t, 1e-9), t / max(e, 1e-9))
        assert qerr <= 1.35, (g, e, t)


def test_grouped_count_distinct_under_or_categorical_col(spark, li_or_engine):
    """Distinct over a CATEGORICAL column (dictionary-coded) grouped
    by another categorical axis — exercises the decoded-value keying."""
    eng = li_or_engine
    q = eng.parse(
        "SELECT COUNT(DISTINCT lineitem.l_returnflag) AS dc FROM lineitem "
        "WHERE (lineitem.l_quantity < 5 OR lineitem.l_discount > 0.09) "
        "GROUP BY lineitem.l_linestatus"
    )
    est = {r["l_linestatus"]: r["dc"] for r in eng.ensemble.aqp(q)}
    true = {
        r["l_linestatus"]: r["dc"]
        for r in eng.sql(
            "SELECT l_linestatus, COUNT(DISTINCT l_returnflag) AS dc "
            "FROM lineitem WHERE l_quantity < 5 OR l_discount > 0.09 "
            "GROUP BY l_linestatus"
        ).collect()
    }
    assert set(est) == set(true)
    for g, t in true.items():
        e = est[g]
        qerr = max(e / max(t, 1e-9), t / max(e, 1e-9))
        assert qerr <= 1.35, (g, e, t)


def test_grouped_count_distinct_under_or_col_is_group_axis(spark, li_or_engine):
    """COUNT(DISTINCT g) GROUP BY g is 1 for every visible group —
    the degenerate case where the distinct column IS a group axis."""
    eng = li_or_engine
    q = eng.parse(
        "SELECT COUNT(DISTINCT lineitem.l_returnflag) AS dc FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08) "
        "GROUP BY lineitem.l_returnflag"
    )
    rows = eng.ensemble.aqp(q)
    assert rows and all(r["dc"] == 1.0 for r in rows)


# ------------------- multi-model OR confidence-interval composition


def test_multi_model_or_ci_composes_factor_variances(spark):
    """A cross-column OR over {orders, lineitem} with models
    {customer, orders} and {lineitem}: no single model covers a term,
    so each term's (est, sd) comes from the factor chain with the
    delta method over its factors (was ModelPlaneUnsupported). The
    0.99 interval must contain the exact count; a higher confidence
    must widen the interval."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(
        train_spn_model(eng.catalog, eng.schema, {"customer", "orders"}, 50_000)
    )
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))

    sql = (
        "SELECT COUNT(*) AS cnt FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND (orders.o_totalprice > 150000 OR lineitem.l_quantity > 30)"
    )
    q = eng.parse(sql)
    (ci99,) = ens.confidence_interval(q, confidence=0.99)
    (ci90,) = ens.confidence_interval(q, confidence=0.9)
    true = float(eng.query(sql).collect()[0][0])
    assert ci99["hi"] - ci99["lo"] > ci90["hi"] - ci90["lo"] > 0
    assert ci99["lo"] <= true <= ci99["hi"], (ci99, true)
    # the point estimate itself stays inside a sane q-error budget
    est = ci99["est"]
    assert max(est / max(true, 1.0), true / max(est, 1e-9)) < 2.0


def test_multi_model_or_ci_sum_and_avg(spark):
    """SUM and AVG CIs under multi-model OR now compose through the
    anchor decomposition (factorized count moments x the anchor's
    local AVG sd): the 0.99 intervals must contain the exact values
    and the point estimates stay inside honest budgets; grouped
    multi-model OR CIs compose via the anchor's grouped B10 rows."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.model import ModelPlaneUnsupported
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(
        train_spn_model(eng.catalog, eng.schema, {"customer", "orders"}, 50_000)
    )
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))
    sql = (
        "SELECT SUM(lineitem.l_quantity) AS s, "
        "AVG(lineitem.l_quantity) AS a FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND (orders.o_totalprice > 150000 OR lineitem.l_quantity > 30)"
    )
    q = eng.parse(sql)
    ci_s, ci_a = ens.confidence_interval(q, confidence=0.99)
    exact = eng.query(sql).collect()[0]
    true_s, true_a = float(exact["s"]), float(exact["a"])
    assert ci_s["lo"] <= true_s <= ci_s["hi"], (ci_s, true_s)
    assert ci_a["lo"] <= true_a <= ci_a["hi"], (ci_a, true_a)
    assert abs(ci_s["est"] - true_s) / true_s < 0.3
    assert abs(ci_a["est"] - true_a) / true_a < 0.15

    # grouped multi-model OR CI (round 6): the anchor's grouped B10
    # rows scale by the factor chain — every visible group's 0.99
    # interval must contain its exact count
    gsql = (
        "SELECT COUNT(*) AS c FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND (orders.o_totalprice > 150000 OR lineitem.l_quantity > 30) "
        "GROUP BY orders.o_orderstatus"
    )
    cis = {
        ci["o_orderstatus"]: ci
        for ci in ens.confidence_interval(eng.parse(gsql), confidence=0.99)
    }
    for r in eng.query(gsql).collect():
        ci = cis.get(r["o_orderstatus"])
        assert ci is not None, (r, sorted(cis))
        assert ci["lo"] <= float(r["c"]) <= ci["hi"], (ci, r)


# --------------------- broadcast-aware join-order DP cost asymmetry


def test_join_dp_keeps_broadcastable_side_late(spark):
    """Row-count-optimal vs cost-optimal orders DIFFER: joining the
    dimension d first gives the smallest intermediates (10 rows), but
    d broadcasts, so its step is nearly free wherever it lands — the
    cost-aware DP instead shuffles s at the SMALL {f,s} prefix (100
    rows) and keeps d last, while a pure row-count DP would shuffle s
    at the full 5000-row prefix. The compiled plan must broadcast d."""
    from deepdb_public_spark.plans.compiler import ExactCompiler
    from deepdb_public_spark.plans.query import Query
    from deepdb_public_spark.plans.schema import SchemaGraph, Table

    f = spark.createDataFrame(
        [(i, i % 50, i % 20) for i in range(1000)], "fid int, dk int, sk int"
    )
    d = spark.createDataFrame([(i, f"d{i}") for i in range(50)], "dk2 int, dv string")
    s = spark.createDataFrame([(i, i * 2) for i in range(20)], "sk2 int, sv int")
    g = SchemaGraph()
    g.add_table(Table("f", ["fid"], table_size=2_000_000))   # fact: no broadcast
    g.add_table(Table("d", ["dk2"], table_size=50))          # dimension: broadcasts
    g.add_table(Table("s", ["sk2"], table_size=2_000_000))   # declared big: no broadcast
    r1 = g.add_relationship("f", "dk", "d", "dk2")
    r2 = g.add_relationship("f", "sk", "s", "sk2")
    comp = ExactCompiler(g, {"f": f, "d": d, "s": s})

    inter = {
        frozenset({"f", "d"}): 10.0,     # tiniest intermediate
        frozenset({"f", "s"}): 100.0,
        frozenset({"f", "d", "s"}): 5000.0,
        frozenset({"f"}): 1000.0,
        frozenset({"d"}): 50.0,
        frozenset({"s"}): 20.0,
    }
    comp.join_cardinality_estimator = lambda ts, q: inter.get(frozenset(ts))
    q = Query(
        table_set={"f", "d", "s"},
        relationship_set={r1.identifier, r2.identifier},
    )

    order: list[str] = []
    orig_scan = comp._scan

    def spy(table, query, joined_tables):
        order.append(table)
        return orig_scan(table, query, joined_tables)

    comp._scan = spy
    try:
        out = comp.compile(q)
        cost_order = list(order)
        order.clear()
        # a pure row-count DP (broadcastability switched off) prefers
        # the d-first order — proving the two cost models disagree
        orig_bc = comp._dp_broadcastable
        comp._dp_broadcastable = lambda t, query: False
        comp.compile(q)
        row_order = list(order)
        comp._dp_broadcastable = orig_bc
    finally:
        comp._scan = orig_scan

    assert cost_order == ["f", "s", "d"], cost_order
    # row-count DP joins d before s (the 10-row {f,d} intermediate);
    # the broadcast-aware order above flips that
    assert row_order.index("d") < row_order.index("s"), row_order
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]




# --------------------- batch cardinality pricing for the join DP


def test_join_dp_batch_pricing_fewer_tree_passes(spark):
    """A 6-table star priced by one covering model: the batch
    estimator prices each DP search round in ONE tree pass
    (cardinality_many), so total passes drop >=2x vs per-subset
    scalar pricing — and the chosen order is IDENTICAL."""
    from deepdb_public_spark.plans.compiler import ExactCompiler
    from deepdb_public_spark.plans.query import Condition, Query
    from deepdb_public_spark.plans.schema import SchemaGraph, Table
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.learn import LearnParams
    from deepdb_public_spark.spn.model import SPNModel
    from deepdb_public_spark.spn.trainer import train_spn_model

    g = SchemaGraph()
    catalog = {}
    rels = []
    fact_cols = "cid int"
    for k in range(1, 6):
        catalog[f"p{k}"] = spark.createDataFrame(
            [(i, i % 7) for i in range(40)], f"pid{k} int, v{k} int"
        )
        g.add_table(Table(f"p{k}", [f"pid{k}"], table_size=40))
        fact_cols += f", fk{k} int"
    g.add_table(Table("c", ["cid"], table_size=1000))
    catalog["c"] = spark.createDataFrame(
        [tuple([i] + [(i * (k + 2)) % 40 for k in range(1, 6)]) for i in range(1000)],
        fact_cols,
    )
    for k in range(1, 6):
        rels.append(g.add_relationship("c", f"fk{k}", f"p{k}", f"pid{k}"))

    ens = SPNEnsemble(g)
    ens.add_model(
        train_spn_model(
            catalog, g, {"c", "p1", "p2", "p3", "p4", "p5"}, 50_000,
            LearnParams(min_instances_slice=300),
        )
    )
    model = ens.models[0]

    comp = ExactCompiler(g, catalog)
    q = Query(
        table_set={"c", "p1", "p2", "p3", "p4", "p5"},
        relationship_set={r.identifier for r in rels},
        conditions=[Condition("p1", "v1", "=", 3)],
    )

    def sub_q(ts, query):
        return Query(
            table_set=set(ts),
            relationship_set={
                r.identifier for r in rels if r.start in ts and r.end in ts
            },
            conditions=[c for c in query.conditions if c.table in ts],
        )

    passes = {"n": 0}
    orig_card, orig_many = SPNModel.cardinality, SPNModel.cardinality_many

    def count_card(self, query):
        passes["n"] += 1
        return orig_card(self, query)

    def count_many(self, queries):
        passes["n"] += 1  # one tree pass regardless of batch size
        return orig_many(self, queries)

    SPNModel.cardinality, SPNModel.cardinality_many = count_card, count_many
    try:
        # scalar-only pricing: one pass per connected subset
        comp.join_cardinality_estimator = (
            lambda ts, query: count_card(model, sub_q(ts, query))
        )
        order_scalar = comp._join_order_dp(q, rels)
        scalar_passes = passes["n"]

        passes["n"] = 0
        comp.join_cardinality_estimator_batch = (
            lambda subsets, query: count_many(
                model, [sub_q(ts, query) for ts in subsets]
            )
        )
        order_batch = comp._join_order_dp(q, rels)
        batch_passes = passes["n"]
    finally:
        SPNModel.cardinality, SPNModel.cardinality_many = orig_card, orig_many

    assert order_batch == order_scalar
    # star with 5 dims: 31 connected >=2-subsets priced scalar vs one
    # batch call per DP round (5 rounds)
    assert scalar_passes >= 2 * batch_passes, (scalar_passes, batch_passes)


# ----------------- multi-column DISTINCT under cross-column OR


def test_multi_column_distinct_under_or(spark, li_or_engine):
    """COUNT(DISTINCT a, b) under a cross-column OR was exact-plane
    only; the signed cross-grid path must now track the exact count
    within a tight budget."""
    eng = li_or_engine
    q = eng.parse(
        "SELECT COUNT(*) AS cnt FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08)"
    )
    est = eng.ensemble.distinct_count(q, ["l_returnflag", "l_linestatus"])
    true = eng.sql(
        "SELECT COUNT(DISTINCT l_returnflag || '|' || l_linestatus) AS d "
        "FROM lineitem WHERE l_quantity < 10 OR l_discount > 0.08"
    ).collect()[0][0]
    qerr = max(est / max(true, 1e-9), true / max(est, 1e-9))
    assert qerr <= 1.35, (est, true)


# ----------------------------- factorized multi-model AQP (SUM/AVG)


def test_factorized_multi_model_aqp(spark):
    """AQP over {orders, lineitem} with models {customer, orders} and
    {lineitem} (no single cover): COUNT rides the factor chain;
    SUM/AVG use the anchor decomposition AVG_local x COUNT_chain.
    Estimates must track the exact plane within honest budgets."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.model import ModelPlaneUnsupported
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(
        train_spn_model(eng.catalog, eng.schema, {"customer", "orders"}, 50_000)
    )
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))

    sql = (
        "SELECT COUNT(*) AS cnt, SUM(lineitem.l_quantity) AS sq, "
        "AVG(lineitem.l_quantity) AS aq FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND orders.o_orderstatus = 'F' AND lineitem.l_discount <= 0.06"
    )
    q = eng.parse(sql)
    (row,) = ens.aqp(q)
    exact = eng.query(sql).collect()[0].asDict()
    for k, budget in (("cnt", 0.25), ("sq", 0.25), ("aq", 0.1)):
        rel = abs(row[k] - float(exact[k])) / max(abs(float(exact[k])), 1e-9)
        assert rel <= budget, (k, row[k], exact[k])

    # grouped multi-model AQP with the group table and operand table
    # in DIFFERENT models rides the split-anchor path (round 6's
    # later addition superseded the old loud fallback): the operand
    # anchor's local AVG is constant over groups by assumption
    gsql = (
        "SELECT AVG(lineitem.l_quantity) AS aq FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "GROUP BY orders.o_orderstatus"
    )
    grows = {r["o_orderstatus"]: r["aq"] for r in ens.aqp(eng.parse(gsql))}
    gexact = {
        r["o_orderstatus"]: float(r["aq"]) for r in eng.query(gsql).collect()
    }
    assert set(grows) == set(gexact)
    for g, t in gexact.items():
        assert abs(grows[g] - t) / max(abs(t), 1e-9) <= 0.1, (g, grows[g], t)


def test_factorized_multi_model_grouped_aqp(spark):
    """Grouped AQP over {orders, lineitem} with models
    {customer, orders} and {lineitem}: the lineitem anchor's per-group
    grid supplies the proportions, the factor chain the total. COUNT
    and SUM track the exact plane per group within honest budgets;
    AVG is the anchor's local ratio. A grouping whose gb table and
    operand table no single model co-covers still raises."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.model import ModelPlaneUnsupported
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(
        train_spn_model(eng.catalog, eng.schema, {"customer", "orders"}, 50_000)
    )
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))

    sql = (
        "SELECT lineitem.l_returnflag, COUNT(*) AS cnt, "
        "SUM(lineitem.l_quantity) AS sq, AVG(lineitem.l_quantity) AS aq "
        "FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND orders.o_orderstatus = 'F' AND lineitem.l_discount <= 0.06 "
        "GROUP BY lineitem.l_returnflag"
    )
    rows = {r["l_returnflag"]: r for r in ens.aqp(eng.parse(sql))}
    exact = {
        r["l_returnflag"]: r.asDict() for r in eng.query(sql).collect()
    }
    assert set(rows) == set(exact)
    for g, e in exact.items():
        for k, budget in (("cnt", 0.3), ("sq", 0.3), ("aq", 0.1)):
            rel = abs(rows[g][k] - float(e[k])) / max(abs(float(e[k])), 1e-9)
            assert rel <= budget, (g, k, rows[g][k], e[k])

    # gb table (orders) and operand table (lineitem) co-covered by no
    # model: the split-anchor path pins each group key on the
    # factorized chain (superseded the old loud fallback)
    ssql = (
        "SELECT SUM(lineitem.l_quantity) AS sq FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "GROUP BY orders.o_orderstatus"
    )
    srows = {r["o_orderstatus"]: r["sq"] for r in ens.aqp(eng.parse(ssql))}
    sexact = {
        r["o_orderstatus"]: float(r["sq"]) for r in eng.query(ssql).collect()
    }
    assert set(srows) == set(sexact)
    for g, t in sexact.items():
        assert abs(srows[g] - t) / max(abs(t), 1e-9) <= 0.3, (g, srows[g], t)


def test_factorized_grouped_aqp_under_or(spark):
    """Cross-column OR + GROUP BY over a multi-model table set: each
    inclusion-exclusion term routes through the factorized grouped
    path; signed per-group sums must track the exact plane."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(
        train_spn_model(eng.catalog, eng.schema, {"customer", "orders"}, 50_000)
    )
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))

    sql = (
        "SELECT lineitem.l_returnflag, COUNT(*) AS cnt FROM orders, lineitem "
        "WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND (orders.o_totalprice > 150000 OR lineitem.l_quantity > 30) "
        "GROUP BY lineitem.l_returnflag"
    )
    rows = {r["l_returnflag"]: r["cnt"] for r in ens.aqp(eng.parse(sql))}
    exact = {
        r["l_returnflag"]: float(r["cnt"]) for r in eng.query(sql).collect()
    }
    assert set(rows) == set(exact)
    for g, t in exact.items():
        assert abs(rows[g] - t) / max(t, 1e-9) <= 0.35, (g, rows[g], t)


# ------------------------------- split-anchor grouped factorized AQP


def test_grouped_aqp_split_anchor_across_models(spark):
    """SSB Q3/Q4 flight shape: GROUP BY on one table, aggregate
    operand on ANOTHER, with no single model covering both (singles +
    pairs ensemble). The split-anchor path must pin each group value
    on the factorized cardinality chain — capturing the planted
    nation↔order-fanout correlation through the boundary multipliers
    — instead of raising ModelPlaneUnsupported."""
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
        Query,
        QueryType,
    )
    from deepdb_public_spark.plans.schema import SchemaGraph, Table
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.learn import LearnParams
    from deepdb_public_spark.spn.trainer import train_spn_model

    # nation A: 100 customers x 5 orders; B: 50 x 1 — group size and
    # fanout both nation-correlated
    custs, orders, ck, ok = [], [], 0, 0
    for name, n_cust, fanout in (("A", 100, 5), ("B", 50, 1)):
        for _ in range(n_cust):
            custs.append((ck, name))
            for _ in range(fanout):
                orders.append((ok, ck, 2.0))
                ok += 1
            ck += 1
    # column names unique ACROSS the co-trained table set — the
    # outer-join staging contract (prep.generate_join_sample)
    nat = spark.createDataFrame([("A",), ("B",)], "name string").withColumn(
        "nk", F.when(F.col("name") == "A", 0).otherwise(1)
    )
    cdf = spark.createDataFrame(custs, "ck int, cname string").withColumn(
        "c_nk", F.when(F.col("cname") == "A", 0).otherwise(1)
    ).drop("cname")
    odf = spark.createDataFrame(orders, "ok int, o_ck int, price double")

    g = SchemaGraph()
    g.add_table(Table("nat", ["nk"]))
    g.add_table(Table("cust", ["ck"]))
    g.add_table(Table("ord", ["ok"]))
    r1 = g.add_relationship("cust", "c_nk", "nat", "nk")
    r2 = g.add_relationship("ord", "o_ck", "cust", "ck")
    catalog = {"nat": nat, "cust": cdf, "ord": odf}
    params = LearnParams(min_instances_slice=100)

    ens = SPNEnsemble(g)
    ens.add_model(train_spn_model(catalog, g, {"nat", "cust"}, 50_000, params))
    ens.add_model(train_spn_model(catalog, g, {"ord"}, 50_000, params))

    q = Query(
        query_type=QueryType.AQP,
        table_set={"nat", "cust", "ord"},
        relationship_set={r1.identifier, r2.identifier},
        group_bys=[("nat", "name")],
        aggregations=[
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.COUNT,
                [],
                alias="cnt",
            ),
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.SUM,
                [("ord", "price")],
                alias="rev",
            ),
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.AVG,
                [("ord", "price")],
                alias="ap",
            ),
        ],
    )
    rows = {r["name"]: r for r in ens.aqp(q)}
    truth = {"A": (500.0, 1000.0), "B": (50.0, 100.0)}
    assert set(rows) == set(truth)
    for name, (cnt, rev) in truth.items():
        assert rows[name]["cnt"] == pytest.approx(cnt, rel=0.25), rows[name]
        assert rows[name]["rev"] == pytest.approx(rev, rel=0.25), rows[name]
        assert rows[name]["ap"] == pytest.approx(2.0, rel=0.05), rows[name]
    # the planted correlation must survive: A's count >> B's
    assert rows["A"]["cnt"] > 4 * rows["B"]["cnt"]
