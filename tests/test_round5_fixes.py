"""Round-5 fixes: adaptive minhash prefilter knob, deterministic
localCheckpoint release, sample-CI finite-sampling correction.

Each guards a behavior the oracle can't see (knob equivalence, block
accounting, interval width)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


# ------------------------------------------- adaptive minhash prefilter


def test_minhash_prefilter_knob_equivalent_output(spark):
    """prefilter True / False / adaptive must produce the same verified
    pair set on the fixture corpus (the prefilter only removes
    candidates the exact verify would reject anyway)."""
    from deepdb_public_spark.operators.dedup import minhash_lsh_pairs
    from deepdb_public_spark.operators.lifecycle import release

    docs = _docs(spark)
    results = []
    for knob in (None, True, False):
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                docs, "text", "doc_id", threshold=0.8, n_hashes=64,
                n_bands=16, use_char_ngrams=True, ngram=5, prefilter=knob,
            ).collect()
        }
        release()
        results.append(got)
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 0  # fixture has near-dups


def test_minhash_adaptive_skips_below_threshold(spark):
    """On a tiny corpus the adaptive path must SKIP the prefilter
    (candidate count < prefilter_min_candidates) and still verify
    exactly — same output as prefilter=False."""
    from deepdb_public_spark.operators.dedup import minhash_lsh_pairs
    from deepdb_public_spark.operators.lifecycle import release

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "a completely different sentence about spark partitions here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", threshold=0.6, n_hashes=64, n_bands=16,
            use_char_ngrams=True, ngram=5,
        ).collect()
    }
    release()
    assert out == {(1, 2)}


# --------------------------------------- localCheckpoint release hook


def test_release_frees_spread_blocks(spark):
    from deepdb_public_spark.operators.lifecycle import release
    from deepdb_public_spark.operators.partitioning import spread_small_input

    release()  # clean slate
    out = spread_small_input(spark.range(100).coalesce(1))
    assert out.count() == 100  # materializes the lazy checkpoint
    assert release() >= 1
    assert release() == 0  # idempotent


def test_release_leaves_no_registered_state(spark):
    from deepdb_public_spark.operators.lifecycle import release
    from deepdb_public_spark.operators.partitioning import spread_small_input

    release()
    spread_small_input(spark.range(50).coalesce(1)).count()
    release()
    assert release() == 0  # already freed


# ------------------------------------------- sample-CI correction


def test_similarity_sample_ci_width_shrinks_with_fraction(spark):
    """The (1-f) finite-sampling factor: at f close to 1 the CI must be
    much narrower than the Poisson approximation would give, and the
    estimate stays unbiased-ish on a fixed corpus."""
    from deepdb_public_spark.operators.similarity import similarity_selectivity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = [1.0] + [0.0] * 63
    exact = similarity_selectivity(
        emb, "embedding", "vec_id", q, threshold=0.0, method="exact"
    )
    hi_f = similarity_selectivity(
        emb, "embedding", "vec_id", q, threshold=0.0, method="sample",
        sample_fraction=0.9, seed=7,
    )
    lo_f = similarity_selectivity(
        emb, "embedding", "vec_id", q, threshold=0.0, method="sample",
        sample_fraction=0.2, seed=7,
    )
    w_hi = hi_f["hi"] - hi_f["lo"]
    w_lo = lo_f["hi"] - lo_f["lo"]
    assert w_hi < w_lo  # more sample => tighter interval
    # sd at f: sqrt(hits*(1-f))/f — check the implementation emits it
    hits_hi = hi_f["estimate"] * 0.9
    expected_w = 2 * 1.96 * math.sqrt(max(hits_hi, 1.0) * 0.1) / 0.9
    assert w_hi == pytest.approx(expected_w, rel=1e-6)
    assert exact["lo"] == exact["hi"] == exact["estimate"]


def test_similarity_sample_ci_nonstandard_confidence(spark):
    """Non-tabled confidence levels get a computed z-score, not a
    silent 1.96 fallback."""
    from deepdb_public_spark.operators.similarity import similarity_selectivity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = [1.0] + [0.0] * 63
    r80 = similarity_selectivity(
        emb, "embedding", "vec_id", q, threshold=0.0, method="sample",
        sample_fraction=0.5, seed=7, confidence=0.80,
    )
    r95 = similarity_selectivity(
        emb, "embedding", "vec_id", q, threshold=0.0, method="sample",
        sample_fraction=0.5, seed=7, confidence=0.95,
    )
    assert (r80["hi"] - r80["lo"]) < (r95["hi"] - r95["lo"])
    # z(0.80) = 1.2816: interval ratio must match z-ratio exactly
    ratio = (r80["hi"] - r80["lo"]) / (r95["hi"] - r95["lo"])
    assert ratio == pytest.approx(1.281552 / 1.96, rel=1e-4)


# ------------------------- merge_indicator_exp factor cancellation


def test_factor_cancellation_chain_shrinks_and_preserves_estimate(spark):
    """reference: spn_ensemble.py::merge_indicator_exp. On the chain
    customer <- orders <- lineitem with an anchor over
    {customer, orders} and a {lineitem}-only expansion model, the
    child factor's fanout denominator card({customer,orders} | conds)
    is algebraically identical to the anchor nominator — the
    cancellation must (a) fire (trace records it), (b) leave the
    estimate equal to the uncancelled product of the per-step trace
    values, and (c) skip re-evaluating the cancelled anchor term."""
    import math

    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(
        train_spn_model(eng.catalog, eng.schema, {"customer", "orders"}, 50_000)
    )
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 50_000))

    q = eng.parse(
        "SELECT COUNT(*) AS cnt FROM customer, orders, lineitem "
        "WHERE customer.c_custkey = orders.o_custkey "
        "AND orders.o_orderkey = lineitem.l_orderkey "
        "AND customer.c_mktsegment = 'BUILDING'"
    )
    factors = ens.explain_factors(q)
    cancel = [f for f in factors if f["kind"] == "cancellation"]
    assert cancel and cancel[0]["cancelled_pairs"] >= 1
    # uncancelled product (trace values) == cancelled estimate: the
    # cancellation changes WHAT is evaluated, never the result
    est = ens.cardinality(q)
    prod = math.prod(f["value"] for f in factors)
    assert prod == pytest.approx(est, rel=1e-9)
    true = eng.query(q).collect()[0][0]
    assert max(est / max(true, 1), true / max(est, 1e-9)) < 2.0

    # (c) the anchor sub-query is evaluated ONCE for the whole
    # estimate despite appearing as both nominator and denominator
    anchors = ens._rank_first_factors(q)
    _k, first, covered = anchors[0]
    calls = []
    orig = first.cardinality

    def counting(subq, *a, **kw):
        calls.append(frozenset(subq.table_set))
        return orig(subq, *a, **kw)

    first.cardinality = counting
    try:
        ens._expand_factors(q, first, set(covered))
    finally:
        first.cardinality = orig
    assert calls.count(frozenset({"customer", "orders"})) == 0, (
        "cancelled anchor/denominator pair must not be evaluated"
    )


# --------------------- estimate-driven join-tree search (left-deep DP)


def test_join_order_dp_flips_greedy_order(spark):
    """A fake intermediate-size estimator where the per-table greedy
    choice (part first: 10 filtered rows) is wrong — the {lineitem,
    orders} intermediate is far smaller than {part, lineitem}. The DP
    must start on the lineitem-orders edge and attach part LAST."""
    from deepdb_public_spark.engine import Engine

    engine = Engine(spark, SF_SMOKE)
    order: list[str] = []
    comp = engine.compiler
    orig_scan = comp._scan

    def spy(table, query, joined_tables):
        order.append(table)
        return orig_scan(table, query, joined_tables)

    inter = {
        frozenset({"lineitem", "orders"}): 100.0,
        frozenset({"part", "lineitem"}): 1e6,
        frozenset({"orders", "customer"}): 500.0,
        frozenset({"lineitem", "orders", "customer"}): 200.0,
        frozenset({"part", "lineitem", "orders"}): 8e5,
        frozenset({"part", "lineitem", "orders", "customer"}): 1000.0,
        frozenset({"customer", "lineitem"}): None,  # not an edge
    }
    sql = (
        "SELECT COUNT(*) AS c FROM part, lineitem, orders, customer "
        "WHERE lineitem.l_partkey = part.p_partkey "
        "AND orders.o_orderkey = lineitem.l_orderkey "
        "AND customer.c_custkey = orders.o_custkey"
    )
    try:
        comp._scan = spy
        # greedy signal says part is tiniest -> greedy would go part-first
        comp.cardinality_estimator = lambda t, q: {"part": 10.0}.get(t)
        engine.query(sql)
        greedy_order = list(order)
        order.clear()
        comp.join_cardinality_estimator = lambda ts, q: inter.get(ts, 1e9)
        engine.query(sql)
        dp_order = list(order)
    finally:
        comp._scan = orig_scan
        comp.cardinality_estimator = None
        comp.join_cardinality_estimator = None
    assert greedy_order[0] == "part" or greedy_order[1] == "part"
    assert set(dp_order[:2]) == {"lineitem", "orders"}
    assert dp_order[-1] == "part"


def test_join_order_dp_learned_correlated_predicate(spark):
    """4-table star with a PLANTED fanout<->predicate correlation:
    p3 is the tiniest table (greedy attaches it first, reducing
    nothing), while the p2 predicate — mid-sized per-table — joins
    to almost no fact rows. Trained RSPNs price the intermediates and
    the DP attaches p2 first. Result equality vs Spark SQL guards the
    reorder's correctness."""
    from deepdb_public_spark.plans.compiler import ExactCompiler
    from deepdb_public_spark.plans.query import Condition, Query
    from deepdb_public_spark.plans.schema import SchemaGraph, Table
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.learn import LearnParams
    from deepdb_public_spark.spn.trainer import train_spn_model

    p1 = [(i, "A" if i < 500 else "B") for i in range(1000)]
    p2 = [(i, "X" if i < 400 else "Y") for i in range(1000)]
    p3 = [(i, float(i % 5)) for i in range(100)]
    fact = []
    cid = 0
    for pid, g in p1:
        for _ in range(10 if g == "A" else 2):
            # anti-correlated: only every 30th fact row joins an 'X'
            # p2 parent
            pid2 = (cid % 400) if cid % 30 == 0 else 400 + (cid % 600)
            fact.append((cid, pid, pid2, cid % 100))
            cid += 1
    p1df = spark.createDataFrame(p1, "pid1 int, g1 string")
    p2df = spark.createDataFrame(p2, "pid2 int, g2 string")
    p3df = spark.createDataFrame(p3, "pid3 int, v3 double")
    cdf = spark.createDataFrame(fact, "cid int, fk1 int, fk2 int, fk3 int")

    g = SchemaGraph()
    g.add_table(Table("p1", ["pid1"], table_size=1000))
    g.add_table(Table("p2", ["pid2"], table_size=1000))
    g.add_table(Table("p3", ["pid3"], table_size=100))
    g.add_table(Table("c", ["cid"], table_size=len(fact)))
    r1 = g.add_relationship("c", "fk1", "p1", "pid1")
    r2 = g.add_relationship("c", "fk2", "p2", "pid2")
    r3 = g.add_relationship("c", "fk3", "p3", "pid3")
    catalog = {"p1": p1df, "p2": p2df, "p3": p3df, "c": cdf}
    params = LearnParams(min_instances_slice=200)

    ens = SPNEnsemble(g)
    for ts in ({"c", "p1"}, {"c", "p2"}, {"c", "p3"}):
        ens.add_model(train_spn_model(catalog, g, ts, 50_000, params))

    comp = ExactCompiler(g, catalog)
    q = Query(
        table_set={"c", "p1", "p2", "p3"},
        relationship_set={r1.identifier, r2.identifier, r3.identifier},
        conditions=[
            Condition("p1", "g1", "=", "A"),
            Condition("p2", "g2", "=", "X"),
        ],
    )

    order: list[str] = []
    orig_scan = comp._scan

    def spy(table, query, joined_tables):
        order.append(table)
        return orig_scan(table, query, joined_tables)

    comp._scan = spy
    try:
        # greedy baseline: cheapest single table is p3 (100 rows)
        comp.cardinality_estimator = (
            lambda t, query: ens.cardinality(
                Query(
                    table_set={t},
                    conditions=[c for c in query.conditions if c.table == t],
                )
            )
        )
        comp.compile(q)
        greedy_order = list(order)
        order.clear()

        def join_est(tables, query):
            rel_ids = {
                rid
                for rid in query.relationship_set
                if g.relationships[rid].start in tables
                and g.relationships[rid].end in tables
            }
            try:
                return ens.cardinality(
                    Query(
                        table_set=set(tables),
                        relationship_set=rel_ids,
                        conditions=[
                            c for c in query.conditions if c.table in tables
                        ],
                    )
                )
            except (ValueError, KeyError):
                return None

        comp.join_cardinality_estimator = join_est
        out = comp.compile(q)
        dp_order = list(order)
    finally:
        comp._scan = orig_scan

    assert greedy_order[1] == "p3", greedy_order  # the wrong choice
    # learned intermediates flip it: the ~selective p2 edge goes first
    assert "p2" in dp_order[:2], dp_order
    assert dp_order.index("p2") < dp_order.index("p3")
    # and the reordered plan is still the same query
    true = (
        cdf.join(p1df, cdf.fk1 == p1df.pid1)
        .join(p2df, cdf.fk2 == p2df.pid2)
        .join(p3df, cdf.fk3 == p3df.pid3)
        .filter((p1df.g1 == "A") & (p2df.g2 == "X"))
        .count()
    )
    assert out.collect()[0][0] == true


# ----------------------- model-plane CIs under cross-column OR


def test_or_ci_grouped_contains_truth(spark):
    """Grouped COUNT CI with a cross-column OR predicate: every
    visible group's 0.99 interval must contain the exact count; AVG
    composes via the delta method; since round 8, grouped
    COUNT(DISTINCT) under OR also returns CIs (Poisson-occupancy
    moments) and those intervals must cover the exact per-group
    distinct counts."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    ens = SPNEnsemble(eng.schema)
    ens.add_model(train_spn_model(eng.catalog, eng.schema, {"lineitem"}, 60_000))

    sql = (
        "SELECT COUNT(*) AS cnt FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08) "
        "GROUP BY lineitem.l_returnflag"
    )
    q = eng.parse(sql)
    rows = ens.confidence_interval(q, confidence=0.99)
    trues = {
        r["grp"]: r["c"]
        for r in eng.sql(
            "SELECT l_returnflag AS grp, COUNT(*) AS c FROM lineitem "
            "WHERE l_quantity < 10 OR l_discount > 0.08 GROUP BY l_returnflag"
        ).collect()
    }
    got = {r["l_returnflag"]: r for r in rows}
    assert set(got) == set(trues)
    for g, true in trues.items():
        ci = got[g]
        assert ci["lo"] <= true <= ci["hi"], (g, ci, true)
        assert ci["hi"] > ci["lo"] >= 0.0

    # AVG under OR: delta method over the signed SUM / not-null-COUNT
    q_avg = eng.parse(
        "SELECT AVG(lineitem.l_quantity) AS a FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08)"
    )
    (ci_avg,) = ens.confidence_interval(q_avg, confidence=0.99)
    true_avg = eng.sql(
        "SELECT AVG(l_quantity) FROM lineitem "
        "WHERE l_quantity < 10 OR l_discount > 0.08"
    ).collect()[0][0]
    assert ci_avg["lo"] <= true_avg <= ci_avg["hi"]
    # round 8: COUNT(DISTINCT) under OR (grouped and not) now has
    # Poisson-occupancy moments; intervals must cover the exact
    # per-group distinct counts (detailed checks in test_disjunction)
    q_cd = eng.parse(
        "SELECT COUNT(DISTINCT lineitem.l_quantity) AS d FROM lineitem "
        "WHERE (lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08) "
        "GROUP BY lineitem.l_returnflag"
    )
    cis_cd = {
        r["l_returnflag"]: r for r in ens.confidence_interval(q_cd)
    }
    trues_cd = {
        r["grp"]: r["t"]
        for r in eng.sql(
            "SELECT l_returnflag AS grp, COUNT(DISTINCT l_quantity) AS t "
            "FROM lineitem WHERE l_quantity < 10 OR l_discount > 0.08 "
            "GROUP BY l_returnflag"
        ).collect()
    }
    assert set(cis_cd) == set(trues_cd)
    for g, ci in cis_cd.items():
        assert ci["lo"] <= trues_cd[g] <= ci["hi"] + 1e-9, (g, ci)


def test_or_ci_coverage_two_levels():
    """Signed-term variance composition covers at the nominal rate
    over repeated training draws (same protocol as the conjunctive
    coverage test, OR predicate instead)."""
    import numpy as np

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
    from tests.test_variance_propagation import _gen, _model

    rng = np.random.default_rng(11)
    pop = _gen(rng, 200_000)
    true_mask = (pop[:, 0] < 5) | (pop[:, 1] >= 6)
    true_cnt = true_mask.sum()
    g = SchemaGraph()
    g.add_table(Table("t", []))

    for conf, floor in ((0.9, 0.75), (0.95, 0.85)):
        hits = 0
        trials = 30
        for _ in range(trials):
            samp = pop[rng.integers(0, len(pop), 2000)]
            m = _model(samp, ["x", "y"])
            ens = SPNEnsemble(g)
            ens.add_model(m)
            q = Query(query_type=QueryType.AQP, table_set={"t"})
            q.add_where_condition(
                Condition(
                    "t", None, "OR",
                    [
                        Condition("t", "x", "<", 5),
                        Condition("t", "y", ">=", 6),
                    ],
                )
            )
            q.aggregations.append(
                AggOperation(
                    AggregationOperationType.AGGREGATION,
                    AggregationType.COUNT,
                    alias="cnt",
                )
            )
            (ci,) = ens.confidence_interval(q, confidence=conf)
            # scale truth to this draw's full_join_size (2000-row model)
            truth = true_cnt / len(pop) * m.full_join_size
            if ci["lo"] <= truth <= ci["hi"]:
                hits += 1
        assert hits / trials >= floor, f"conf={conf}: {hits}/{trials}"


# ----------------------------------- IVF drift maintenance (hot cells)


def test_ivf_maintain_after_drifted_appends_recovers_recall(spark, tmp_path):
    """Build on 1/4 of the corpus, append the other 3/4 in three
    batches (nearest-existing-centroid routing => hot cells), then
    maintain_saved splits the oversized cells. Recall@10 of the
    maintained index must be within 5% of a FRESH index built on the
    full corpus, at the same nprobe/n_cells budget."""
    from deepdb_public_spark.operators.similarity import (
        IvfIndex,
        brute_force_topk,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    n = emb.count()
    first = emb.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(first, "embedding", "vec_id", n_cells=8, seed=7)
    idx.save(path)
    idx.release()
    for b in (1, 2, 3):
        batch = emb.filter(F.col("vec_id") % 4 == b)
        saved = IvfIndex.load(spark, path)
        saved.append_to_saved(path, batch, "embedding", "vec_id")

    stats = IvfIndex.maintain_saved(
        spark, path, max_cell_rows=int(n / 8), split_k=2, seed=7
    )
    assert stats["split_cells"], "drifted appends must create hot cells"
    assert stats["n_cells"] > 8

    maintained = IvfIndex.load(spark, path)
    assert maintained.assigned.count() == n  # no rows lost or duplicated
    fresh = IvfIndex.build(emb, "embedding", "vec_id", n_cells=stats["n_cells"], seed=7)

    queries = [r["embedding"] for r in emb.filter(F.col("vec_id") % 31 == 3).collect()][:16]
    rec_m, rec_f = [], []
    for qv in queries:
        truth = {r["id"] for r in brute_force_topk(emb, "embedding", "vec_id", qv, k=10).collect()}
        got_m = {r["id"] for r in maintained.topk(qv, k=10, nprobe=4).collect()}
        got_f = {r["id"] for r in fresh.topk(qv, k=10, nprobe=4).collect()}
        rec_m.append(len(truth & got_m) / 10)
        rec_f.append(len(truth & got_f) / 10)
    fresh.release()
    import numpy as np

    assert np.mean(rec_m) >= np.mean(rec_f) - 0.05, (rec_m, rec_f)


# --------------------- '<>' with an out-of-dictionary literal


def test_neq_unseen_literal_estimates_full_count(spark):
    """'<>' against a literal absent from the complete dictionary
    excludes nothing; it used to translate to the EMPTY range and
    estimate 0 for a predicate matching the whole table."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF_SMOKE)
    m = train_spn_model(eng.catalog, eng.schema, {"customer"}, 50_000)
    q_all = eng.parse(
        "SELECT COUNT(*) FROM customer "
        "WHERE customer.c_mktsegment <> 'NO_SUCH_SEGMENT'"
    )
    q_none = eng.parse(
        "SELECT COUNT(*) FROM customer "
        "WHERE customer.c_mktsegment = 'NO_SUCH_SEGMENT'"
    )
    n = eng.catalog["customer"].count()
    assert m.cardinality(q_all) == pytest.approx(n, rel=0.01)
    assert m.cardinality(q_none) == 0.0
