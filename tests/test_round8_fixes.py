"""Round 8: grouped factorized AQP when the GROUP BY columns
themselves span models with no single covering anchor.

The split-anchor path (round 6) required one model covering all
group-by tables; now the group columns are partitioned into
anchor-covered subsets, each subset's key grid is enumerated from its
own model, the grids are cross-producted, and every full key is
pinned on the factorized cardinality chain (SPNEnsemble.
_cross_piece_group_keys). AVG operands whose anchor piece contains a
group table are pinned per key, so group↔operand correlations the
anchor can see are kept. reference: ensemble_compilation/
spn_ensemble.py::evaluate_factors_group_by (the reference requires a
covering model; this composes per-piece grids instead).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def cross_piece_setup(spark):
    """nat -> cust -> ord chain; models {nat, cust} and {ord}.

    Planted structure:
      - nation A: 100 customers x 4 orders; B: 50 customers x 2
        (nation↔fanout correlation, visible to the chain's boundary
        multipliers)
      - every customer's orders alternate flag X (price 10.0) and
        flag Y (price 50.0) evenly — flag is nation-INDEPENDENT (the
        cross-piece factorization assumes exactly this), but price is
        flag-DEPENDENT, which only a per-key-pinned AVG can see.
    """
    from deepdb_public_spark.plans.schema import SchemaGraph, Table
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.learn import LearnParams
    from deepdb_public_spark.spn.trainer import train_spn_model

    custs, orders, ck, ok = [], [], 0, 0
    for name, n_cust, fanout in (("A", 100, 4), ("B", 50, 2)):
        for _ in range(n_cust):
            # tier: nation-correlated non-key categorical (A: gold/
            # silver, B: silver/bronze) — the grouped-distinct test
            # needs a modelable distinct column on the cust side
            if name == "A":
                tier = "gold" if ck % 2 == 0 else "silver"
            else:
                tier = "silver" if ck % 2 == 0 else "bronze"
            custs.append((ck, name, tier))
            for j in range(fanout):
                flag = "X" if j % 2 == 0 else "Y"
                price = 10.0 if flag == "X" else 50.0
                orders.append((ok, ck, flag, price))
                ok += 1
            ck += 1
    nat = spark.createDataFrame([("A",), ("B",)], "name string").withColumn(
        "nk", F.when(F.col("name") == "A", 0).otherwise(1)
    )
    cdf = (
        spark.createDataFrame(custs, "ck int, cname string, tier string")
        .withColumn("c_nk", F.when(F.col("cname") == "A", 0).otherwise(1))
        .drop("cname")
    )
    odf = spark.createDataFrame(orders, "ok int, o_ck int, flag string, price double")

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
    return ens, (r1.identifier, r2.identifier), catalog


def _cross_piece_query(rels, aggs):
    from deepdb_public_spark.plans.query import Query, QueryType

    return Query(
        query_type=QueryType.AQP,
        table_set={"nat", "cust", "ord"},
        relationship_set=set(rels),
        group_bys=[("nat", "name"), ("ord", "flag")],
        aggregations=aggs,
    )


def test_grouped_aqp_group_bys_across_models(cross_piece_setup):
    """GROUP BY nat.name, ord.flag with no model covering both group
    tables: previously ModelPlaneUnsupported, now the cross-piece
    grid. COUNT must keep the nation↔fanout correlation (chain-
    pinned); AVG/SUM must keep the flag↔price correlation (per-key
    pinned operand anchor)."""
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
    )

    ens, rels, _cat = cross_piece_setup
    q = _cross_piece_query(
        rels,
        [
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
    rows = {(r["name"], r["flag"]): r for r in ens.aqp(q)}
    # exact: (A,X) 200 rows, (A,Y) 200, (B,X) 50, (B,Y) 50;
    # avg price 10 for X groups, 50 for Y groups
    truth = {
        ("A", "X"): (200.0, 2000.0, 10.0),
        ("A", "Y"): (200.0, 10000.0, 50.0),
        ("B", "X"): (50.0, 500.0, 10.0),
        ("B", "Y"): (50.0, 2500.0, 50.0),
    }
    assert set(rows) == set(truth)
    for key, (cnt, rev, ap) in truth.items():
        r = rows[key]
        assert r["cnt"] == pytest.approx(cnt, rel=0.25), (key, dict(r.asDict() if hasattr(r, "asDict") else r))
        assert r["ap"] == pytest.approx(ap, rel=0.10), (key, r)
        assert r["rev"] == pytest.approx(rev, rel=0.30), (key, r)
    # both planted correlations must survive the factorization:
    assert rows[("A", "X")]["cnt"] > 2.5 * rows[("B", "X")]["cnt"]
    assert rows[("A", "Y")]["ap"] > 3 * rows[("A", "X")]["ap"]


def test_grouped_count_only_cross_piece(cross_piece_setup):
    """COUNT-only grouped query through the same path (no operand
    anchor involved) — and single-piece behavior is unchanged when
    one model does cover all group tables."""
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
        Query,
        QueryType,
    )

    ens, rels, _cat = cross_piece_setup
    q = _cross_piece_query(
        rels,
        [
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.COUNT,
                [],
                alias="cnt",
            )
        ],
    )
    rows = {(r["name"], r["flag"]): r["cnt"] for r in ens.aqp(q)}
    truth = {("A", "X"): 200.0, ("A", "Y"): 200.0, ("B", "X"): 50.0, ("B", "Y"): 50.0}
    assert set(rows) == set(truth)
    for key, cnt in truth.items():
        assert rows[key] == pytest.approx(cnt, rel=0.25), (key, rows[key])

    # covering-anchor regression guard: group on ord.flag only — the
    # {ord} model covers it, the single-anchor path still runs
    q2 = Query(
        query_type=QueryType.AQP,
        table_set={"nat", "cust", "ord"},
        relationship_set=set(rels),
        group_bys=[("ord", "flag")],
        aggregations=[
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.COUNT,
                [],
                alias="cnt",
            )
        ],
    )
    rows2 = {r["flag"]: r["cnt"] for r in ens.aqp(q2)}
    assert rows2["X"] == pytest.approx(250.0, rel=0.25)
    assert rows2["Y"] == pytest.approx(250.0, rel=0.25)


def test_quality_survivors_distributed_labels_equivalence(spark):
    """deduplicate_corpus(score_col=...) must pick IDENTICAL survivors
    whether cluster labels come from the driver union-find or the
    distributed min-label-propagation branch (driver_max_edges=0
    forces the latter). x48 exercises only the driver branch; this
    pins the composition of the quality window with distributed
    labels."""
    from deepdb_public_spark.operators.dedup import deduplicate_corpus

    # two clusters: {1,2,3} (chain), {10,11}; 20 is untouched
    docs = spark.createDataFrame(
        [
            (1, 0.5), (2, 0.9), (3, 0.7),
            (10, 0.3), (11, 0.3),  # score tie -> min id survives
            (20, 0.1),
        ],
        "doc_id int, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    survivors_driver = sorted(
        r["doc_id"]
        for r in deduplicate_corpus(docs, "doc_id", pairs, "quality").collect()
    )
    survivors_dist = sorted(
        r["doc_id"]
        for r in deduplicate_corpus(
            docs, "doc_id", pairs, "quality", driver_max_edges=0
        ).collect()
    )
    assert survivors_driver == survivors_dist == [2, 10, 20]
    # min-id default rule must also agree across branches
    min_driver = sorted(
        r["doc_id"] for r in deduplicate_corpus(docs, "doc_id", pairs).collect()
    )
    min_dist = sorted(
        r["doc_id"]
        for r in deduplicate_corpus(
            docs, "doc_id", pairs, driver_max_edges=0
        ).collect()
    )
    assert min_driver == min_dist == [1, 10, 20]


def test_grouped_ci_cross_piece_covers_truth(cross_piece_setup):
    """Conjunctive grouped CI over a table set no single model covers,
    with the group tables THEMSELVES spanning pieces (was two stacked
    refusals: select_model ValueError at the top, then the grouped-CI
    ModelPlaneUnsupported). Every emitted group's 0.99 interval must
    cover the exact COUNT and SUM."""
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
    )

    ens, rels, _cat = cross_piece_setup
    q = _cross_piece_query(
        rels,
        [
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
        ],
    )
    rows = ens.confidence_interval(q, confidence=0.99)
    cis: dict = {}
    for r in rows:
        cis.setdefault((r["name"], r["flag"]), {})[r["agg"]] = r
    truth = {
        ("A", "X"): (200.0, 2000.0),
        ("A", "Y"): (200.0, 10000.0),
        ("B", "X"): (50.0, 500.0),
        ("B", "Y"): (50.0, 2500.0),
    }
    assert set(cis) == set(truth)
    for key, (cnt, rev) in truth.items():
        ci_c, ci_s = cis[key]["cnt"], cis[key]["rev"]
        assert ci_c["lo"] <= cnt <= ci_c["hi"], (key, ci_c)
        assert ci_s["lo"] <= rev <= ci_s["hi"], (key, ci_s)
        assert ci_c["hi"] > ci_c["lo"] >= 0.0


def test_ungrouped_ci_factorized_conjunctive(cross_piece_setup):
    """Ungrouped conjunctive CI over a multi-model table set routes
    through the 1-term IE path (round 8: select_model ValueError no
    longer escapes confidence_interval)."""
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
        Condition,
        Query,
        QueryType,
    )

    ens, rels, _cat = cross_piece_setup
    q = Query(
        query_type=QueryType.AQP,
        table_set={"nat", "cust", "ord"},
        relationship_set=set(rels),
        conditions=[Condition("nat", "name", "=", "A")],
        aggregations=[
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.COUNT,
                [],
                alias="cnt",
            )
        ],
    )
    (ci,) = ens.confidence_interval(q, confidence=0.99)
    # exact: 100 A-customers x 4 orders = 400 join rows
    assert ci["lo"] <= 400.0 <= ci["hi"], ci
    assert ci["est"] == pytest.approx(400.0, rel=0.25)


def test_grouped_distinct_under_or_cross_piece(cross_piece_setup):
    """Grouped COUNT(DISTINCT cust.tier) under a cross-column OR with
    the group table ({ord}) and the distinct column's table ({cust})
    in different models: rides the round-8 per-key pinned value-mass
    fallback in SPNEnsemble._cell_masses instead of raising."""
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
        Condition,
        Query,
        QueryType,
    )

    ens, rels, _cat = cross_piece_setup
    q = Query(
        query_type=QueryType.AQP,
        table_set={"nat", "cust", "ord"},
        relationship_set=set(rels),
        conditions=[
            Condition(
                None,
                None,
                "OR",
                [
                    Condition("nat", "name", "=", "A"),
                    Condition("ord", "flag", "=", "Y"),
                ],
            )
        ],
        group_bys=[("ord", "flag")],
        aggregations=[
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.COUNT,
                [("cust", "tier")],
                alias="d",
                distinct=True,
            )
        ],
    )
    rows = {r["flag"]: r["d"] for r in ens.aqp(q)}
    # exact: flag X rows satisfying (A or Y) -> only A customers ->
    # tiers {gold, silver} = 2; flag Y rows all satisfy -> all three
    # tiers = 3
    assert set(rows) == {"X", "Y"}
    assert rows["X"] == 2.0, rows
    assert rows["Y"] == 3.0, rows


def test_bpe_pair_counts(spark):
    """BPE pair statistic: word-frequency weighting, NULL/short-token
    exclusion, deterministic (cnt DESC, pair ASC) ordering."""
    from deepdb_public_spark.operators.textstats import bpe_pair_counts

    docs = spark.createDataFrame(
        [
            (1, "abab abab"),   # 'abab' x2
            (2, "abab"),        # 'abab' x1
            (3, "xy a"),        # 'a' too short, dropped
            (4, None),
            (5, "  "),
        ],
        "doc_id int, text string",
    )
    rows = bpe_pair_counts(docs, "text", top_k=10).collect()
    got = [(r["pair"], r["cnt"]) for r in rows]
    # 'abab' (count 3): pairs ab, ba, ab -> ab=6, ba=3; 'xy' -> xy=1
    assert got == [("ab", 6), ("ba", 3), ("xy", 1)]
    # min_word_count prunes the vocabulary tail
    rows2 = bpe_pair_counts(docs, "text", top_k=10, min_word_count=2).collect()
    assert [(r["pair"], r["cnt"]) for r in rows2] == [("ab", 6), ("ba", 3)]


def test_bpe_learn_matches_reference(spark):
    """bpe_learn's greedy merges must equal a pure-Python reference
    implementation of Sennrich-style BPE (same lexicographic
    tie-break) — merges, order, and final symbolizations."""
    from collections import Counter

    from deepdb_public_spark.operators.textstats import bpe_learn

    corpus = [
        "low low low low low",
        "lower lower",
        "newest newest newest newest newest newest",
        "widest widest widest",
        None,
        "  ",
    ]

    # ---- reference ----
    words = Counter(
        w
        for t in corpus
        if t
        for w in t.lower().split()
        if w
    )
    vocab = {w: list(w) for w in words}
    ref_merges = []
    for _ in range(8):
        pairs = Counter()
        for w, syms in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += words[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        ref_merges.append(best)
        a, b = best
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out

    # ---- operator ----
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id int, text string"
    )
    merges, wc = bpe_learn(docs, "text", n_merges=8)
    assert merges == ref_merges
    got = {
        "".join(r["symbols"]): (tuple(r["symbols"]), r["c"])
        for r in wc.collect()
    }
    want = {w: (tuple(syms), words[w]) for w, syms in vocab.items()}
    assert got == want


def test_simhash_block_completeness_property(spark):
    """Pigeonhole completeness of the generalized blocking: for random
    signature pairs within Hamming distance r, the (r+1)-block keys
    must share at least one (block, key) — including radii where
    64 % (r+1) != 0 (top bits uncovered: collisions widen, pairs are
    never lost)."""
    import random

    from pyspark.sql import functions as F

    from deepdb_public_spark.functions.hashing import simhash_block_keys

    rng = random.Random(8)
    rows = []
    def signed(u: int) -> int:
        return u - (1 << 64) if u >= (1 << 63) else u

    for r in (1, 2, 3, 4, 7, 10, 31):
        for _ in range(20):
            ua = rng.getrandbits(64)
            ub = ua
            for j in rng.sample(range(64), rng.randint(1, r)):
                ub ^= 1 << j
            rows.append((r, signed(ua), signed(ub)))
    df = spark.createDataFrame(rows, "r int, a long, b long")
    # n_blocks = r + 1 per row: evaluate per distinct radius
    for r in sorted({x[0] for x in rows}):
        sub = df.filter(F.col("r") == r)
        shared = sub.select(
            F.size(
                F.array_intersect(
                    simhash_block_keys(F.col("a"), r + 1),
                    simhash_block_keys(F.col("b"), r + 1),
                )
            ).alias("n")
        )
        assert shared.filter(F.col("n") < 1).count() == 0, f"radius {r}"


def test_occupancy_ci_calibration_numpy():
    """Statistical calibration of the Poisson-occupancy distinct CI
    (no Spark): with per-value expected masses m_v, the model says a
    fresh draw's realized distinct count is Σ_v Bern(1 - exp(-m_v)).
    In a mixed mass regime (solid / borderline / mostly-absent
    values), the [est ± 1.96·sd] interval from
    _occupancy_moments_from_masses must cover the realized distinct
    at ≥ 0.9 over repeated draws — the variance folds the
    threshold-vs-occupancy-mean center offset in quadrature, which
    this test originally caught as a 0.75 coverage hole."""
    import math

    import numpy as np

    from deepdb_public_spark.spn.ensemble import SPNEnsemble

    rng = np.random.default_rng(88)
    masses = np.concatenate(
        [
            rng.uniform(3.0, 8.0, 60),    # solidly present
            rng.uniform(0.2, 1.0, 10),    # borderline
            rng.uniform(0.01, 0.08, 10),  # mostly absent
        ]
    )
    est, var = SPNEnsemble._occupancy_moments_from_masses(masses.tolist())
    assert est == float((masses >= 0.5).sum())
    sd = math.sqrt(var)
    lo, hi = est - 1.96 * sd, est + 1.96 * sd
    p = 1.0 - np.exp(-masses)
    draws = (rng.random((200, masses.size)) < p).sum(axis=1)
    coverage = ((draws >= lo) & (draws <= hi)).mean()
    assert coverage >= 0.9, (coverage, est, sd)
    # well-separated masses: the offset vanishes and the interval
    # stays near-degenerate (no over-widening in the common case)
    est2, var2 = SPNEnsemble._occupancy_moments_from_masses(
        [9.0] * 50 + [1e-6] * 50
    )
    assert est2 == 50.0
    assert math.sqrt(var2) < 1.0


def test_cross_piece_cell_cap(cross_piece_setup, monkeypatch):
    """The cross-piece grid is capped far below MAX_GROUPBY_CELLS
    (every key costs a separate chain evaluation): past the cap it
    raises GroupByExplosion so Engine.estimate's exact fallback fires,
    instead of grinding through minutes of driver math."""
    import deepdb_public_spark.spn.ensemble as ens_mod
    from deepdb_public_spark.plans.query import (
        AggOperation,
        AggregationOperationType,
        AggregationType,
    )
    from deepdb_public_spark.spn.model import GroupByExplosion

    ens, rels, _cat = cross_piece_setup
    q = _cross_piece_query(
        rels,
        [
            AggOperation(
                AggregationOperationType.AGGREGATION,
                AggregationType.COUNT,
                [],
                alias="cnt",
            )
        ],
    )
    monkeypatch.setattr(ens_mod, "MAX_CROSS_PIECE_CELLS", 3)
    with pytest.raises(GroupByExplosion, match="cross-piece"):
        ens.aqp(q)  # 2 names x 2 flags = 4 cells > 3


def test_occupancy_moments_properties():
    """Property test (no Spark): for any non-negative mass vector,
    _occupancy_moments_from_masses must satisfy
    est == #{m >= 0.5}, var >= (est - Σp)² (offset always folded),
    var >= Σp(1-p), and degenerate inputs behave (empty -> [0, 0];
    negative masses clamp to p=0)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deepdb_public_spark.spn.ensemble import SPNEnsemble

    f = SPNEnsemble._occupancy_moments_from_masses
    assert f([]) == [0.0, 0.0]
    est_neg, var_neg = f([-3.0, -0.1])
    assert est_neg == 0.0 and var_neg == 0.0

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=0.0, max_value=50.0,
                allow_nan=False, allow_infinity=False,
            ),
            max_size=60,
        )
    )
    def check(masses):
        est, var = f(masses)
        assert est == float(sum(1 for m in masses if m >= 0.5))
        ps = [1.0 - math.exp(-m) for m in masses]
        pvar = sum(p * (1 - p) for p in ps)
        offset2 = (est - sum(ps)) ** 2
        assert var == pytest.approx(pvar + offset2, rel=1e-9, abs=1e-12)
        assert var >= -1e-12

    check()
