"""Model-plane tests (SURVEY.md §5.2): unit math vs brute force, and
q-error / relative-error budgets vs the exact plane (the role the
reference's golden-cardinality CSVs play)."""

from __future__ import annotations

import numpy as np
import pytest

from deepdb_public_spark.engine import Engine
from deepdb_public_spark.spn.ensemble import SPNEnsemble
from deepdb_public_spark.spn.leaves import Leaf
from deepdb_public_spark.spn.learn import LearnParams, learn_spn
from deepdb_public_spark.spn.nodes import distinct_values, evaluate, validate
from deepdb_public_spark.spn.ranges import NominalRange, NullOnlyRange, NumericRange
from deepdb_public_spark.spn.rdc import rdc
from deepdb_public_spark.spn.trainer import train_spn_model
from tests.conftest import SF_CORRECT

# ---------- pure numpy units (no Spark) ----------


def test_leaf_prob_and_expect_vs_bruteforce():
    rng = np.random.default_rng(0)
    col = rng.integers(0, 50, size=5000).astype(float)
    col[rng.choice(5000, 250, replace=False)] = np.nan
    leaf = Leaf.fit(0, col)
    r = NumericRange([(10, 30, True, False)])
    mask = (col >= 10) & (col < 30)
    assert leaf.prob(r) == pytest.approx(np.nanmean(np.where(np.isnan(col), 0, mask)), abs=1e-12)
    assert leaf.expect(lambda x: x, r) == pytest.approx(
        np.nansum(np.where(mask, col, 0)) / len(col), rel=1e-12
    )
    assert leaf.prob(NullOnlyRange()) == pytest.approx(250 / 5000)
    assert leaf.prob(None) == pytest.approx(1.0)


def test_leaf_nominal_and_inverse_expect():
    col = np.array([0, 0, 1, 2, 2, 2], dtype=float)
    leaf = Leaf.fit(0, col)
    assert leaf.prob(NominalRange([0, 2])) == pytest.approx(5 / 6)
    inv = leaf.expect(lambda x: 1 / np.maximum(x, 1), None)
    assert inv == pytest.approx((2 * 1 + 1 * 1 + 3 * (1 / 2)) / 6)


def test_rdc_separates_dependence():
    rng = np.random.default_rng(1)
    x = rng.standard_normal(2000)
    assert rdc(x, x**2 + 0.1 * rng.standard_normal(2000)) > 0.6
    assert rdc(x, rng.standard_normal(2000)) < 0.25


def test_learn_spn_structure_and_mass():
    rng = np.random.default_rng(2)
    a = rng.integers(0, 10, 4000).astype(float)
    b = a * 3 + rng.integers(0, 2, 4000)  # dependent on a
    c = rng.integers(0, 5, 4000).astype(float)  # independent
    data = np.stack([a, b, c], axis=1)
    root = learn_spn(data, [0, 1, 2], LearnParams(min_instances_slice=500))
    validate(root)
    # total mass 1, marginal count recovery
    assert evaluate(root, {}) == pytest.approx(1.0, abs=1e-9)
    p = evaluate(root, {0: NumericRange([(0, 4, True, True)])})
    assert p == pytest.approx(((a >= 0) & (a <= 4)).mean(), abs=0.02)
    assert set(distinct_values(root, 2).tolist()) == set(np.unique(c).tolist())


# ---------- Spark-trained budgets ----------


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_CORRECT)


@pytest.fixture(scope="module")
def ensemble(engine):
    ens = SPNEnsemble(engine.schema)
    ens.add_model(
        train_spn_model(engine.catalog, engine.schema, {"lineitem"}, 60_000)
    )
    ens.add_model(
        train_spn_model(
            engine.catalog, engine.schema, {"orders", "lineitem"}, 80_000
        )
    )
    engine.ensemble = ens
    return ens


CARD_QUERIES = [
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_discount BETWEEN 0.02 AND 0.06",
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_quantity < 25",
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_returnflag = 'A'",
    "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_returnflag IN ('A','N') AND lineitem.l_tax <= 0.04",
    "SELECT COUNT(*) AS cnt FROM orders, lineitem WHERE orders.o_orderkey = lineitem.l_orderkey",
    "SELECT COUNT(*) AS cnt FROM orders, lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND orders.o_orderstatus = 'F'",
    "SELECT COUNT(*) AS cnt FROM orders, lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND orders.o_orderdate >= DATE '1999-01-01' AND lineitem.l_discount <= 0.03",
    "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_orderstatus <> 'F'",
    "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_totalprice > 100000",
]


def test_cardinality_qerror_budget(engine, ensemble):
    qerrs = []
    for sql in CARD_QUERIES:
        q = engine.parse(sql)
        est = ensemble.cardinality(q)
        true = engine.query(q).collect()[0][0]
        qerrs.append(max(est / max(true, 1), true / max(est, 1e-9)))
    qerrs = np.array(qerrs)
    assert np.median(qerrs) <= 1.1, f"median q-error {np.median(qerrs)}: {qerrs}"
    assert qerrs.max() <= 2.0, f"max q-error {qerrs.max()}: {qerrs}"


def test_aqp_relative_error_budget(engine, ensemble):
    sql = (
        "SELECT lineitem.l_returnflag, COUNT(*) AS cnt, SUM(lineitem.l_quantity) AS sq, "
        "AVG(lineitem.l_extendedprice) AS ae FROM lineitem "
        "WHERE lineitem.l_discount <= 0.05 GROUP BY lineitem.l_returnflag"
    )
    q = engine.parse(sql)
    model = {r["l_returnflag"]: r for r in ensemble.aqp(q)}
    exact = {r["l_returnflag"]: r.asDict() for r in engine.query(q).collect()}
    assert set(model) == set(exact)
    for k in exact:
        for fld in ("cnt", "sq", "ae"):
            rel = abs(model[k][fld] - exact[k][fld]) / abs(exact[k][fld])
            assert rel <= 0.05, f"{k}.{fld} rel err {rel}"


def test_sum_minus_and_join_aqp(engine, ensemble):
    sql = (
        "SELECT SUM(lineitem.l_extendedprice) - SUM(lineitem.l_tax) AS d "
        "FROM orders, lineitem WHERE orders.o_orderkey = lineitem.l_orderkey "
        "AND orders.o_orderstatus = 'O'"
    )
    q = engine.parse(sql)
    est = ensemble.aqp(q)[0]["d"]
    true = engine.query(q).collect()[0][0]
    assert abs(est - true) / abs(true) <= 0.05


def test_persistence_roundtrip(tmp_path, engine, ensemble):
    p = str(tmp_path / "ens.pkl")
    ensemble.save(p)
    loaded = SPNEnsemble.load(p, engine.schema)
    q = engine.parse(CARD_QUERIES[0])
    assert loaded.cardinality(q) == pytest.approx(ensemble.cardinality(q))


def test_add_dataset_tracks_appends(engine):
    """Incremental insert support (reference D5): absorb 50% more rows;
    estimates should track the grown table within a loose budget."""
    model = train_spn_model(engine.catalog, engine.schema, {"lineitem"}, 60_000)
    base = engine.catalog["lineitem"]
    extra = base.sample(0.5, seed=7)
    from deepdb_public_spark.operators.prep import encode_table

    # encode the delta with the model's dictionaries
    pdf = extra.select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
        "l_returnflag", "l_linestatus",
    ).toPandas()
    for col, cm in model.meta.columns.items():
        if cm.kind == "categorical":
            pdf[col] = pdf[col].map(cm.value_to_code)
        elif cm.origin == "timestamp":
            pdf[col] = pdf[col].astype("int64") // 1000 * 1000  # ns->us
    rows = pdf[model.column_names].to_numpy(dtype=float)
    n_extra = len(rows)
    model.add_dataset(rows)

    grown = base.unionByName(extra)
    est = model.full_join_size
    assert est == pytest.approx(60_000 + n_extra, rel=0.02)
    q = engine.parse(
        "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_quantity < 25"
    )
    true = grown.filter("l_quantity < 25").count()
    model_est = model.cardinality(q)
    assert max(model_est / true, true / model_est) <= 1.1


def _dict_absorb(values, probs, null_prob, d_vals, d_cnts, null_count,
                 prior_n, scale):
    """Classic dict-merge reference for Leaf.absorb_counts (pre-r14)."""
    n_new = (sum(d_cnts) if len(d_cnts) else 0.0) * scale + null_count * scale
    total = prior_n + n_new
    merged = {float(v): p * prior_n for v, p in zip(values, probs)}
    for v, c in zip(d_vals, d_cnts):
        merged[float(v)] = merged.get(float(v), 0.0) + c * scale
    items = sorted((v, c) for v, c in merged.items() if c > 0)
    return (
        np.array([v for v, _ in items]),
        np.array([c / total for _, c in items]),
        (null_prob * prior_n + null_count * scale) / total,
    )


def test_absorb_counts_matches_dict_reference():
    """Round-14 vectorization: np.unique+bincount must reproduce the
    old per-value dict merge BIT-identically (same values, same probs,
    same null mass) on overlapping, disjoint and zero-prior deltas."""
    rng = np.random.default_rng(7)
    for trial in range(20):
        nv = rng.integers(0, 40)
        vals = np.sort(rng.choice(np.arange(100.0), size=nv, replace=False))
        probs = rng.random(nv)
        probs = probs / probs.sum() * 0.9 if nv else probs
        null_prob = 0.1 if nv else 0.0
        leaf = Leaf(0, vals, probs, null_prob)
        nd = int(rng.integers(0, 30))
        d_vals = np.sort(
            rng.choice(np.arange(150.0), size=nd, replace=False)
        )
        d_cnts = rng.integers(1, 50, size=nd).astype(np.int64)
        null_count = float(rng.integers(0, 5))
        prior_n = float(rng.integers(0, 5000))
        scale = float(rng.choice([1.0, 0.25, 3.0]))
        ref = _dict_absorb(
            vals, probs, null_prob, d_vals, d_cnts, null_count,
            prior_n, scale,
        )
        leaf.absorb_counts(d_vals, d_cnts, null_count, prior_n, scale)
        if (sum(d_cnts) if nd else 0.0) * scale + null_count * scale == 0:
            continue  # no-op contract: leaf unchanged
        np.testing.assert_array_equal(leaf.values, ref[0])
        np.testing.assert_array_equal(leaf.probs, ref[1])
        assert leaf.null_prob == ref[2]


def test_remove_counts_matches_dict_reference():
    """Same pin for the delete twin: searchsorted+clamp+cumsum must
    equal the old dict subtraction with its sorted-order Python sum,
    including over-deletion clamping and missing delta values."""
    rng = np.random.default_rng(11)
    for trial in range(20):
        nv = int(rng.integers(1, 40))
        vals = np.sort(rng.choice(np.arange(100.0), size=nv, replace=False))
        probs = rng.random(nv)
        probs = probs / probs.sum() * 0.9
        leaf = Leaf(0, vals, probs, 0.1)
        nd = int(rng.integers(0, 30))
        d_vals = np.sort(
            rng.choice(np.arange(150.0), size=nd, replace=False)
        )
        d_cnts = rng.integers(1, 50, size=nd).astype(np.int64)
        null_count = float(rng.integers(0, 5))
        prior_n = float(rng.integers(100, 5000))
        scale = float(rng.choice([1.0, 0.25, 3.0]))
        # reference: classic dict path
        mass = {float(v): p * prior_n for v, p in zip(vals, probs)}
        for v, c in zip(d_vals, d_cnts):
            v = float(v)
            if v in mass:
                mass[v] = max(0.0, mass[v] - c * scale)
        null_mass = max(0.0, 0.1 * prior_n - null_count * scale)
        items = sorted((v, m) for v, m in mass.items() if m > 0)
        ref_total = sum(m for _, m in items) + null_mass
        got_total = leaf.remove_counts(
            d_vals, d_cnts, null_count, prior_n, scale
        )
        assert got_total == ref_total
        if ref_total <= 0:
            assert len(leaf.values) == 0
            continue
        np.testing.assert_array_equal(
            leaf.values, np.array([v for v, _ in items])
        )
        np.testing.assert_array_equal(
            leaf.probs, np.array([m / ref_total for _, m in items])
        )
        assert leaf.null_prob == null_mass / ref_total


def test_remove_counts_sums_duplicate_values():
    """Duplicate delta values subtract their summed count: one call
    with [v, v] equals removing each count in turn, including when
    the second removal clamps at zero."""
    for a, b in ((10.0, 5.0), (20.0, 10.0)):
        both = Leaf(0, np.array([1.0, 2.0, 3.0]), np.array([0.5, 0.25, 0.25]))
        total = both.remove_counts(np.array([2.0, 2.0]), np.array([a, b]), 0.0, 100.0)
        seq = Leaf(0, np.array([1.0, 2.0, 3.0]), np.array([0.5, 0.25, 0.25]))
        mid = seq.remove_counts(np.array([2.0]), np.array([a]), 0.0, 100.0)
        seq_total = seq.remove_counts(np.array([2.0]), np.array([b]), 0.0, mid)
        assert total == pytest.approx(seq_total)
        np.testing.assert_array_equal(both.values, seq.values)
        np.testing.assert_allclose(both.probs, seq.probs)
