"""Estimate hints that the ensemble cannot price are counted, not
swallowed: Engine.hint_fallbacks records each one by estimator and
exception type, and the query still plans (greedy order, no broadcast
hint) and returns the exact rows."""

from __future__ import annotations

from deepdb_public_spark.engine import Engine
from tests.conftest import SF_SMOKE


class _BrokenEnsemble:
    """An ensemble whose every estimate fails."""

    def cardinality(self, query):
        raise KeyError("no model for this table set")

    def select_model(self, query):
        raise ValueError("no single model covers this table set")


def test_failing_estimator_is_counted_and_rows_stay_exact(spark):
    eng = Engine(spark, SF_SMOKE)
    sql = (
        "SELECT COUNT(*) AS c FROM lineitem, orders, customer "
        "WHERE lineitem.l_orderkey = orders.o_orderkey "
        "AND orders.o_custkey = customer.c_custkey "
        "AND orders.o_totalprice > 100000 AND lineitem.l_quantity < 20"
    )
    expected = eng.query(sql).collect()
    eng.ensemble = _BrokenEnsemble()
    eng.enable_estimate_hints()
    assert eng.query(sql).collect() == expected
    assert eng.hint_fallbacks[("table", "KeyError")] > 0
    assert eng.hint_fallbacks[("join_batch", "ValueError")] > 0
    assert eng.hint_fallbacks[("join_batch", "KeyError")] > 0
