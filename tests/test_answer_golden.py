"""Golden model-plane answers: every fixture-light corpus template over
lineitem, orders and customer, plus hand-written shapes (cross-column
OR, COUNT(DISTINCT) grouped and ungrouped, agg ± agg, HAVING, the
split-anchor and cross-piece grouped paths), answered by two ensembles
trained at sf0.001 and recorded through ``cardinality``, ``aqp``,
``confidence_interval`` and ``explain_factors``; multi-column
``distinct_count`` and ``quantile`` calls ride along. A call that
raises records its exception type.

The two ensembles:

- ``estimate``: the five models perfbench's ``estimate`` workload
  trains (lineitem, orders, customer, orders⋈lineitem,
  customer⋈orders), so 3-table queries factorize over two models;
- ``split``: {customer, orders} + {lineitem}, so orders⋈lineitem
  factorizes and GROUP BY over orders with lineitem operands takes
  the split-anchor and cross-piece paths.

Answers must reproduce tests/answer_golden.json to a relative (and
absolute) tolerance of 1e-9: a reordered float sum still passes, any
change of estimator does not. Training is seeded (seed 42), and two
fresh processes give answers that agree to the last printed digit.

Regenerate (only when an answer change is intended):

    python -m tests.test_answer_golden
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pytest

from deepdb_public_spark.plans.parser import parse_query
from tests.conftest import SF_SMOKE as SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "answer_golden.json")
TOL = 1e-9
BUDGET = 60_000
TABLES = {"lineitem", "orders", "customer"}
CORPORA = [
    "benchmarks/fixture-light/aqp_queries.sql",
    "benchmarks/fixture-light/fixture_light_queries.sql",
]
ENSEMBLES = {
    "estimate": [
        ("lineitem",), ("orders",), ("customer",),
        ("orders", "lineitem"), ("customer", "orders"),
    ],
    "split": [("customer", "orders"), ("lineitem",)],
}
CALLS = ("cardinality", "aqp", "confidence_interval", "explain_factors")

_OL = "orders.o_orderkey = lineitem.l_orderkey"
_COL = f"customer.c_custkey = orders.o_custkey AND {_OL}"
_OR_L = "(lineitem.l_quantity < 10 OR lineitem.l_discount > 0.08)"
_OR_OL = "(orders.o_orderstatus = 'F' OR lineitem.l_returnflag = 'R')"

# shapes the corpus templates do not cover
EXTRA = [
    f"SELECT COUNT(*) FROM orders, lineitem WHERE {_OL} AND {_OR_OL}",
    f"SELECT COUNT(*) AS c, SUM(lineitem.l_quantity) AS s, AVG(lineitem.l_extendedprice) AS a FROM lineitem WHERE {_OR_L} GROUP BY lineitem.l_returnflag",
    f"SELECT SUM(lineitem.l_quantity) - SUM(lineitem.l_tax) AS d FROM lineitem WHERE {_OR_L}",
    f"SELECT SUM(lineitem.l_quantity) + COUNT(*) AS d FROM lineitem WHERE {_OR_L} GROUP BY lineitem.l_linestatus",
    f"SELECT COUNT(lineitem.l_tax) AS n, COUNT(DISTINCT lineitem.l_linestatus) AS d FROM lineitem WHERE {_OR_L}",
    f"SELECT COUNT(*) AS c, COUNT(DISTINCT lineitem.l_quantity) AS d FROM lineitem WHERE {_OR_L} GROUP BY lineitem.l_returnflag HAVING c > 100",
    f"SELECT COUNT(*) AS c, SUM(lineitem.l_extendedprice) AS s FROM orders, lineitem WHERE {_OL} AND {_OR_OL} GROUP BY lineitem.l_linestatus",
    f"SELECT AVG(lineitem.l_quantity) AS a, COUNT(DISTINCT lineitem.l_quantity) AS d FROM orders, lineitem WHERE {_OL} AND {_OR_OL}",
    "SELECT SUM(lineitem.l_extendedprice * lineitem.l_discount) - SUM(lineitem.l_tax) AS d FROM lineitem",
    "SELECT lineitem.l_returnflag, COUNT(*) AS cnt, SUM(lineitem.l_quantity) + AVG(lineitem.l_tax) AS q FROM lineitem GROUP BY lineitem.l_returnflag HAVING cnt > 100",
    "SELECT COUNT(*) AS c, SUM(lineitem.l_extendedprice) AS s FROM lineitem WHERE lineitem.l_quantity < 5 GROUP BY lineitem.l_quantity",
    "SELECT COUNT(DISTINCT lineitem.l_returnflag) AS d FROM lineitem GROUP BY lineitem.l_returnflag",
    "SELECT COUNT(DISTINCT lineitem.l_quantity) AS d, COUNT(*) AS c FROM lineitem WHERE lineitem.l_discount <= 0.05 GROUP BY lineitem.l_linestatus",
    f"SELECT SUM(lineitem.l_quantity) - COUNT(lineitem.l_tax) AS d, AVG(lineitem.l_discount) AS a FROM customer, orders, lineitem WHERE {_COL} AND customer.c_mktsegment = 'BUILDING'",
    f"SELECT COUNT(*) AS c, SUM(lineitem.l_quantity) - SUM(lineitem.l_discount) AS d FROM orders, lineitem WHERE {_OL} AND orders.o_orderstatus = 'F' GROUP BY lineitem.l_returnflag",
    f"SELECT COUNT(*) AS c, SUM(orders.o_totalprice) AS s, AVG(orders.o_totalprice) AS a FROM orders, lineitem WHERE {_OL} AND lineitem.l_quantity < 30 GROUP BY orders.o_orderstatus",
    f"SELECT COUNT(*) AS c, COUNT(lineitem.l_tax) AS n, SUM(lineitem.l_extendedprice) AS s, AVG(lineitem.l_extendedprice) AS a FROM orders, lineitem WHERE {_OL} AND lineitem.l_quantity < 30 GROUP BY orders.o_orderpriority",
    f"SELECT COUNT(*) AS c, SUM(lineitem.l_quantity) + AVG(lineitem.l_quantity) AS q FROM orders, lineitem WHERE {_OL} GROUP BY orders.o_orderstatus HAVING c >= 50",
    f"SELECT COUNT(DISTINCT lineitem.l_quantity) AS d FROM orders, lineitem WHERE {_OL} AND orders.o_totalprice > 100000 GROUP BY orders.o_orderstatus",
    f"SELECT COUNT(*) AS c, SUM(lineitem.l_quantity) AS s FROM orders, lineitem WHERE {_OL} AND lineitem.l_discount <= 0.06 GROUP BY orders.o_orderstatus, lineitem.l_returnflag",
    f"SELECT COUNT(DISTINCT lineitem.l_quantity) AS d FROM orders, lineitem WHERE {_OL} GROUP BY orders.o_orderstatus, lineitem.l_returnflag",
    f"SELECT COUNT(*) AS c, AVG(lineitem.l_extendedprice) AS a FROM customer, orders, lineitem WHERE {_COL} AND {_OR_OL} GROUP BY customer.c_mktsegment",
    "SELECT COUNT(*), SUM(lineitem.l_quantity) + AVG(lineitem.l_tax), AVG(lineitem.l_tax) FROM lineitem WHERE lineitem.l_discount <= 0.05",
    f"SELECT COUNT(*), SUM(lineitem.l_quantity) + COUNT(lineitem.l_tax), AVG(lineitem.l_tax) FROM customer, orders, lineitem WHERE {_COL} AND customer.c_acctbal > 0",
    f"SELECT COUNT(*) AS c, SUM(lineitem.l_quantity) + COUNT(*) AS q FROM orders, lineitem WHERE {_OL} AND orders.o_totalprice > 100000 GROUP BY lineitem.l_returnflag",
    f"SELECT SUM(lineitem.l_quantity) + COUNT(*) AS q, AVG(lineitem.l_tax) AS a FROM customer, orders, lineitem WHERE {_COL} AND customer.c_mktsegment = 'BUILDING' GROUP BY lineitem.l_linestatus",
    f"SELECT COUNT(*) AS c, COUNT(*) - SUM(lineitem.l_quantity) AS q FROM orders, lineitem WHERE {_OL} AND lineitem.l_discount <= 0.06 GROUP BY orders.o_orderpriority HAVING c > 10",
]

_BASE_L = "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_discount <= 0.05"
_OR_ONLY_L = f"SELECT COUNT(*) FROM lineitem WHERE {_OR_L}"
_FACT_OL = f"SELECT COUNT(*) FROM orders, lineitem WHERE {_OL} AND orders.o_orderstatus = 'F'"
_FACT_COL = f"SELECT COUNT(*) FROM customer, orders, lineitem WHERE {_COL} AND customer.c_mktsegment = 'BUILDING'"
_OR_COL = f"SELECT COUNT(*) FROM customer, orders, lineitem WHERE {_COL} AND {_OR_OL}"
_QS = [0.1, 0.5, 0.9]

# (call, sql, argument): multi-column distinct counts and quantiles
SPECIAL = [
    ("distinct_count", _BASE_L, ["l_returnflag", "l_linestatus"]),
    ("distinct_count", _OR_ONLY_L, ["l_quantity"]),
    ("distinct_count", _OR_ONLY_L, ["l_returnflag", "l_linestatus"]),
    ("distinct_count", _FACT_OL, ["l_quantity"]),
    ("distinct_count", _FACT_OL, ["l_returnflag", "l_linestatus"]),
    ("distinct_count", _FACT_COL, ["l_returnflag", "o_orderstatus"]),
    ("distinct_count", _OR_COL, ["l_quantity"]),
    ("distinct_count", _OR_COL, ["l_returnflag", "l_linestatus"]),
    ("quantile", _BASE_L, ("l_quantity", _QS)),
    ("quantile", _OR_ONLY_L, ("l_extendedprice", _QS)),
    ("quantile", _OR_ONLY_L, ("l_returnflag", _QS)),
    ("quantile", f"SELECT COUNT(*) FROM orders, lineitem WHERE {_OL} AND {_OR_OL}", ("l_quantity", _QS)),
]


def templates() -> list[str]:
    from deepdb_public_spark.plans.schema import tpch_like_schema

    schema = tpch_like_schema()
    out = []
    for rel in CORPORA:
        with open(os.path.join(ROOT, rel)) as f:
            for line in f:
                sql = line.strip()
                if sql and parse_query(sql, schema).table_set <= TABLES:
                    out.append(sql)
    return out


def canon(x):
    """JSON-ready form: numpy scalars unwrapped, non-finite floats as
    their repr, tuples as lists, dict keys as strings."""
    if isinstance(x, dict):
        return {str(k): canon(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [canon(v) for v in x]
    if isinstance(x, np.generic):
        x = x.item()
    if isinstance(x, float) and not math.isfinite(x):
        return repr(x)
    return x


def same(a, b) -> bool:
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool):
        return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def train_ensembles(spark) -> dict:
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    eng = Engine(spark, SF)
    models: dict = {}
    out = {}
    for name, table_sets in ENSEMBLES.items():
        ens = SPNEnsemble(eng.schema)
        for ts in table_sets:
            if ts not in models:
                models[ts] = train_spn_model(eng.catalog, eng.schema, set(ts), BUDGET, seed=42)
            ens.add_model(models[ts])
        out[name] = ens
    return out


def _record(fn) -> object:
    try:
        return {"answer": canon(fn())}
    except Exception as e:  # noqa: BLE001  the exception type is the answer
        return {"raises": type(e).__name__}


def answers(ensembles: dict) -> list[dict]:
    from deepdb_public_spark.plans.schema import tpch_like_schema

    schema = tpch_like_schema()
    entries = []
    for name, ens in ensembles.items():
        for sql in templates() + EXTRA:
            for call in CALLS:
                entry = {"ensemble": name, "call": call, "sql": sql}
                entry.update(_record(lambda: getattr(ens, call)(parse_query(sql, schema))))
                entries.append(entry)
        for call, sql, arg in SPECIAL:
            entry = {"ensemble": name, "call": call, "sql": sql, "arg": canon(arg)}
            if call == "distinct_count":
                fn = lambda: ens.distinct_count(parse_query(sql, schema), arg)  # noqa: E731
            else:
                fn = lambda: ens.quantile(parse_query(sql, schema), *arg)  # noqa: E731
            entry.update(_record(fn))
            entries.append(entry)
    return entries


def render(entries: list[dict]) -> str:
    lines = [json.dumps(e, sort_keys=True) for e in entries]
    return "[\n" + ",\n".join(lines) + "\n]\n"


def _golden() -> list[dict]:
    with open(GOLDEN) as f:
        return json.load(f)


def test_golden_covers_the_corpus_templates():
    got = templates()
    assert len(got) == 95
    sqls = {e["sql"] for e in _golden()}
    assert set(got) | set(EXTRA) <= sqls


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 test data missing")
def test_golden_answers_reproduced(spark):
    golden = _golden()
    got = json.loads(json.dumps(answers(train_ensembles(spark))))
    assert [(e["ensemble"], e["call"], e["sql"]) for e in got] == [
        (e["ensemble"], e["call"], e["sql"]) for e in golden
    ]
    diffs = [(g, e) for g, e in zip(got, golden) if not same(g, e)]
    assert not diffs, f"{len(diffs)} of {len(golden)} answers changed, first: {diffs[0]}"


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    entries = answers(train_ensembles(spark))
    spark.stop()
    with open(GOLDEN, "w") as f:
        f.write(render(entries))
    raised = sum("raises" in e for e in entries)
    print(f"wrote {len(entries)} entries to {GOLDEN}; {raised} record an exception")
