"""Golden Query IR for the parser: every committed corpus template plus
seeded literal-perturbed copies (negative numbers, shifted DATE
literals, strings holding AND / OR / commas / parens / '' escapes)
and a hand-written set of grammar shapes, parsed and serialized to a
canonical JSON form (sets sorted: their iteration order follows
PYTHONHASHSEED). The parser must reproduce tests/parser_golden_ir.json
byte for byte.

Regenerate (only when an IR change is intended):

    python -m tests.test_parser_golden
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re

from deepdb_public_spark.plans.parser import parse_query
from deepdb_public_spark.plans.query import Condition, Query
from deepdb_public_spark.plans.schema import tpch_like_schema

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "parser_golden_ir.json")
CORPORA = [
    "benchmarks/fixture-light/fixture_light_queries.sql",
    "benchmarks/fixture-light/aqp_queries.sql",
    "benchmarks/fixture-ssb/ssb_cardinality_queries.sql",
    "benchmarks/fixture-ssb/ssb_aqp_queries.sql",
]
PERTURBED_COPIES = 2

# grammar shapes the corpora do not cover: aliases, keyword case,
# whitespace, quoting, redundant parens, HAVING, NULL tests, negated
# predicates, arithmetic aggregates, cross-column OR groups
EXTRA = [
    "SELECT COUNT(*) FROM orders o, lineitem l WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'",
    "select count(*) from orders o, lineitem l where l.l_orderkey = o.o_orderkey and l.l_tax between 0.01 and 0.05",
    "SELECT COUNT(*) AS c\nFROM part\nWHERE part.p_size\n< 20 AND\tpart.p_type = 'a  b'",
    "SELECT COUNT(*) FROM orders WHERE orders.o_shippriority = 1 AND(orders.o_custkey = 2)",
    "SELECT COUNT(*) FROM orders WHERE (orders.o_custkey = 3 AND orders.o_shippriority = 0)",
    "SELECT COUNT(*) FROM orders WHERE ((orders.o_custkey = 3)) AND (orders.o_totalprice > 5 OR orders.o_totalprice < 2)",
    "SELECT COUNT(*) FROM orders WHERE orders.o_orderstatus != 'F' AND orders.o_totalprice IS NOT NULL",
    "SELECT COUNT(*) FROM orders WHERE orders.o_orderstatus <> 'F' AND orders.o_comment IS NULL",
    "SELECT COUNT(*) FROM orders WHERE orders.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')",
    "SELECT COUNT(*) FROM orders WHERE orders.o_orderpriority IN (\"a,b\", \"c\")",
    "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_quantity NOT BETWEEN 10 AND 20",
    "SELECT COUNT(*) FROM part WHERE part.p_type NOT LIKE '%BRASS' AND part.p_name LIKE 'a_%'",
    "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_quantity IN (1, 2, 3) AND lineitem.l_tax = 0.07",
    "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_quantity > -5 AND lineitem.l_discount >= +0.02",
    "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_extendedprice < 1e5 AND lineitem.l_tax <= .05",
    "SELECT COUNT(*) FROM lineitem WHERE lineitem.l_shipdate >= date '1997-01-01'",
    "SELECT COUNT(*) FROM customer WHERE customer.c_mktsegment = BUILDING",
    "SELECT COUNT(*) FROM customer WHERE customer.c_name = 'ROCK AND ROLL OR NOT' AND customer.c_acctbal > 0;",
    "SELECT COUNT(*) FROM customer WHERE customer.c_name IN ('A, B', 'C', 'it''s')",
    "SELECT COUNT(*) FROM part WHERE part.p_type BETWEEN 'x' AND 'A AND B'",
    "SELECT COUNT(*) FROM part WHERE part.p_type = 'x GROUP BY y'",
    "SELECT COUNT(*) FROM lineitem WHERE (lineitem.l_quantity < 5 OR lineitem.l_quantity BETWEEN 20 AND 25 OR lineitem.l_quantity > 45)",
    "SELECT COUNT(*) FROM lineitem WHERE (lineitem.l_quantity < 10 or lineitem.l_discount > 0.08 or lineitem.l_returnflag = 'R')",
    "SELECT COUNT(*) FROM orders, lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND (orders.o_orderstatus = 'F' OR lineitem.l_returnflag IN ('A', 'R'))",
    "SELECT COUNT(*) FROM lineitem WHERE (lineitem.l_quantity < 10 OR lineitem.l_quantity IS NULL) AND (lineitem.l_tax = 0 OR lineitem.l_tax = 0.08)",
    "SELECT SUM(lineitem.l_extendedprice * lineitem.l_discount) - SUM(lineitem.l_tax) AS d FROM lineitem",
    "SELECT SUM(lineitem.l_quantity) + AVG(lineitem.l_tax) - COUNT(*) FROM lineitem WHERE lineitem.l_tax > 0",
    "SELECT COUNT(lineitem.l_tax), AVG(lineitem.l_quantity) AS aq FROM lineitem",
    "SELECT COUNT(DISTINCT lineitem.l_partkey) FROM lineitem WHERE lineitem.l_quantity < 10",
    "SELECT SUM(o_totalprice) FROM orders WHERE orders.o_orderstatus = 'O'",
    "SELECT lineitem.l_returnflag, COUNT(*) AS cnt, SUM(lineitem.l_quantity) AS q FROM lineitem GROUP BY lineitem.l_returnflag HAVING cnt > 100 AND q <= 5.5",
    "SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS cnt FROM lineitem l GROUP BY l.l_returnflag, l.l_linestatus HAVING cnt != 3",
    "SELECT customer.c_mktsegment, COUNT(*) AS n FROM customer, orders WHERE customer.c_custkey = orders.o_custkey GROUP BY customer.c_mktsegment HAVING n >= 'x'",
    "SELECT COUNT(*) FROM lineitem, orders, customer, nation, region WHERE lineitem.l_orderkey = orders.o_orderkey AND orders.o_custkey = customer.c_custkey AND customer.c_nationkey = nation.n_nationkey AND nation.n_regionkey = region.r_regionkey AND region.r_name = 'MIDDLE EAST'",
    "SELECT COUNT(*) FROM events, customer WHERE events.user_id = customer.c_custkey AND events.event_type = 'click' AND events.value BETWEEN 1.5 AND 10",
    "SELECT COUNT(*) FROM lineitem",
    "  SELECT  COUNT( * )  FROM  lineitem  WHERE  lineitem.l_quantity=5  ",
]


def _canon_value(v):
    if isinstance(v, Condition):
        return {"table": v.table, "column": v.column, "op": v.op, "value": _canon_value(v.value)}
    if isinstance(v, tuple):
        return {"tuple": [_canon_value(x) for x in v]}
    if isinstance(v, list):
        return [_canon_value(x) for x in v]
    return None if v is None else repr(v)


def canonical_ir(q: Query) -> dict:
    return {
        "query_type": q.query_type.name,
        "table_set": sorted(q.table_set),
        "relationship_set": sorted(q.relationship_set),
        "conditions": [_canon_value(c) for c in q.conditions],
        "group_bys": [list(g) for g in q.group_bys],
        "aggregations": [
            {
                "op_type": a.op_type.name,
                "agg_type": a.agg_type.name if a.agg_type else None,
                "operands": [list(o) for o in a.operands],
                "alias": a.alias,
                "distinct": a.distinct,
            }
            for a in q.aggregations
        ],
        "having": [[a, op, _canon_value(v)] for a, op, v in q.having],
    }


_STRING = re.compile(r"'[^']*'")
_DATE = re.compile(r"DATE '(\d{4})-(\d{2})-(\d{2})'", re.IGNORECASE)
_LITERAL = re.compile(
    r"BETWEEN (\d+(?:\.\d+)?) AND (\d+(?:\.\d+)?)|(?<![\w.#'+-])(\d+(?:\.\d+)?)(?![\w.'])"
)
# string contents that look like grammar
_TRICKY = [
    "A AND B", "x OR y", "a, b", "(c", "d)", "it''s", "NOT z", "GROUP BY w",
    "1 BETWEEN 2", "LIMIT 3", "", "'' AND ''", "p IN (q)", "=<>",
]


def _number(text: str, rng: random.Random) -> str:
    decimals = len(text.split(".")[1]) if "." in text else 0
    step = 10.0 ** -decimals if decimals else 10.0 ** max(0, len(text) - 2)
    value = float(text) + rng.randint(-3, 3) * step
    if rng.random() < 0.25:
        value = -abs(value) - step
    return f"{value:.{decimals}f}"


def perturb(sql: str, rng: random.Random) -> str:
    months = rng.randint(-14, 14)

    def date(m: re.Match) -> str:
        y, mo = int(m.group(1)), int(m.group(2)) - 1 + months
        day = min(int(m.group(3)), 28)
        return f"DATE '{dt.date(y + mo // 12, mo % 12 + 1, day):%Y-%m-%d}'"

    def literal(m: re.Match) -> str:
        if m.group(3) is not None:
            return _number(m.group(3), rng)
        return f"BETWEEN {_number(m.group(1), rng)} AND {_number(m.group(2), rng)}"

    def string(s: str) -> str:
        return "'" + rng.choice(_TRICKY) + "'" if rng.random() < 0.5 else s

    sql = _DATE.sub(date, sql)
    parts, strings = _STRING.split(sql), _STRING.findall(sql)
    out = []
    for i, part in enumerate(parts):
        out.append(_LITERAL.sub(literal, part))
        if i < len(strings):
            s = strings[i]
            # a DATE literal's string is its value, not free text
            out.append(s if re.search(r"DATE\s*$", part, re.IGNORECASE) else string(s))
    return "".join(out)


def _templates() -> list[str]:
    base = []
    for rel in CORPORA:
        with open(os.path.join(ROOT, rel)) as f:
            base.extend(line.strip() for line in f if line.strip())
    return base + EXTRA


def corpus() -> list[str]:
    base = _templates()
    rng = random.Random(20261019)
    out = list(base)
    for _ in range(PERTURBED_COPIES):
        out.extend(perturb(sql, rng) for sql in base)
    return out


def render(entries: list[dict]) -> str:
    lines = [json.dumps(e, sort_keys=True) for e in entries]
    return "[\n" + ",\n".join(lines) + "\n]\n"


def _golden_entries() -> list[dict]:
    with open(GOLDEN) as f:
        return json.load(f)


def test_golden_ir_reproduced_byte_for_byte():
    schema = tpch_like_schema()
    golden = _golden_entries()
    assert len(golden) > 500
    got = [{"sql": e["sql"], "ir": canonical_ir(parse_query(e["sql"], schema))} for e in golden]
    diffs = [(e["sql"], e["ir"], g["ir"]) for e, g in zip(golden, got) if e["ir"] != g["ir"]]
    assert not diffs, f"{len(diffs)} IR mismatches, first: {diffs[0]}"
    with open(GOLDEN) as f:
        assert render(got) == f.read()


def test_golden_covers_every_template():
    sqls = {e["sql"] for e in _golden_entries()}
    templates = corpus()[: len(_templates())]
    assert len(templates) == 189 + len(EXTRA)
    assert set(templates) <= sqls


if __name__ == "__main__":
    schema = tpch_like_schema()
    entries, skipped = [], []
    for sql in corpus():
        try:
            entries.append({"sql": sql, "ir": canonical_ir(parse_query(sql, schema))})
        except ValueError as e:
            skipped.append((sql, str(e)))
    with open(GOLDEN, "w") as f:
        f.write(render(entries))
    print(f"wrote {len(entries)} entries to {GOLDEN}; skipped {len(skipped)}")
    for sql, err in skipped:
        print(f"  skipped: {sql}\n    {err}")
