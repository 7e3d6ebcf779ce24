"""Seeded request streams built from the committed query corpora.

Every workload draws its requests from ``--seed``: query literals are
perturbed, delta slices and the dedup index/probe split are chosen,
and the same seed always yields the same stream. The templates are the
reference-grammar corpora under ``benchmarks/fixture-light`` and
``benchmarks/fixture-ssb``; they mix 1-5-table joins, OR groups and
GROUP BY, so multi-SPN factorized answers form the estimate tail.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections import Counter

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CORPORA = [
    "benchmarks/fixture-light/fixture_light_queries.sql",
    "benchmarks/fixture-light/aqp_queries.sql",
    "benchmarks/fixture-ssb/ssb_cardinality_queries.sql",
    "benchmarks/fixture-ssb/ssb_aqp_queries.sql",
]
_STRING = re.compile(r"'[^']*'")
_DATE = re.compile(r"DATE '(\d{4})-(\d{2})-(\d{2})'")
# one pass: a BETWEEN pair moves as a unit, any other number alone
_LITERAL = re.compile(
    r"BETWEEN (\d+(?:\.\d+)?) AND (\d+(?:\.\d+)?)|(?<![\w.#'])(\d+(?:\.\d+)?)(?![\w.'])"
)


def load_templates() -> list[str]:
    out: list[str] = []
    for rel in _CORPORA:
        with open(os.path.join(ROOT, rel)) as f:
            out.extend(line.strip() for line in f if line.strip())
    return out


def tables_of(sql: str) -> list[str]:
    head = sql.split(" FROM ", 1)[1].split(" WHERE ")[0].split(" GROUP BY ")[0]
    return [t.strip().split()[0] for t in head.split(",")]


def is_count(sql: str) -> bool:
    return sql.startswith("SELECT COUNT(*) FROM") and " GROUP BY " not in sql


def _shift_number(text: str, steps: int) -> str:
    decimals = len(text.split(".")[1]) if "." in text else 0
    value = float(text)
    if decimals:
        step = 10.0 ** -decimals
    else:
        step = 10.0 ** max(0, len(text) - 2)
    return f"{max(0.0, value + steps * step):.{decimals}f}"


def perturb(sql: str, rng: np.random.Generator) -> str:
    """Move every numeric and date literal by a few steps of its own
    precision. String literals stay (they name dictionary values);
    both ends of a BETWEEN move together so the range stays valid."""
    month_shift = int(rng.integers(-12, 13))

    def date(m: re.Match) -> str:
        y, mo = int(m.group(1)), int(m.group(2)) - 1 + month_shift
        day = min(int(m.group(3)), 28)  # valid in every month
        return f"DATE '{dt.date(y + mo // 12, mo % 12 + 1, day):%Y-%m-%d}'"

    def literal(m: re.Match) -> str:
        k = int(rng.integers(-3, 4))
        if m.group(3) is not None:
            return _shift_number(m.group(3), k)
        return f"BETWEEN {_shift_number(m.group(1), k)} AND {_shift_number(m.group(2), k)}"

    # dates are matched on the unsplit text (their literal is quoted)
    sql = _DATE.sub(date, sql)
    parts = _STRING.split(sql)
    strings = _STRING.findall(sql)
    out = []
    for i, part in enumerate(parts):
        out.append(_LITERAL.sub(literal, part))
        if i < len(strings):
            out.append(strings[i])
    return "".join(out)


def query_epoch(templates: list[str], seed: int) -> list[str]:
    """One pass over ``templates`` in a seeded order with seeded
    literals, so whole epochs have the same template mix whatever the
    seed."""
    rng = np.random.default_rng([seed, 1])
    return [perturb(templates[j], rng) for j in rng.permutation(len(templates))]


def stream_profile(queries: list[str]) -> dict:
    """Shape of a generated stream: tables-per-query histogram and the
    share of grouped and aggregate (non-COUNT) queries."""
    n = max(1, len(queries))
    return {
        "queries": len(queries),
        "tables_per_query": dict(sorted(Counter(len(tables_of(q)) for q in queries).items())),
        "group_by_share": round(sum(" GROUP BY " in q for q in queries) / n, 4),
        "aqp_share": round(sum(not is_count(q) and " GROUP BY " not in q for q in queries) / n, 4),
        "or_group_share": round(sum(" OR " in q for q in queries) / n, 4),
    }


def slice_predicate(key_sql: str, seed: int, buckets: int, salt: int) -> str:
    """A seeded 1-in-``buckets`` slice over an integer key, written in
    SQL that Spark and DuckDB evaluate identically (plain int64
    arithmetic, no engine-specific hash)."""
    rng = np.random.default_rng([seed, salt])
    mult = int(rng.integers(1_000, 1_000_000)) * 2 + 1
    pick = int(rng.integers(0, buckets))
    return f"((({key_sql}) * {mult} + {pick * 7 + 3}) % 1000003) % {buckets} = {pick}"
