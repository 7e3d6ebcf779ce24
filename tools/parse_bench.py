"""Parse micro-benchmark: CPU time per ``parse_query`` call.

Parses the 101 ``estimate`` templates (the fixture corpora's queries
over lineitem, orders and customer) times 40 seeded literal
perturbations and reports ``time.thread_time`` per call, the minimum
over 5 passes. With ``--against`` it measures a second checkout's
parser in the same process, the two taking turns every 101 queries,
so both numbers see the same host state:

    python tools/parse_bench.py --against /path/to/parent/checkout

Only ``deepdb_public_spark/plans`` of each checkout is imported (it
needs no Spark). ``parse_query`` itself keeps no memo, so these
numbers are the parser's. The report also holds the cost of a hit in
this checkout's ``Engine.parse`` memo (every perturbed query parsed
once, then timed again, minimum over the passes) and the share of the
perturbed stream whose exact text repeats an earlier query. It goes,
with host context, to PARSE_BENCH.json.
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib
import importlib.util
import json
import os
import platform
import re
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPORA = [
    "benchmarks/fixture-light/fixture_light_queries.sql",
    "benchmarks/fixture-light/aqp_queries.sql",
    "benchmarks/fixture-ssb/ssb_cardinality_queries.sql",
    "benchmarks/fixture-ssb/ssb_aqp_queries.sql",
]
TABLES = {"lineitem", "orders", "customer"}
PERTURBATIONS = 40
PASSES = 5

_STRING = re.compile(r"'[^']*'")
_DATE = re.compile(r"DATE '(\d{4})-(\d{2})-(\d{2})'")
_LITERAL = re.compile(
    r"BETWEEN (\d+(?:\.\d+)?) AND (\d+(?:\.\d+)?)|(?<![\w.#'])(\d+(?:\.\d+)?)(?![\w.'])"
)


def templates() -> list[str]:
    out = []
    for rel in CORPORA:
        with open(os.path.join(HERE, rel)) as f:
            for line in f:
                sql = line.strip()
                head = sql.split(" FROM ", 1)[1].split(" WHERE ")[0].split(" GROUP BY ")[0]
                if sql and {t.strip().split()[0] for t in head.split(",")} <= TABLES:
                    out.append(sql)
    return out


def _shift_number(text: str, steps: int) -> str:
    decimals = len(text.split(".")[1]) if "." in text else 0
    step = 10.0 ** -decimals if decimals else 10.0 ** max(0, len(text) - 2)
    return f"{max(0.0, float(text) + steps * step):.{decimals}f}"


def perturb(sql: str, rng: np.random.Generator) -> str:
    """Move every numeric and date literal by a few steps of its own
    precision (the estimate workload's read perturbation)."""
    month_shift = int(rng.integers(-12, 13))

    def date(m: re.Match) -> str:
        y, mo = int(m.group(1)), int(m.group(2)) - 1 + month_shift
        day = min(int(m.group(3)), 28)
        return f"DATE '{dt.date(y + mo // 12, mo % 12 + 1, day):%Y-%m-%d}'"

    def literal(m: re.Match) -> str:
        k = int(rng.integers(-3, 4))
        if m.group(3) is not None:
            return _shift_number(m.group(3), k)
        return f"BETWEEN {_shift_number(m.group(1), k)} AND {_shift_number(m.group(2), k)}"

    sql = _DATE.sub(date, sql)
    parts, strings = _STRING.split(sql), _STRING.findall(sql)
    out = []
    for i, part in enumerate(parts):
        out.append(_LITERAL.sub(literal, part))
        if i < len(strings):
            out.append(strings[i])
    return "".join(out)


def host() -> dict:
    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    return {
        "nproc": os.cpu_count(),
        "cpu": cpu,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def perturbed_stream() -> list[str]:
    base = templates()
    return [
        perturb(t, np.random.default_rng([k, j]))
        for k in range(PERTURBATIONS)
        for j, t in enumerate(base)
    ]


def load_parser(root: str, alias: str):
    """(parse_query, schema) from ``root``'s plans package, imported
    under ``alias`` so two checkouts load side by side."""
    pkg = os.path.join(root, "deepdb_public_spark", "plans")
    spec = importlib.util.spec_from_file_location(
        alias, os.path.join(pkg, "__init__.py"), submodule_search_locations=[pkg]
    )
    module = importlib.util.module_from_spec(spec)
    sys.modules[alias] = module
    spec.loader.exec_module(module)
    parser = importlib.import_module(f"{alias}.parser")
    schema = importlib.import_module(f"{alias}.schema")
    return parser.parse_query, schema.tpch_like_schema()


def measure(roots: dict[str, str]) -> dict:
    base = templates()
    queries = perturbed_stream()
    parsers = {label: load_parser(root, f"_plans_{label}") for label, root in roots.items()}
    passes: dict[str, list[float]] = {label: [] for label in parsers}
    chunks = [queries[k: k + len(base)] for k in range(0, len(queries), len(base))]
    for parse, schema in parsers.values():  # warm-up pass over every template
        for q in chunks[0]:
            parse(q, schema)
    for _ in range(PASSES):
        # the parsers take turns chunk by chunk, so a drift in the
        # host's speed during a pass reaches both alike
        cpu = dict.fromkeys(parsers, 0.0)
        for chunk in chunks:
            for label, (parse, schema) in parsers.items():
                t0 = time.thread_time()
                for q in chunk:
                    parse(q, schema)
                cpu[label] += time.thread_time() - t0
        for label in parsers:
            passes[label].append(cpu[label] / len(queries) * 1e3)
    return {
        label: {
            "parse_ms_per_call": round(min(p), 5),
            "pass_ms_per_call": [round(x, 5) for x in p],
        }
        for label, p in passes.items()
    } | {"templates": len(base), "parses_per_pass": len(queries)}


def measure_memo(queries: list[str]) -> dict:
    """CPU time per ``Engine.parse`` memo hit in this checkout. The
    Engine is built without Spark: parse needs only the schema and
    the memo, which ``Engine.__init__`` would create next to a Spark
    catalog."""
    sys.path.insert(0, HERE)
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.plans.schema import tpch_like_schema

    engine = object.__new__(Engine)
    engine.schema, engine._parse_memo = tpch_like_schema(), {}
    engine.parse_hits = engine.parse_misses = 0
    for q in queries:  # the misses: every distinct text once
        engine.parse(q)
    passes = []
    for _ in range(PASSES):
        t0 = time.thread_time()
        for q in queries:
            engine.parse(q)
        passes.append((time.thread_time() - t0) / len(queries) * 1e3)
    distinct = len(set(queries))
    assert engine.parse_misses == distinct, "a timed Engine.parse call missed the memo"
    return {
        "memo_hit_ms_per_call": round(min(passes), 6),
        "exact_repeat_share": round(1 - distinct / len(queries), 4),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--against", help="a second checkout (e.g. the parent commit) to measure alongside")
    ap.add_argument("--out", default=os.path.join(HERE, "PARSE_BENCH.json"))
    args = ap.parse_args()
    roots = {"change": HERE}
    if args.against:
        roots = {"parent": args.against, "change": HERE}
    report = measure(roots) | measure_memo(perturbed_stream())
    if args.against:
        report["change_over_parent"] = round(
            report["change"]["parse_ms_per_call"] / report["parent"]["parse_ms_per_call"], 4
        )
    report["measured_at"] = dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")
    report["host"] = host()
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    for label in roots:
        print(f"{label}: {report[label]['parse_ms_per_call']:.4f} ms per parse_query call")
    if args.against:
        print(f"change / parent: {report['change_over_parent']:.3f}")
    print(f"memo hit: {report['memo_hit_ms_per_call']:.6f} ms per Engine.parse call; "
          f"exact-text repeats: {report['exact_repeat_share']:.1%} of the stream")


if __name__ == "__main__":
    main()
