"""Full-registry correctness self-check: every `queries()` entry vs
its `oracle_sql()` twin on DuckDB, the driver's compare re-implemented
(sort columns by name, rows by value, exact value compare). Run it
after any operator change and before committing; the committed
CORRECTNESS_full_r{N}.json complements the driver's own record (which
was observed to cap at the first 50 registry entries in round 2).

Usage:
    python oracle_check.py [--sf-dir /root/testdata/sf0.01] \
        [--out CORRECTNESS_full.json] [--only q01_x,q02_y] [--cpus 8]

Never run concurrently with bench.py (CPU contention skews timings
and can time out streaming-ish entries).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    """Normalize a cell for cross-engine compare (driver-style)."""
    import datetime
    import decimal

    import numpy as np

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 2**53:
            return int(v)
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None, help="comma-separated entry names")
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("oracle_check")
        .config("spark.sql.shuffle.partitions", args.cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    report: dict[str, dict] = {}
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        rec: dict = {}
        try:
            df = fn(spark, args.sf_dir)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
            rec["spark_rows"] = len(s_rows)
            if name in oracles:
                o = con.execute(oracles[name])
                o_cols = [d[0] for d in o.description]
                o_rows = o.fetchall()
                rec["oracle_rows"] = len(o_rows)
                sc, sr = _canon(s_cols, s_rows)
                oc, orows = _canon(o_cols, o_rows)
                rec["rows_match"] = len(sr) == len(orows)
                rec["schema_match"] = sc == oc
                rec["hash_match"] = sr == orows
                if not rec["hash_match"]:
                    bad = next(
                        (i for i, (a, b) in enumerate(zip(sr, orows)) if a != b),
                        min(len(sr), len(orows)),
                    )
                    rec["first_diff"] = {
                        "row": bad,
                        "spark": repr(sr[bad]) if bad < len(sr) else None,
                        "oracle": repr(orows[bad]) if bad < len(orows) else None,
                    }
                    n_fail += 1
                elif not (rec["rows_match"] and rec["schema_match"]):
                    n_fail += 1
                rec["err"] = None
            else:
                rec.update(
                    rows_match=None, schema_match=None, hash_match=None,
                    oracle_rows=None, err="no_oracle",
                )
        except Exception as e:  # noqa: BLE001 — record and continue
            rec.update(err=f"{type(e).__name__}: {e}")
            n_fail += 1
        rec["secs"] = round(time.perf_counter() - t0, 2)
        report[name] = rec
        # session hygiene between entries (mirrors bench.py): drop
        # operator-persisted intermediates so 78 entries don't
        # compound executor-memory pressure
        try:
            from deepdb_public_spark.operators.lifecycle import release

            release()
        except Exception:
            pass
        status = (
            "FAIL" if rec.get("err") not in (None, "no_oracle")
            else ("ok" if rec.get("hash_match") else rec.get("err") or "MISMATCH")
        )
        if rec.get("hash_match") is False:
            status = "MISMATCH"
        print(f"{name:28s} {status:10s} {rec['secs']:7.2f}s", flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    n_oracle = sum(1 for r in report.values() if r.get("err") is None)
    n_hash = sum(1 for r in report.values() if r.get("hash_match"))
    print(
        f"\n{len(report)} entries: {n_hash}/{n_oracle} oracle-checked pass, "
        f"{sum(1 for r in report.values() if r.get('err') == 'no_oracle')} rows-only, "
        f"{n_fail} failures"
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
