"""Per-entry profiler for the optimization rounds (guide §1: measure
first). For each named entry, replicate bench.py's methodology (warm
engine, first run excluded, timed reps with lifecycle.release between),
but with the Spark UI enabled so the REST API yields a per-job
breakdown: how many jobs a rep launches and where its wall time goes.

Usage:
    python tools/profile_entry.py x68_ivfpq_topk m10_update_in_place ...
    SPARK_GRAFT_PROFILE_REPS=3 python tools/profile_entry.py x05

Entry names are prefix-matched against the registry. Output: one
human-readable block per entry (first/rep seconds, job count per rep,
top jobs by duration with their descriptions) plus a JSON line for
scripting.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from pyspark.sql import SparkSession


def _jobs(ui_port: int) -> list[dict]:
    base = f"http://localhost:{ui_port}/api/v1/applications"
    with urllib.request.urlopen(base, timeout=10) as r:
        apps = json.load(r)
    app_id = apps[0]["id"]
    with urllib.request.urlopen(f"{base}/{app_id}/jobs?status=succeeded", timeout=10) as r:
        jobs = json.load(r)
    with urllib.request.urlopen(f"{base}/{app_id}/jobs?status=failed", timeout=10) as r:
        jobs += json.load(r)
    return jobs


def main() -> None:
    prefixes = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not prefixes:
        print("usage: profile_entry.py <entry-prefix> [...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "2"))
    ui_port = int(os.environ.get("SPARK_GRAFT_PROFILE_UI_PORT", "4050"))

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("deepdb_profile")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(ui_port))
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entry_mod
    from deepdb_public_spark.operators.lifecycle import release

    queries = entry_mod.queries()
    names = [n for n in queries if any(n.startswith(p) for p in prefixes)]
    if not names:
        print(f"no entries match {prefixes}", file=sys.stderr)
        sys.exit(2)

    eng = entry_mod._engine(spark, sf_dir)
    for df in eng.catalog.values():
        df.selectExpr("count(1)").collect()

    summary = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"{name}: first")
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).collect()
        first = time.perf_counter() - t0
        release()
        rep_times = []
        rep_jobs = []
        for rep in range(reps):
            before = {j["jobId"] for j in _jobs(ui_port)}
            spark.sparkContext.setJobDescription(f"{name}: rep{rep}")
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).collect()
            rep_times.append(time.perf_counter() - t0)
            release()
            after = _jobs(ui_port)
            new = [j for j in after if j["jobId"] not in before]
            rep_jobs.append(new)
        spark.sparkContext.setJobDescription(None)
        best = min(range(reps), key=lambda i: rep_times[i])
        jobs = sorted(rep_jobs[best], key=lambda j: j["jobId"])
        def _dur(j):
            try:
                from datetime import datetime
                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                t1 = datetime.strptime(j["submissionTime"], fmt)
                t2 = datetime.strptime(j["completionTime"], fmt)
                return (t2 - t1).total_seconds()
            except Exception:
                return -1.0
        print(f"\n=== {name}: first={first:.3f}s reps={[round(t,3) for t in rep_times]} "
              f"jobs/rep={len(jobs)}")
        for j in jobs:
            print(f"  job {j['jobId']:>4} {_dur(j):7.3f}s stages={len(j.get('stageIds', []))} "
                  f"tasks={j.get('numTasks', '?'):>5} {j.get('description') or j.get('name', '')!s:.110}")
        summary[name] = {
            "first": round(first, 3),
            "reps": [round(t, 3) for t in rep_times],
            "min": round(min(rep_times), 3),
            "jobs_per_rep": len(jobs),
            "job_secs": [round(_dur(j), 3) for j in jobs],
        }
    print("\nPROFILE " + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
