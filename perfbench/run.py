"""Benchmark entry point.

    python3 perfbench/run.py --workload estimate --seed 1 --seconds 5 --trace 0

Runs one workload (see workloads.py and BENCHMARK.json) as a closed
loop with one client against a local Spark session with one executor
thread per two CPUs, checks the outputs against DuckDB, and prints a
report line and then, as the last line, the result object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, from spans recorded around the program's layers (tracing.py) and
from the Spark event log.

Everything the run writes goes under ``perfbench/_work`` in the
checkout: the generated tables and the cached oracle rows, which later
runs reuse, and a per-run scratch directory (Spark's local dir, the
event log, the package zip Engine ships) removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

PER_LAYER = {
    "sources.catalog.load_s": "s",
    "operators.prep.join_sample_s": "s",
    "operators.prep.encode_s": "s",
    "spn.trainer.train_s": "s",
    "spn.trainer.spark_jobs": "count",
    "spn.learn.learn_s": "s",
    "plans.parser.parse_ms": "ms",
    "engine.self_ms": "ms",
    "spn.ensemble.answer_self_ms": "ms",
    "spn.ensemble.models_per_query": "count",
    "spn.ensemble.size_mb": "MB",
    "spn.model.eval_self_ms": "ms",
    "spn.model.cache_entries": "count",
    "spn.nodes.tree_walks_per_query": "count",
    "spn.incremental.delta_self_ms": "ms",
    "spn.incremental.spark_jobs_per_delta": "count",
    "plans.compiler.compile_ms": "ms",
    "spark.catalyst_ms": "ms",
    "spark.jobs_per_call": "count",
    "spark.stages_per_call": "count",
    "spark.tasks_per_call": "count",
    "spark.scheduler_delay_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "spark.collect_ms": "ms",
    "spark.failed_tasks": "count",
    "operators.dedup.jaccard_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.clusters_s": "s",
    "operators.dedup.index_probe_s": "s",
    "operators.dedup.spark_jobs": "count",
    "operators.curation.curate_s": "s",
    "operators.filters.repetition_s": "s",
    "trace.coverage_pct": "%",
    "trace.overhead_pct": "%",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Context:
    def __init__(self, args, spark, tracer, data_dir: str) -> None:
        self.seed, self.spark, self.tracer, self.data_dir = args.seed, spark, tracer, data_dir
        self.work_dir = WORK


def start_spark(cpus: int, local: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed, pre-touched heap: the JVM's resident size then does
        # not depend on when its collector last ran, so peak_rss_mb
        # moves with the Python processes and the JVM's non-heap memory
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(local, "warehouse"))
        # no hsperfdata file: the JVM would write it to /tmp
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
        )
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{event_dir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def process_tree() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields after the command name, for this
    process and every descendant (the Spark JVM and its Python workers)."""
    children, stats = defaultdict(list), {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                children[int(fields[1])].append(int(pid))
                stats[int(pid)] = fields
            except (OSError, IndexError, ValueError):
                continue
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def peak_rss_mb() -> float:
    """High-water RSS of the process tree, each process's own peak, summed."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


CLOCK_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU time of the process tree so far: user and system time of
    each process and of its reaped children (Python workers that
    exited). The kernel leaves the hypervisor's steal out of it."""
    return sum(sum(int(x) for x in f[11:15]) for f in process_tree().values()) / CLOCK_TICK


def cpu_loop_ms() -> float:
    """A fixed pure-Python loop, timed: the host's speed at this moment.
    Reported before and after the run so that a slow or noisy window
    shows in the artifact (it normalizes nothing)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1e3


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two readings that the
    hypervisor gave to other guests while this one wanted to run."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / sum(delta) if sum(delta) else 0.0


def host_context(data_dir: str) -> dict:
    import duckdb
    import numpy
    import pyspark

    import datagen

    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
        "parquet_sha256": datagen.fingerprints(data_dir),
    }


def run_loop(w, tracer, seconds: float, trace: bool):
    samples, failures = [], []
    parity: Counter = Counter()
    gen = w.requests()
    deadline = time.perf_counter() + seconds
    req = None
    while req is None or not req.ends_cycle or time.perf_counter() < deadline:
        req = next(gen)
        # per request kind, untraced/traced in ABBA order, so a steady
        # drift (JIT, caches filling) cancels out of the overhead
        traced = trace and (not req.abba or parity[req.kind] % 4 in (1, 2))
        parity[req.kind] += 1
        if trace and traced != tracer.enabled:
            tracer.install() if traced else tracer.uninstall()
        # CPU time: of this thread for in-process calls (fine-grained),
        # of the whole process tree for calls that run Spark jobs
        cpu_clock = tree_cpu_s if req.spark else time.thread_time
        c0 = cpu_clock()
        t0 = time.perf_counter()
        sid = tracer.begin("request", spark=req.spark, request=True)
        inner = tracer.begin(req.span, spark=req.spark) if req.span else None
        err = None
        try:
            req.result = req.call()
        except Exception as e:  # a refusal or crash is a failed request, not a dead run
            err = f"{type(e).__name__}: {e}"
        finally:
            tracer.end(inner)
            tracer.end(sid)
        dt = time.perf_counter() - t0
        cpu = cpu_clock() - c0
        if err is None and req.check is not None:
            err = req.check(req.result)
        if err is None:
            w.record(req)
        else:
            failures.append({"input": req.label[:400], "error": err[:400]})
        samples.append((req.kind, req.primary, dt, traced, err is None, cpu))
    tracer.uninstall()
    return samples, failures


def end_to_end(w, setup_s: float, samples, rss) -> tuple[dict, dict]:
    from workloads import CPU, WALL, percentile, tail_percentile

    lat = w.latencies(samples, CPU)
    q = w.qerrors or [1.0]
    metrics = {
        "setup_s": (setup_s, "s"),
        "cpu_p50_ms": (w.p50_ms(samples, CPU), "ms"),
        "cpu_tail_ms": (w.tail_ms(samples, CPU), "ms"),
        "items_per_cpu_s": (w.items_per_s(samples, CPU), "1/s"),
        "q_error_p50": (percentile(q, 50), "ratio"),
        "q_error_p95": (percentile(q, 95), "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    info = {
        "latency_samples": len(lat), "tail_percentile": tail_percentile(len(lat)),
        "qerror_samples": len(w.qerrors),
        # wall-clock figures, reported but not gated: they move with the
        # host's steal (see LAYERS.md)
        "wall": {
            "latency_p50_ms": w.p50_ms(samples, WALL),
            "latency_tail_ms": w.tail_ms(samples, WALL),
            "items_per_s": w.items_per_s(samples, WALL),
        },
        "requests_by_kind": dict(Counter(s[0] for s in samples)),
        "median_ms_by_kind": {
            k: round(statistics.median(s[2] for s in samples if s[0] == k) * 1e3, 4)
            for k in sorted({s[0] for s in samples})
        },
        "median_cpu_ms_by_kind": {
            k: round(statistics.median(s[5] for s in samples if s[0] == k) * 1e3, 4)
            for k in sorted({s[0] for s in samples})
        },
        **w.info(samples),
    }
    return metrics, info


def per_layer(w, tracer, setup_end: int, samples, events) -> tuple[dict, dict]:
    import tracing as tr

    spans = tracer.spans
    own = tr.self_times(spans)
    sub = tr.subtree_spark(spans, events)
    reqs = [i for i, s in enumerate(spans) if s[0] == "request"]
    n = max(1, len(reqs))
    setup_dur, loop_self, loop_count, loop_dur = defaultdict(float), defaultdict(float), Counter(), defaultdict(float)
    for i, s in enumerate(spans):
        if i < setup_end:
            setup_dur[s[0]] += s[2] - s[1]
        elif s[4] is not None:
            loop_self[s[0]] += own[i]
            loop_count[s[0]] += 1
            loop_dur[s[0]] += s[2] - s[1]
    mp_reqs = [r for r in reqs if tracer.models.get(r)]
    n_mp = max(1, len(mp_reqs))
    req_set = set(reqs)
    deltas = [i for i, s in enumerate(spans) if s[0] == "spn.incremental" and s[3] in req_set]
    dedup_ops = [i for i, s in enumerate(spans) if s[0].startswith("operators.dedup.")]
    trainer_spans = [i for i in range(setup_end) if spans[i][0] == "spn.trainer"]

    def req_sum(key):
        return sum(sub[r][key] for r in reqs if r in sub)

    def mean_dur(name):
        return loop_dur[name] / loop_count[name] if loop_count[name] else 0.0

    req_wall = sum(spans[r][2] - spans[r][1] for r in reqs)
    coverage = 100.0 * (1 - sum(own[r] for r in reqs) / req_wall) if req_wall else 0.0
    kinds = sorted({s[0] for s in samples})
    med = {
        (k, t): statistics.median([s[2] for s in samples if s[0] == k and s[3] == t])
        for k in kinds for t in (False, True)
        if any(s[0] == k and s[3] == t for s in samples)
    }
    count = Counter((s[0], s[3]) for s in samples)
    both = [k for k in kinds if count[k, False] >= 2 and count[k, True] >= 2]
    overhead = 100.0 * (sum(med[k, True] for k in both) / sum(med[k, False] for k in both) - 1) if both else 0.0
    values = {
        "sources.catalog.load_s": setup_dur["sources.catalog"],
        "operators.prep.join_sample_s": setup_dur["operators.prep.join_sample"],
        "operators.prep.encode_s": setup_dur["operators.prep.encode"],
        "spn.trainer.train_s": setup_dur["spn.trainer"],
        "spn.trainer.spark_jobs": sum(sub[i]["jobs"] for i in trainer_spans if i in sub),
        "spn.learn.learn_s": setup_dur["spn.learn"],
        "plans.parser.parse_ms": loop_self["plans.parser"] / n * 1e3,
        "engine.self_ms": loop_self["engine"] / n * 1e3,
        "spn.ensemble.answer_self_ms": loop_self["spn.ensemble"] / n * 1e3,
        "spn.ensemble.models_per_query": sum(len(tracer.models[r]) for r in mp_reqs) / n_mp,
        "spn.ensemble.size_mb": w.ensemble_mb(),
        "spn.model.eval_self_ms": loop_self["spn.model"] / n * 1e3,
        "spn.model.cache_entries": w.cache_entries(),
        "spn.nodes.tree_walks_per_query": loop_count["spn.nodes"] / n_mp if mp_reqs else 0.0,
        "spn.incremental.delta_self_ms": (
            sum(own[i] for i in range(setup_end, len(spans)) if spans[i][0] == "spn.incremental")
            / max(1, len(deltas)) * 1e3
        ),
        "spn.incremental.spark_jobs_per_delta": (
            sum(sub[i]["jobs"] for i in deltas if i in sub) / max(1, len(deltas))
        ),
        "plans.compiler.compile_ms": loop_self["plans.compiler"] / n * 1e3,
        "spark.catalyst_ms": statistics.fmean(getattr(w, "catalyst_ms", None) or [0.0]),
        "spark.jobs_per_call": req_sum("jobs") / n,
        "spark.stages_per_call": req_sum("stages") / n,
        "spark.tasks_per_call": req_sum("tasks") / n,
        "spark.scheduler_delay_ms": req_sum("scheduler_delay_ms") / n,
        "spark.executor_run_ms": req_sum("executor_run_ms") / n,
        "spark.shuffle_bytes": req_sum("shuffle_bytes") / n,
        "spark.collect_ms": loop_dur["spark.collect"] / n * 1e3,
        "spark.failed_tasks": sum(g["failed_tasks"] for g in events.values()),
        "operators.dedup.jaccard_s": mean_dur("operators.dedup.jaccard"),
        "operators.dedup.minhash_s": mean_dur("operators.dedup.minhash"),
        "operators.dedup.clusters_s": mean_dur("operators.dedup.clusters"),
        "operators.dedup.index_probe_s": mean_dur("operators.dedup.index_probe"),
        "operators.dedup.spark_jobs": (
            sum(sub[i]["jobs"] for i in dedup_ops if i in sub) / max(1, len(dedup_ops))
        ),
        "operators.curation.curate_s": mean_dur("operators.curation.curate"),
        "operators.filters.repetition_s": mean_dur("operators.filters.repetition"),
        "trace.coverage_pct": coverage,
        "trace.overhead_pct": overhead,
    }
    info = {
        "traced_requests": len(reqs),
        "conservation": {
            "coverage_pct": round(coverage, 3),
            "meets_90pct": coverage >= 90.0,
            "uncovered_pct": round(100.0 - coverage, 3),
        },
        "overhead_kinds": both,
        "self_ms_per_request": {k: round(v / n * 1e3, 4) for k, v in sorted(loop_self.items())},
    }
    return {k: (v, PER_LAYER[k]) for k, v in values.items()}, info


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import deepdb_public_spark  # noqa: F401  fail fast outside a repository checkout
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # per-run scratch (the package zip Engine ships, Spark's spill),
    # removed when the run ends
    scratch = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    try:
        return _run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(args, scratch: str) -> int:
    import duckdb

    import datagen
    import tracing as tr
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    phases, mark = {}, [time.perf_counter()]

    def phase(name):
        now = time.perf_counter()
        phases[name] = round(now - mark[0], 3)
        mark[0] = now

    load_before, loop_before, ticks_before = os.getloadavg(), cpu_loop_ms(), cpu_ticks()
    data_dir = datagen.ensure_tables(WORK, cls.sf)
    # one executor thread per two CPUs: a Python UDF task keeps its JVM
    # thread and its Python worker busy at once, so one per CPU would
    # run up to twice as many busy threads as CPUs (on a 4-vCPU host the
    # extra threads made the curation passes no faster)
    cpus = max(1, (os.cpu_count() or 1) // 2)
    event_dir = os.path.join(scratch, "eventlog") if args.trace else None
    spark = start_spark(cpus, scratch, event_dir)
    phase("start")
    try:
        tracer = tr.Tracer(spark)
        w = cls(Context(args, spark, tracer, data_dir))
        if args.trace:
            tracer.install()
        t0 = time.perf_counter()
        w.setup()
        setup_s = time.perf_counter() - t0
        setup_end = len(tracer.spans)
        tracer.uninstall()
        phase("setup")
        w.warmup()
        phase("warmup")
        samples, failures = run_loop(w, tracer, args.seconds, bool(args.trace))
        phase("loop")
        rss = peak_rss_mb()
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        check_failures = w.accuracy(con)
        phase("check")
        failures.extend({"input": "post-run check", "error": f[:400]} for f in check_failures)
        stream = w.describe()
        phase("describe")
    finally:
        stop_spark(spark)
    phase("stop")
    if args.trace:
        events = tr.spark_events(event_dir)
        metrics, info = per_layer(w, tracer, setup_end, samples, events)
    else:
        metrics, info = end_to_end(w, setup_s, samples, rss)
    phase("metrics")
    attempted = len(samples)  # a post-run check fails inputs already counted here
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "load": "closed loop, 1 client, local[%d]" % cpus,
        "stream": stream, "info": info, "phases_s": phases, "failures": failures,
        "host": {
            **host_context(data_dir),
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "steal_pct": steal_pct(ticks_before, cpu_ticks()),
            "cpu_loop_ms_before": loop_before, "cpu_loop_ms_after": cpu_loop_ms(),
        },
    }
    print("report " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
