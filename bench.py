"""Per-round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line. The driver records this as BENCH_r{N}.json.

The full JSON is ALSO written to $SPARK_GRAFT_BENCH_OUT (default
BENCH_full.json next to this script) so the artifact survives even if
the driver's stdout-tail window clips the printed line (observed in
round 4: the 103-key line got front-clipped). Commit a per-round copy
(BENCH_full_r{N}.json) for auditable round-over-round comparison.

Timing = full query wall time (plan + execute + collect), cache warm
(tables loaded + counted once first so parquet footers/JVM are warm,
as a cluster's second query would see).

Methodology v3 (round 9). The round-8 review measured +/-50% swings on
the >2s entries between full runs an hour apart (x20 committed 5.60s,
judge re-measures 3.3s warm) — medians of consecutive same-entry reps
inherit whatever machine contention happens to overlap that entry's
~10s window. Fix per the round-8 brief:

- the ENTIRE registry is run in $SPARK_GRAFT_BENCH_PASSES (default 2)
  complete back-to-back passes, $SPARK_GRAFT_BENCH_REPS (default 2)
  samples per entry per pass, so each entry's samples are spread
  across the whole run instead of clustered in one contention window;
- the headline per-entry number is the MIN over all samples. Scheduler
  and GC noise is one-sided — a stray pause can double an entry,
  nothing makes it run faster than its real cost — so the min is the
  honest estimate of the code's cost and is what an independent
  re-measurement should reproduce within noise. The cross-sample
  median is reported alongside in "queries_median";
- contention detector: if the two pass totals (per-pass min sums)
  diverge by more than 5%, one extra pass runs automatically and the
  artifact records "contention_detected": true with the per-pass
  totals, so a reviewer can see the run was noisy rather than trusting
  a silently inflated number. (A hard failure would leave the round
  with no artifact at all; a flagged artifact with min-of-3-passes is
  strictly more informative.)

Pre-round-9 artifacts report medians (min-of-5 for sub-2s entries in
round 8); round-over-round comparisons across the methodology change
should use the "queries_min" map, which all rounds since r05 emit.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession

# Documented floors for the two most expensive stable entries at
# sf0.1 (round-11 verdict: the contention detector compares pass
# totals, which a UNIFORM whole-run slowdown fools — the only
# flag-false round-11 run was the uniformly slow 150.9s one). These
# floors were measured across rounds 10-11 on quiet windows (x20
# ~3.3-4s via three clean runs + a judge re-bench; x05 ~9-10.5s via
# the round-11 three-way shave experiment documented in the entry
# docstring). A run whose MIN for a sentinel sits above its ceiling
# was slowed by something external for its entire duration — external
# evidence the pass-divergence detector cannot see.
# ROUND-12 RE-PIN: floors are a property of (code, DATA GENERATION),
# and the driver regenerated /root/testdata at round-12 start (all
# parquet mtimes moved). On the new generation the dup structure
# shifted both sentinels in opposite directions — x05 got FASTER
# (clean min ~8.4s vs the old-data 9.0-10.5 floor) and x20 SLOWER
# (clean min ~5.4-6.2s vs the old-data 3.3-4.5; the doc_id < 1000
# slice now carries a denser pair graph) — with zero dedup-code
# changes this round, so the old floors would misadjudicate every new
# run. Measured: x20 5.44 (bench run pre-load 0.21), 6.15/6.27
# standalone under residual load; x05 8.44/8.50 across two bench
# runs, 10.5-16.1 under load 5-10. Re-pin these on every testdata
# refresh before trusting a clean_run verdict.
# Round-13 hardening (judge item 4): a THIRD sentinel
# (x36_table_profile — a stable full-scan profile with no dedup
# structure sensitivity; observed clean mins 3.3-3.7 across the four
# r12 runs) plus MEDIAN-over-reps adjudication. The min-based check
# is one-sided — a contended run can still land one lucky fast rep
# (r12 run2: x36 min 2.94 INSIDE a flagged window) — while the
# median of 4 reps across both passes moves with sustained load
# (r12 contended x20 medians 9.4-10.4 vs clean 5.45). A run is clean
# iff load is quiet AND every sentinel's min AND median sit inside
# their ceilings. Median ceilings measured from the r12 clean run
# (x20 5.45, x05 9.80, x36 4.20) with ~30% headroom.
# ROUND-13 RE-PIN (all three): the driver regenerated /root/testdata
# at round-13 start (parquet mtimes 12:23 — the standing order above
# applies), and the optimization round moved x36 itself:
# - x05: floors at ~12s on the new generation — solo fresh-session
#   reps 11.99/13.16 at ambient load 0.03, in-bench mins 12.16-12.28
#   across three runs whose other sentinels sat on their clean
#   floors. dedup.py is bit-identical to the r12 code that floored
#   at 8.4s on the old data, so this is the new pair structure.
#   Clean in-bench median 14.43.
# - x20: new-generation clean min 4.38 (run1, pre-load 0.17) /
#   4.69 (filtered run) — floor_lo eased to 4.0, ceilings stand.
# - x05 SECOND re-pin (optimization session 4): _DENSE_ALLPAIRS_MAX
#   raised 2048 -> 8192 — on the round-13 generation the dense
#   all-pairs branch beats the degenerated prefix path (interleaved
#   A/B min 9.55 vs 12.35; crossover history in dedup.py). floor_lo
#   eased to 8.5, min ceiling 12.5, median ceiling 15.0 (clean
#   in-bench evidence re-measured in run 5).
# - x20 SECOND re-pin (optimization session 4): the union-find label
#   frame now returns as a JVM VALUES plan (no Python-RDD jobs) —
#   interleaved solo 5-rep min 3.93 at sf0.1. floor_lo eased to 3.5;
#   the contention ceilings stand (clean in-bench mins still land
#   4.0-4.7; a min above 6.5 remains external-load evidence).
# - x36: optimized this round (2.64 -> 1.42-1.8 bench min; spread
#   barrier + same multi-distinct aggregate), old [2.8, 4.5] band
#   would wave a 2x contended run through. Clean median 1.95.
SENTINEL_FLOORS = {  # entry -> (floor_lo, min_ceiling, median_ceiling)
    "x20_dup_clusters": (3.5, 6.5, 7.0),
    "x05_jaccard_pairs": (8.5, 12.5, 15.0),
    "x36_table_profile": (1.2, 2.8, 3.6),
}


def _loadavg() -> float:
    """1-minute load average — external-contention evidence for the
    artifact. Sampled BEFORE Spark starts (ambient load; the round-11
    host sat at 5-12 for hours with zero user processes) and at pass
    boundaries (where it mostly reflects our own 32-core work — kept
    for forensics, not for the clean verdict)."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):  # pragma: no cover - non-Linux
        return -1.0


def _jvm_gc(spark) -> None:
    """Best-effort full JVM GC between entries, OUTSIDE any timer.

    A single session running ~900 jobs accumulates heap garbage
    (broadcasts, shuffle metadata) that inflated late entries up to 2x
    in the round-8 runs. Uses the private Py4J gateway, which only
    exists in classic mode — guarded so the bench still runs (with
    noisier numbers) under Spark Connect.
    """
    try:
        jvm = getattr(spark.sparkContext, "_jvm", None)
        if jvm is not None:
            jvm.System.gc()
    except Exception:  # pragma: no cover - Connect / gateway teardown
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = -1.0

    load_pre = _loadavg()  # ambient load BEFORE our own Spark starts
    load_samples: list[dict] = [{"at": "pre_run", "load1m": load_pre}]

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("deepdb_public_spark_bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    # warm: session JVM + parquet footers, one trivial action per table
    eng = entry_mod._engine(spark, sf_dir)
    for df in eng.catalog.values():
        df.selectExpr("count(1)").collect()

    from deepdb_public_spark.operators.lifecycle import release

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    max_passes = passes + 1  # contention detector may add one
    names = sorted(queries)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        # smoke-test hook: comma-separated entry-name prefixes
        prefixes = [p.strip() for p in only.split(",") if p.strip()]
        names = [n for n in names if any(n.startswith(p) for p in prefixes)]

    samples: dict[str, list[float]] = {n: [] for n in names}
    timings_first: dict[str, float] = {}
    pass_totals: list[float] = []

    pass_idx = 0
    while pass_idx < passes:
        load_samples.append(
            {"at": f"pass_{pass_idx}_start", "load1m": _loadavg()}
        )
        pass_min: dict[str, float] = {}
        for name in names:
            if name not in timings_first:
                # model training / index builds / codegen JIT happen in
                # an entry's FIRST run (the engine memoizes them, as a
                # long-lived cluster session would): run it as an
                # explicit warm-up, recorded in "queries_first" but
                # EXCLUDED from the timed samples so pass 1 is
                # comparable to later passes (otherwise the contention
                # detector trips on warm-up, not contention)
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).collect()
                timings_first[name] = round(time.perf_counter() - t0, 4)
                release()
            for _rep in range(reps):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                samples[name].append(dt)
                # session hygiene between runs (outside the timer):
                # drop operator-persisted intermediates so hundreds of
                # runs don't compound executor-memory pressure into
                # GC-driven noise
                release()
            pass_min[name] = min(samples[name][-reps:])
            _jvm_gc(spark)
        pass_totals.append(round(sum(pass_min.values()), 4))
        pass_idx += 1
        if pass_idx == passes and passes < max_passes and len(pass_totals) >= 2:
            lo, hi = min(pass_totals[-2:]), max(pass_totals[-2:])
            if lo > 0 and (hi - lo) / lo > 0.05:
                # contention detected: the two full passes disagree by
                # >5% — run one extra pass so the min has a third
                # independent shot, and flag the artifact
                passes = max_passes

    contention = False
    if len(pass_totals) >= 2:
        lo, hi = min(pass_totals[:2]), max(pass_totals[:2])
        contention = lo > 0 and (hi - lo) / lo > 0.05

    timings: dict[str, float] = {}
    timings_median: dict[str, float] = {}
    for name in names:
        ss = sorted(samples[name])
        timings[name] = round(ss[0], 4)
        timings_median[name] = round(ss[len(ss) // 2], 4)

    # model-plane estimate latency (the reference's headline: answer
    # without touching the data). The m-entries above left trained
    # models in the shared engine; time pure ensemble.cardinality
    # calls over the m01 case list. SPNModel._eval memoizes by
    # canonical range (B13), so every model's cache is explicitly
    # invalidated before each pass — the number reported is COLD
    # per-estimate latency (true tree-walk cost), not cache-hit time.
    est_ms = None
    if getattr(eng, "ensemble", None) is not None:
        cases = [sql for _qid, sql in entry_mod._M01_CASES]
        n = 0
        t0 = time.perf_counter()
        for _ in range(20):
            for m in eng.ensemble.models:
                m.invalidate_cache()
            for sql in cases:
                # a filtered smoke run (SPARK_GRAFT_BENCH_ONLY) may not
                # have trained every model a case needs — skip, don't die
                try:
                    eng.ensemble.cardinality(eng.parse(sql))
                    n += 1
                except ValueError:
                    if not only:
                        raise
        est_ms = round((time.perf_counter() - t0) / n * 1000, 3) if n else None

    load_samples.append({"at": "post_run", "load1m": _loadavg()})

    # sentinel-vs-floor adjudication (round-12 brief item 2): a run is
    # "clean" iff ambient pre-run load was near zero AND every sentinel
    # entry's min sits within its documented floor ceiling. This is
    # external evidence, orthogonal to the pass-divergence flag: a
    # UNIFORM slowdown fools the divergence check but not the floors.
    # Floors are documented at sf0.1 only; at other SFs the check
    # records not-applicable and the verdict falls back to load alone.
    sentinel_applicable = abs(sf - 0.1) < 1e-9
    sentinel_check: dict = {"sf_applicable": sentinel_applicable}
    sentinels_ok = True
    if sentinel_applicable:
        for s_name, (lo, hi, hi_med) in SENTINEL_FLOORS.items():
            v = timings.get(s_name)
            v_med = timings_median.get(s_name)
            ok_min = v is not None and v <= hi
            ok_med = v_med is not None and v_med <= hi_med
            sentinel_check[s_name] = {
                "min_sec": v,
                "documented_floor": [lo, hi],
                "within": ok_min,
                "median_sec": v_med,
                "median_ceiling": hi_med,
                "median_within": ok_med,
            }
            sentinels_ok = sentinels_ok and ok_min and ok_med
    sentinel_check["all_within"] = sentinels_ok if sentinel_applicable else None
    clean_run = (0.0 <= load_pre < 1.0) and (
        sentinels_ok if sentinel_applicable else True
    )

    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # median-based total alongside the min-based headline so
        # comparisons against pre-v3 (median-based) artifacts have a
        # like-for-like number — "value" is min-based since r09
        "value_median": round(sum(timings_median.values()), 4),
        "queries": timings,
        "queries_min": timings,
        "queries_median": timings_median,
        "queries_first": timings_first,
        # one-time builds that engine memoization moves OUT of the
        # timed reps (x05 corpus prep, x35/x42 dedup indexes): the
        # production shape is index-once-probe-many, but the first-run
        # cost belongs in the artifact (round-9 review item)
        "index_build_secs": dict(
            sorted(getattr(entry_mod, "INDEX_BUILD_SECS", {}).items())
        ),
        "sf": sf,
        "n_queries": len(timings),
        "bench_reps": reps,
        "bench_passes": len(pass_totals),
        "pass_totals": pass_totals,
        "contention_detected": contention,
        "load_samples": load_samples,
        "sentinel_check": sentinel_check,
        # clean = ambient pre-run load < 1 AND sentinels within floors
        # (pass-divergence "contention_detected" stays alongside; the
        # two flags catch different failure shapes)
        "clean_run": clean_run,
        "methodology": "v3: min over passes x reps; see bench.py docstring",
        "estimate_ms_mean": est_ms,
    }
    line = json.dumps(payload)
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"),
    )
    # durable artifact first: the driver only keeps a tail of stdout,
    # which clipped the 103-key line in round 4
    try:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError as exc:
        print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
