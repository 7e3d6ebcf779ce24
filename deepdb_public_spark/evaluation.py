"""Evaluation harnesses (reference: evaluation/
cardinality_evaluation.py::evaluate_cardinalities and
aqp_evaluation.py — SURVEY.md §5.1).

Same contract as the reference: a list of SQL queries (the JOB-light
shape), per-query latency + estimate vs ground truth, q-error /
relative-error summaries. Ground truth comes from the exact plane
(Spark) instead of Postgres.
"""

from __future__ import annotations

import csv
import time
from dataclasses import dataclass

import numpy as np

from .engine import Engine


@dataclass
class CardinalityResult:
    query: str
    estimate: float
    truth: int
    q_error: float
    latency_ms: float


def q_error(est: float, true: float) -> float:
    """max(est/true, true/est) with symmetric epsilon guards — by
    definition >= 1 (the old max(true, 1) denominator let empty-result
    queries score below 1 and drag the summary stats under the floor)."""
    e, t = max(est, 1e-9), max(true, 1e-9)
    return float(max(e / t, t / e))


def generate_ground_truth(
    engine: Engine, queries: list[str], target_path: str
) -> dict:
    """Reference lifecycle parity (maqp.py --aqp_ground_truth /
    --cardinalities_ground_truth generate pickled truths the
    evaluations then reuse): run every query ONCE on the exact plane
    and pickle {sql: [row dicts]}. Pass the pickle to the evaluate_*
    harnesses as ``ground_truth`` to benchmark many
    ensembles/configurations without re-executing the exact plane —
    at 100 TB the truths are the expensive part."""
    import pickle

    truth = {}
    for sql in queries:
        q = engine.parse(sql)
        truth[sql] = [r.asDict() for r in engine.query(q).collect()]
    with open(target_path, "wb") as f:
        pickle.dump(truth, f)
    return truth


def load_ground_truth(path: str) -> dict:
    import pickle

    with open(path, "rb") as f:
        return pickle.load(f)


def evaluate_cardinalities(
    engine: Engine,
    queries: list[str],
    output_csv: str | None = None,
    max_variants: int = 1,
    ground_truth: dict | None = None,
) -> dict:
    """Per-query model-plane estimate vs exact-plane truth. Returns
    summary stats; optionally writes the reference-style CSV
    (query, cardinality_predict, cardinality_true, latency_ms).
    ``max_variants`` averages several factorization variants for
    queries needing the multi-SPN path (reference --max_variants);
    ``ground_truth`` (from generate_ground_truth) skips the exact
    plane entirely."""
    results: list[CardinalityResult] = []
    for sql in queries:
        q = engine.parse(sql)
        t0 = time.perf_counter()
        est = float(engine.ensemble.cardinality(q, max_variants=max_variants))
        latency = (time.perf_counter() - t0) * 1000
        if ground_truth is not None:
            truth = int(next(iter(ground_truth[sql][0].values())))
        else:
            truth = int(engine.query(q).collect()[0][0])
        results.append(
            CardinalityResult(sql, est, truth, q_error(est, truth), latency)
        )
    qs = np.array([r.q_error for r in results])
    lat = np.array([r.latency_ms for r in results])
    if output_csv:
        with open(output_csv, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(
                ["query", "cardinality_predict", "cardinality_true", "q_error", "latency_ms"]
            )
            for r in results:
                w.writerow([r.query, r.estimate, r.truth, r.q_error, r.latency_ms])
            # reference-style headline summary (round 9; round 10:
            # emitted as '#' COMMENT lines, not pseudo-rows — a
            # consumer parsing q_error as float over all data rows
            # must not hit 'median=...' strings)
            f.write(
                f"# __summary__ n={len(results)} "
                f"median_q_error={np.median(qs):.4f} "
                f"mean_latency_ms={lat.mean():.4f}\n"
            )
            f.write(
                f"# __summary_percentiles__ p95={np.percentile(qs, 95):.4f} "
                f"max={qs.max():.4f}\n"
            )
    return {
        "n": len(results),
        "median_q_error": float(np.median(qs)),
        "p95_q_error": float(np.percentile(qs, 95)),
        "max_q_error": float(qs.max()),
        "mean_latency_ms": float(lat.mean()),
        "results": results,
    }


def evaluate_confidence_intervals(
    engine: Engine,
    queries: list[str],
    confidence: float = 0.95,
    output_csv: str | None = None,
    ground_truth: dict | None = None,
) -> dict:
    """CI calibration harness (reference:
    evaluation/confidence_interval_evaluation.py — SURVEY.md §5.1):
    for each AQP query, predict [lo, hi] at ``confidence`` from the
    model plane and check whether the exact answer falls inside.
    Reports empirical coverage (should be ≈ the nominal level; far
    below = overconfident model, far above = intervals too wide to be
    useful) and the mean relative half-width.

    Group-by queries are checked per (group, aggregate) cell; cells
    the model fails to enumerate count as misses.
    """
    from .spn.model import GroupByExplosion, ModelPlaneUnsupported

    rows = []  # (query, group, agg, truth, lo, hi, hit, rel_halfwidth)
    skipped: list[str] = []
    for sql in queries:
        q = engine.parse(sql)
        try:
            ci_rows = engine.ensemble.confidence_interval(
                q, confidence=confidence
            )
        except (GroupByExplosion, ModelPlaneUnsupported):
            # e.g. cross-column OR groups: legal grammar the CI path
            # does not serve — record and keep evaluating (the AQP
            # harness sets the precedent with skipped_queries)
            skipped.append(sql)
            continue
        if ground_truth is not None:
            exact_rows = ground_truth[sql]
        else:
            exact_rows = [r.asDict() for r in engine.query(q).collect()]
        gb = [c for _t, c in q.group_bys]

        def key_exact(r: dict):
            return tuple(r[c] for c in gb) if gb else ()

        def key_model(r: dict):
            return tuple(r[c] for c in gb) if gb else ()

        exact_by = {key_exact(r): r for r in exact_rows}
        # cells arrive in aggregation order per group (one dict per
        # aggregate from the model), and the exact plane projects
        # aggregates in the same query order — match positionally so
        # implicit aliases ("count" vs compiler default) can't miss
        model_by_key: dict = {}
        for r in ci_rows:
            model_by_key.setdefault(key_model(r), []).append(r)
        for k, ex in exact_by.items():
            agg_cols = [c for c in ex if c not in gb]
            cells = model_by_key.get(k, [])
            for i, c in enumerate(agg_cols):
                truth = ex[c]
                cell = cells[i] if i < len(cells) else None
                if cell is None or truth is None:
                    rows.append((sql, k, c, None, truth, None, None, False, None))
                    continue
                hit = bool(cell["lo"] <= truth <= cell["hi"])
                relw = float(
                    (cell["hi"] - cell["lo"]) / 2.0 / max(abs(truth), 1e-9)
                )
                rows.append(
                    (sql, k, c, cell["est"], truth, cell["lo"], cell["hi"], hit, relw)
                )
    if output_csv:
        with open(output_csv, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(
                ["query", "group", "aggregate", "estimate", "truth",
                 "ci_lo", "ci_hi", "hit", "rel_halfwidth"]
            )
            for sql, k, c, est, truth, lo, hi, hit, relw in rows:
                w.writerow(
                    [sql, ",".join(map(str, k)), c, est, truth, lo, hi, int(hit), relw]
                )
    # coverage over ZERO cells is 0.0, not 1.0 — an empty evaluation
    # must not read as perfectly calibrated
    hits = [r[7] for r in rows]
    wlist = [r[8] for r in rows if r[8] is not None]
    return {
        "n_cells": len(rows),
        "nominal": confidence,
        "coverage": float(np.mean(hits)) if hits else 0.0,
        "mean_rel_halfwidth": float(np.mean(wlist)) if wlist else 0.0,
        "rows": rows,
        "skipped_queries": skipped,
    }


def evaluate_aqp(
    engine: Engine,
    queries: list[str],
    output_csv: str | None = None,
    ground_truth: dict | None = None,
) -> dict:
    """Relative error of model-plane aggregates vs exact answers
    (reference: aqp_evaluation.py). Group-by queries compare per-group;
    missing/extra groups count as relative error 1. A query whose
    group-by grid exceeds the model plane's cell cap is recorded as
    skipped (``skipped_queries``) instead of aborting the run — the
    exact-plane fallback in Engine.estimate would make its error
    trivially 0, which is not a model-quality measurement."""
    from .spn.model import GroupByExplosion

    rows = []
    skipped: list[str] = []
    for sql in queries:
        q = engine.parse(sql)
        t0 = time.perf_counter()
        try:
            model_rows = engine.ensemble.aqp(q)
        except GroupByExplosion:
            skipped.append(sql)
            continue
        latency = (time.perf_counter() - t0) * 1000
        if ground_truth is not None:
            exact_rows = ground_truth[sql]
        else:
            exact_rows = [r.asDict() for r in engine.query(q).collect()]
        gb = [c for _t, c in q.group_bys]

        def key(r: dict):
            return tuple(r[c] for c in gb) if gb else ()

        model_by = {key(r): r for r in model_rows}
        exact_by = {key(r): r for r in exact_rows}
        agg_cols = [c for c in (exact_rows[0] if exact_rows else {}) if c not in gb]
        # sorted (by repr, as the model plane's folds order keys): set
        # order follows the per-process string hash, so rows would
        # reorder between two runs of the same code
        for k in sorted(model_by.keys() | exact_by.keys(), key=repr):
            if k not in model_by or k not in exact_by:
                rows.append((sql, k, None, 1.0, latency))
                continue
            for c in agg_cols:
                t, m = exact_by[k][c], model_by[k][c]
                if t is None or m is None:
                    # SQL NULL aggregate (all-NULL operand group):
                    # matching NULLs are exact, mismatches count as
                    # full relative error — never a TypeError abort
                    rows.append((sql, k, c, 0.0 if t == m else 1.0, latency))
                    continue
                rel = abs(m - t) / max(abs(t), 1e-9)
                rows.append((sql, k, c, float(rel), latency))
    errs = np.array([r[3] for r in rows]) if rows else np.array([0.0])
    if output_csv:
        with open(output_csv, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["query", "group", "aggregate", "relative_error", "latency_ms"])
            w.writerows(rows)
            # headline summary as '#' COMMENT lines (round 10),
            # mirroring the cardinality CSV — keeps every data row
            # machine-parseable as floats
            f.write(
                f"# __summary__ n_cells={len(rows)} "
                f"median_rel_error={np.median(errs):.6f}\n"
            )
            f.write(
                f"# __summary_percentiles__ "
                f"p95={np.percentile(errs, 95):.6f} max={errs.max():.6f} "
                f"skipped={len(skipped)}\n"
            )
    return {
        "n_cells": len(rows),
        "mean_relative_error": float(errs.mean()),
        "median_relative_error": float(np.median(errs)),
        "p95_relative_error": float(np.percentile(errs, 95)),
        "max_relative_error": float(errs.max()),
        "skipped_queries": skipped,
    }
