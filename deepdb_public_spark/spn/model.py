"""RSPN model wrapper: a trained SPN + the metadata needed to answer
queries over its table set (reference: aqp_spn/aqp_spn.py::AQPSPN +
combine_spn.py::CombineSPN — SURVEY.md §2 B6-B12).

The factorization implemented here is DeepDB's outer-join-sample
algebra: the SPN is learned over the FULL OUTER join of ``table_set``
with per-edge fanout multiplier (mul_) and null-indicator (nn_)
columns, so for a query over any connected subset Q of the tables:

    COUNT(Q, conds) = N_fo * E[ 1(conds) * prod_e corr_e ]

with, for each SPN edge e = (child -> parent):
  - e joined in Q:                    corr_e = 1(nn_e = 1)
  - Q on the child side of e:         corr_e = 1(nn_e = 1)
  - Q on the parent side of e:        corr_e = 1 / max(mul_e, 1)

(child-side: drop NULL-augmented parent-only rows; parent-side: each
parent row is replicated mul_e times, childless rows appear once.)
SUM adds an identity feature on the aggregate column; AVG is the
ratio. This mirrors IndicatorExpectation/Expectation with inverse
multipliers (reference: ensemble_compilation/probabilistic_query.py).
"""

from __future__ import annotations

import datetime as _dt
import math as _math
import operator as _operator
import re as _re
from dataclasses import dataclass, field
from types import MappingProxyType

import numpy as np

from ..operators.prep import TableMeta
from ..plans.query import (
    AggregationOperationType,
    AggregationType,
    Condition,
    Query,
)
from ..plans.schema import Relationship
from .nodes import (
    Node,
    Sum,
    distinct_values,
    evaluate,
    evaluate_groupby,
)
from .ranges import (
    NominalRange,
    NullOnlyRange,
    NumericRange,
    Range,
    intersect_ranges,
    union_ranges,
    range_key,
    value_admitted,
)


_HAVING_OPS = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _apply_having(rows: list[dict], having) -> list[dict]:
    """Post-aggregation alias filters (the HAVING grammar extension):
    on the model plane group membership is decided on ESTIMATED
    aggregates, so groups near the threshold can flip — same
    approximation class as the estimates themselves."""
    if not having:
        return rows
    out = []
    for r in rows:
        keep = True
        for alias, op, lit in having:
            v = r.get(alias)
            if v is None or not _HAVING_OPS[op](v, lit):
                keep = False
                break
        if keep:
            out.append(r)
    return out


def _fold_aggregates(query: Query, value_of, groups=None) -> list[dict]:
    """The model plane's one aggregate fold: ``query.aggregations``
    (AGGREGATION starts an output, PLUS/MINUS extend it; an unaliased
    output is named ``agg_{n}``) fold into named outputs, one row per
    group, then HAVING. ``value_of(op)`` answers one aggregate: a
    scalar when ungrouped (``groups`` None: one row), else a numpy grid
    or a {group key: value} dict; PLUS/MINUS combine dicts key-wise, a
    missing key counting 0.0. ``groups()`` lists the (group key, cell)
    pairs to emit, in order. It is called once every aggregate is
    answered, so a caller may learn its visible keys while answering."""
    outputs: list[tuple[str, object]] = []
    acc = alias = None
    for op in query.aggregations:
        val = value_of(op)
        if op.op_type is AggregationOperationType.AGGREGATION:
            if acc is not None:
                outputs.append((alias or f"agg_{len(outputs)}", acc))
            acc, alias = val, op.alias
            continue
        f = (
            _operator.add
            if op.op_type is AggregationOperationType.PLUS
            else _operator.sub
        )
        if isinstance(acc, dict):
            acc = {
                k: f(acc.get(k, 0.0), val.get(k, 0.0))
                for k in acc.keys() | val.keys()
            }
        else:
            acc = f(acc, val)
    if acc is not None:
        outputs.append((alias or f"agg_{len(outputs)}", acc))
    if groups is None:
        return _apply_having([dict(outputs)], query.having)
    gb_cols = [c for _t, c in query.group_bys]
    rows = []
    for key, cell in groups():
        row = dict(zip(gb_cols, key))
        for name, val in outputs:
            row[name] = (
                val.get(cell, 0.0) if isinstance(val, dict) else float(val[cell])
            )
        rows.append(row)
    return _apply_having(rows, query.having)


def _like_to_regex(pattern: str) -> "_re.Pattern":
    """SQL LIKE -> compiled regex: % = any run, _ = any char, all else
    literal (no ESCAPE clause — outside the supported grammar)."""
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return _re.compile("".join(out), _re.DOTALL)


def _inv_max1(x: np.ndarray) -> np.ndarray:
    return 1.0 / np.maximum(x, 1.0)


def _identity(x: np.ndarray) -> np.ndarray:
    return x


def _square(x: np.ndarray) -> np.ndarray:
    return x * x


# feature functions the cache can key on (named, stateless)
_FEATURE_NAMES = {_inv_max1: "inv", _identity: "id", _square: "sq"}

# factor-cache bound, in cached floats per model: a point value is 1
# cell, a (value, variance) pair 2, a grid its cells plus its axes'
# values, an axis domain its values. perfbench's ``estimate`` stream
# leaves about 2,700 point entries and under 1,000 grid cells per
# model per write cycle; past the bound the cache empties and
# refills, and an entry larger than the bound is never stored.
EVAL_CACHE_MAX = 8192


def _factor_key(cond: dict[int, Range], features) -> tuple | None:
    """Canonical factor-cache key of one tree walk's (cond, features);
    None when a feature function has no name to key on."""
    try:
        fkey = tuple(
            sorted((i, _FEATURE_NAMES[f]) for i, f in (features or {}).items())
        )
    except KeyError:
        return None
    return (tuple(sorted((i, range_key(r)) for i, r in cond.items())), fkey)


# group-by grid cap: the model-side combination grid is the cross
# product of the grouped columns' domains; past this many cells the
# vectorized pass stops paying for itself and the grid alone risks
# driver memory (reference caps group-by enumeration in evaluation).
# Callers (Engine.estimate) catch GroupByExplosion and fall back to
# the exact plane, which handles high-cardinality grouping natively.
MAX_GROUPBY_CELLS = 2_000_000


def z_value(confidence: float) -> float:
    """Two-sided normal quantile for a confidence level. Common levels
    come from the usual table; any other level is computed exactly via
    the inverse normal CDF (round-5 advice: the old lookup silently
    fell back to the 0.95 z, so e.g. confidence=0.98 returned
    0.95-level intervals labeled 0.98)."""
    # EXACT key match only: rounding the level to 2 decimals silently
    # substituted the 0.99 z for 0.995 (intervals ~8% too narrow,
    # labeled 99.5%) — any level not literally in the table computes
    # the quantile exactly
    z = {0.9: 1.645, 0.95: 1.96, 0.99: 2.576}.get(confidence)
    if z is None:
        from statistics import NormalDist

        z = NormalDist().inv_cdf(0.5 + confidence / 2.0)
    return float(z)


class GroupByExplosion(ValueError):
    """Model-side group-by grid exceeds MAX_GROUPBY_CELLS."""


class ModelPlaneUnsupported(ValueError):
    """The query shape is outside what the model plane can answer
    (e.g. GROUP BY combined with a cross-column OR group). Callers
    (Engine.estimate) catch this and fall back to the exact plane."""


def _refuse_composite_ci(query: Query) -> None:
    """Every CI path's refusal of composite aggregates (agg ± agg):
    the chain's interval needs the covariance between its steps over
    the SAME rows, which no path here has. Reporting the first step's
    interval under the chain's name (estimate disagreeing with aqp())
    was a silent wrong answer."""
    if any(
        op.op_type is not AggregationOperationType.AGGREGATION
        for op in query.aggregations
    ):
        raise ModelPlaneUnsupported(
            "confidence intervals for composite aggregates "
            "(agg ± agg) are not supported; use the exact plane"
        )


@dataclass
class SPNModel:
    table_set: set[str]
    relationships: list[Relationship]
    full_join_size: float
    column_names: list[str]  # scope order == matrix column order
    meta: TableMeta  # columns of the joined/encoded relation
    column_table: dict[str, str]  # column -> owning base table
    root: Node = None
    sample_size: int = 0
    # FK edges whose parent is in table_set but whose child is not;
    # their mul_/nn_ columns are in scope and let the ensemble expand
    # a factorized estimate across this model (B11)
    boundary_rels: list[Relationship] = field(default_factory=list)
    # C3: FD-dropped columns — dropped_col -> (determinant_col,
    # {dropped_value: [determinant raw values]}). Conditions on a
    # dropped column rewrite to a determinant range (reference:
    # prepare_single_tables.py fd_dict).
    fd_maps: dict = field(default_factory=dict)
    # factor cache (B13, reference: IndicatorExpectation.__hash__ +
    # memoization in spn_ensemble.py): repeated expectation factors —
    # factorization denominators, workload re-runs, repeated CIs,
    # repeated group-by grids — hit the cache instead of re-walking the
    # tree. Holds at most EVAL_CACHE_MAX cells (``_eval_cells``);
    # invalidated on incremental updates. Not pickled (__getstate__),
    # nor are the hit/miss counters.
    _eval_cache: dict = field(default_factory=dict, repr=False, compare=False)
    _eval_cells: int = field(default=0, repr=False, compare=False)
    cache_hits: int = field(default=0, repr=False, compare=False)
    cache_misses: int = field(default=0, repr=False, compare=False)

    def _eval(
        self,
        cond: dict[int, Range],
        features=None,
        moments: bool = False,
        axes: list[int] | None = None,
    ):
        """E[prod features * 1(cond)] from one tree walk, served from
        the factor cache when the same walk was made before. The one
        owner of every tree walk and every cache entry here:

        - plain: the point value (``evaluate``);
        - ``moments``: the (value, sampling variance) pair of the
          per-node variance pass (B10, ``evaluate_with_variance``);
        - ``axes`` (column indexes): the pair (axes, grid) of a group
          grid (B8/B9, ``evaluate_groupby``). Each axis enumerates its
          column's distinct values (``distinct_values``, itself an
          entry) restricted by and consuming any range on it in
          ``cond``; the grid holds the expectation over their cross
          product, capped at MAX_GROUPBY_CELLS (GroupByExplosion).

        A grid is keyed on ``cond`` before its axis ranges are consumed
        plus the axis columns: the admitted values follow from those
        ranges and the cached domains, so a hit skips the admission
        pass. Cached arrays (and the axes mapping) are read-only."""
        key = _factor_key(cond, features)
        if key is not None:
            if moments:
                key += ("var",)
            elif axes is not None:
                key += ("grid", tuple(axes))
            hit = self._eval_cache.get(key)
            if hit is not None:
                self.cache_hits += 1
                if axes is not None and hit[1].size > MAX_GROUPBY_CELLS:
                    # the cap is read per call, not frozen into entries
                    raise GroupByExplosion(
                        f"grid has {hit[1].size} cells "
                        f"(> {MAX_GROUPBY_CELLS}); use the exact plane"
                    )
                return hit
        self.cache_misses += 1
        if moments:
            # looked up at call time, like ``evaluate``: a tracer
            # patches the nodes-module name
            from .nodes import evaluate_with_variance

            val = evaluate_with_variance(self.root, cond, features)
            return self._cache_put(key, val, 2)
        if axes is None:
            return self._cache_put(key, evaluate(self.root, cond, features), 1)
        cond = dict(cond)
        doms: dict[int, np.ndarray] = {}
        for i in axes:
            dom = self._eval_cache.get(("dom", i))
            if dom is None:
                dom = distinct_values(self.root, i)
                dom.setflags(write=False)
                self._cache_put(("dom", i), dom, len(dom))
            rng = cond.pop(i, None)
            if rng is not None:
                dom = np.array([v for v in dom if value_admitted(rng, v)])
                dom.setflags(write=False)
            doms[i] = dom
        # arbitrary-precision product: an int64 np.prod wraps silently
        # past 9.2e18 and would bypass the cap on absurd grids
        n_cells = _math.prod(len(a) for a in doms.values())
        if n_cells > MAX_GROUPBY_CELLS:
            raise GroupByExplosion(
                f"grid over {[self.column_names[i] for i in doms]} has "
                f"{n_cells} cells (> {MAX_GROUPBY_CELLS}); use the exact plane"
            )
        if n_cells == 0:
            grid = np.zeros(tuple(len(a) for a in doms.values()))
        else:
            grid = evaluate_groupby(self.root, cond, features, doms)
        grid.setflags(write=False)
        val = (MappingProxyType(doms), grid)
        return self._cache_put(key, val, n_cells + sum(len(a) for a in doms.values()))

    def _cache_put(self, key, val, cells: int):
        """Store ``val`` (``cells`` floats) under ``key`` and return
        it. Past the bound the table empties first; an entry larger
        than the bound, or with no key, is returned unstored."""
        if key is None or cells > EVAL_CACHE_MAX:
            return val
        if self._eval_cells + cells > EVAL_CACHE_MAX:
            self._eval_cache.clear()
            self._eval_cells = 0
        self._eval_cache[key] = val
        self._eval_cells += cells
        return val

    def invalidate_cache(self) -> None:
        """Drop every cached entry — point values, variance pairs,
        grids and axis domains alike: the one path that keeps the
        cache true to the tree."""
        self._eval_cache.clear()
        self._eval_cells = 0

    def __getstate__(self) -> dict:
        # derived caches stay out of the pickle: its size must not
        # grow with the number of reads already answered
        state = dict(self.__dict__)
        for k in (
            "_eval_cache", "_eval_cells", "_col_index_map", "_decoders",
            "cache_hits", "cache_misses",
        ):
            state.pop(k, None)
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._eval_cache = {}
        self._eval_cells = self.cache_hits = self.cache_misses = 0

    def _decoder(self, col: str):
        """code -> original value of ``col``: a categorical column's
        dictionary codes decode through its inverse map, built once per
        column; any other value is a float. Every decoded group key and
        per-value mass goes through here, so keys from different models
        (each with its own dictionary) combine."""
        decoders = self.__dict__.setdefault("_decoders", {})
        dec = decoders.get(col)
        if dec is None:
            cm = self.meta.columns[col]
            if cm.kind == "categorical" and cm.value_to_code:
                inv = {code: v for v, code in cm.value_to_code.items()}
                dec = lambda code: inv.get(int(code), float(code))  # noqa: E731
            else:
                dec = float
            decoders[col] = dec
        return dec

    # -- condition translation ----------------------------------------
    def _col_index(self, col: str) -> int:
        # cached name->index map: this runs inside every range
        # translation and grid-axis loop, and list.index is a linear
        # scan of the scope
        idx = self.__dict__.get("_col_index_map")
        if idx is None or len(idx) != len(self.column_names):
            idx = {c: i for i, c in enumerate(self.column_names)}
            self.__dict__["_col_index_map"] = idx
        i = idx.get(col)
        if i is None:
            # out-of-scope column (PK/FK, irrelevant, capped-dict —
            # excluded at training time): ModelPlaneUnsupported so
            # Engine.estimate's exact fallback fires instead of a
            # cryptic "'x' is not in list"
            raise ModelPlaneUnsupported(
                f"column '{col}' is outside this model's scope; use "
                "the exact plane"
            )
        return i

    def _literal(self, col: str, value):
        cm = self.meta.columns[col]
        if cm.kind == "categorical":
            if cm.value_to_code is None:
                # beyond-dict-cap column: literals CANNOT be translated;
                # silently returning an empty range would estimate 0
                # rows for predicates that match millions — fail loudly
                # (the trainer excludes such columns from model scope;
                # hitting this means a hand-built Query targets one)
                raise ValueError(
                    f"column '{col}' has no driver-side dictionary "
                    "(distinct count above the encoding cap) — "
                    "model-plane literals are untranslatable; use the "
                    "exact plane or raise max_dict_size"
                )
            if value not in cm.value_to_code:
                return None  # unseen value -> empty range (dict is
                # complete for encoded columns, so 0 rows is EXACT)
            return float(cm.value_to_code[value])
        if cm.origin == "timestamp" and isinstance(value, str):
            s = value.strip()
            fmt = "%Y-%m-%d %H:%M:%S" if " " in s else "%Y-%m-%d"
            dt = _dt.datetime.strptime(s, fmt).replace(tzinfo=_dt.timezone.utc)
            return dt.timestamp() * 1_000_000
        return float(value)

    def _condition_to_range(self, cond: Condition) -> Range:
        col = cond.column
        cm = self.meta.columns[col]
        if cond.op == "OR":
            # same-column disjunction (grammar extension; the parser
            # guarantees every disjunct references cond.column):
            # P(c in A or c in B) = P(c in A∪B) — one range union, no
            # inclusion-exclusion needed on a single column
            out: Range | None = None
            for sub in cond.value:
                r = self._condition_to_range(sub)
                out = r if out is None else union_ranges(out, r)
            return out
        if cond.op == "IS_NULL":
            return NullOnlyRange()
        if cond.op == "IS_NOT_NULL":
            if cm.kind == "categorical":
                return NominalRange(list(range(cm.n_distinct)))
            return NumericRange([(-np.inf, np.inf, True, True)])
        if cond.op == "IN":
            codes = [self._literal(col, v) for v in cond.value]
            return NominalRange([c for c in codes if c is not None])
        if cond.op == "NOT_IN":
            if cm.kind == "categorical":
                codes = {
                    int(c)
                    for c in (self._literal(col, v) for v in cond.value)
                    if c is not None
                }
                return NominalRange(
                    [c for c in range(cm.n_distinct) if c not in codes]
                )
            # numeric: complement of the point set — open intervals
            # between consecutive excluded values
            pts = sorted(
                {float(self._literal(col, v)) for v in cond.value}
            )
            bounds = [-np.inf] + pts + [np.inf]
            return NumericRange(
                [
                    (a, b, a == -np.inf, b == np.inf)
                    for a, b in zip(bounds, bounds[1:])
                    if a != b
                ]
            )
        if cond.op == "BETWEEN":
            lo, lo_incl = self._range_bound(cm, col, cond.value[0], "lo", True)
            hi, hi_incl = self._range_bound(cm, col, cond.value[1], "hi", True)
            return NumericRange([(lo, hi, lo_incl, hi_incl)])
        if cond.op == "NOT_BETWEEN":
            # NOT (lo <= x <= hi) == x < lo OR x > hi: reuse the
            # translated single-sided ranges and union them (absent
            # categorical literals keep their bisection semantics)
            left = self._condition_to_range(
                Condition(cond.table, col, "<", cond.value[0])
            )
            right = self._condition_to_range(
                Condition(cond.table, col, ">", cond.value[1])
            )
            return union_ranges(left, right)
        if cond.op in ("LIKE", "NOT_LIKE"):
            # dictionary pattern matching: a LIKE predicate over an
            # encoded categorical column is just a code-set membership
            # — the dictionary is complete, so this is EXACT (an
            # extension the reference cannot express; its grammar has
            # no pattern predicates)
            if cm.kind != "categorical":
                # ModelPlaneUnsupported so Engine.estimate's exact
                # fallback actually fires (a plain ValueError escaped)
                raise ModelPlaneUnsupported(
                    f"LIKE on non-categorical column '{col}' is outside "
                    "the model plane; use the exact plane"
                )
            if cm.value_to_code is None:
                self._literal(col, "")  # raises the loud capped-dict error
            rx = _like_to_regex(cond.value)
            codes = [
                code
                for v, code in cm.value_to_code.items()
                if v is not None and rx.fullmatch(v) is not None
            ]
            if cond.op == "NOT_LIKE":
                keep = set(codes)
                codes = [
                    c for c in range(cm.n_distinct) if c not in keep
                ]
            return NominalRange(sorted(codes))
        if cond.op in ("<", "<=", ">", ">="):
            incl = cond.op in ("<=", ">=")
            side = "hi" if cond.op[0] == "<" else "lo"
            v, incl = self._range_bound(cm, col, cond.value, side, incl)
            if side == "hi":
                return NumericRange([(-np.inf, v, True, incl)])
            return NumericRange([(v, np.inf, incl, True)])
        v = self._literal(col, cond.value)
        if v is None:
            # unseen categorical literal. The dictionary is complete,
            # so '=' matches nothing — but '<>' excludes nothing and
            # must keep EVERY code (round-5 fix: this returned the
            # empty range for both ops, estimating 0 for a predicate
            # that matches the whole table)
            if cond.op == "<>":
                return NominalRange(list(range(cm.n_distinct)))
            return NominalRange([])
        if cond.op == "=":
            if cm.kind == "categorical":
                return NominalRange([int(v)])
            return NumericRange([(v, v, True, True)])
        if cond.op == "<>":
            if cm.kind == "categorical":
                return NominalRange(
                    [c for c in range(cm.n_distinct) if c != int(v)]
                )
            return NumericRange(
                [(-np.inf, v, True, False), (v, np.inf, False, True)]
            )
        raise ValueError(f"unsupported condition op {cond.op}")

    def _range_bound(self, cm, col: str, value, side: str, incl: bool):
        """Translate one range endpoint to code space -> (bound, incl).

        Categorical codes are dense ranks over the SORTED dictionary
        values, so a literal ABSENT from the dictionary still has a
        well-defined position: bisect_left gives the first code with
        value >= literal. Silently treating an untranslatable endpoint
        as unbounded (the old behavior via _literal -> None) both
        overestimated and crashed range intersection (None compares)."""
        if cm.kind != "categorical":
            return self._literal(col, value), incl
        code = None
        if cm.value_to_code is not None and value in cm.value_to_code:
            code = float(cm.value_to_code[value])
        if code is not None:
            return code, incl
        if cm.value_to_code is None:
            self._literal(col, value)  # raises the loud cap error
        import bisect

        # sorted dictionary cached per column (absent-literal range
        # endpoints re-sorted the whole dict on every translation)
        sd_cache = self.__dict__.setdefault("_sorted_dict_cache", {})
        ordered = sd_cache.get(col)
        if ordered is None or len(ordered) != len(cm.value_to_code):
            ordered = sorted(cm.value_to_code)
            sd_cache[col] = ordered
        t = float(bisect.bisect_left(ordered, value))
        # absent literal: x >= v and x > v both mean code >= t;
        # x <= v and x < v both mean code < t
        if side == "lo":
            return t, True
        return t, False

    def _fd_rewrite(self, cond: Condition) -> tuple[int, Range]:
        """Rewrite a condition on an FD-dropped column into a range on
        its determinant (C3): admitted dropped-values map to the union
        of their determinant codes."""
        det, mapping = self.fd_maps[cond.column]
        if cond.op == "=":
            admitted = [cond.value] if cond.value in mapping else []
        elif cond.op == "IN":
            admitted = [v for v in cond.value if v in mapping]
        elif cond.op == "NOT_IN":
            # NULL never satisfies <>/NOT IN in SQL (UNKNOWN), so the
            # NULL bucket's determinant codes must not be admitted
            excluded = set(cond.value)
            admitted = [
                v for v in mapping if v is not None and v not in excluded
            ]
        elif cond.op == "<>":
            admitted = [
                v for v in mapping if v is not None and v != cond.value
            ]
        elif cond.op in ("LIKE", "NOT_LIKE"):
            rx = _like_to_regex(cond.value)
            admitted = [
                v
                for v in mapping
                if v is not None
                and (rx.fullmatch(v) is not None) == (cond.op == "LIKE")
            ]
        elif cond.op == "IS_NOT_NULL":
            admitted = [v for v in mapping if v is not None]
        else:
            raise ModelPlaneUnsupported(
                f"unsupported op {cond.op!r} on FD-dropped column "
                f"{cond.column}; use the exact plane"
            )
        codes = []
        for b in admitted:
            for a in mapping[b]:
                c = self._literal(det, a)
                if c is not None:
                    codes.append(c)
        return self._col_index(det), NominalRange(sorted(set(codes)))

    def conditions_to_ranges(self, query: Query) -> dict[int, Range]:
        out: dict[int, Range] = {}
        for cond in query.conditions:
            if cond.op == "OR" and cond.column is None:
                # cross-column group: a single model cannot express it
                # as one per-column range — SPNEnsemble expands it via
                # inclusion-exclusion BEFORE models see the query
                raise ModelPlaneUnsupported(
                    "cross-column OR reaches a single SPN; answer via "
                    "SPNEnsemble (inclusion-exclusion) or the exact plane"
                )
            if cond.table not in self.table_set:
                raise ValueError(f"{cond.table} outside model scope")
            if cond.column in self.fd_maps:
                if cond.op == "OR":
                    # rewrite each disjunct onto the determinant and
                    # union the resulting code sets
                    i, rng = None, None
                    for sub in cond.value:
                        i, r = self._fd_rewrite(sub)
                        rng = r if rng is None else union_ranges(rng, r)
                else:
                    i, rng = self._fd_rewrite(cond)
            else:
                i = self._col_index(cond.column)
                rng = self._condition_to_range(cond)
            # two conjuncts on one column intersect (x>=10 AND x<20)
            out[i] = intersect_ranges(out[i], rng) if i in out else rng
        return out

    # -- fanout-correction planning -----------------------------------
    def _child_component(self, edge: Relationship) -> set[str]:
        """Tables on the child (start) side once ``edge`` is removed
        from the model's relationship tree. Cached per edge: the
        model's relationships never change after training, and this
        runs inside correction_factors on EVERY estimate — including
        the join-order DP's batch pricing, where recomputing the BFS
        per subset per edge was pure waste."""
        cache = self.__dict__.setdefault("_child_component_cache", {})
        hit = cache.get(edge.identifier)
        if hit is not None:
            return hit
        adj: dict[str, set[str]] = {t: set() for t in self.table_set}
        for r in self.relationships:
            if r.identifier == edge.identifier:
                continue
            adj[r.start].add(r.end)
            adj[r.end].add(r.start)
        comp, stack = set(), [edge.start]
        while stack:
            u = stack.pop()
            if u in comp:
                continue
            comp.add(u)
            stack.extend(adj[u] - comp)
        cache[edge.identifier] = comp
        return comp

    def correction_factors(
        self, query: Query
    ) -> tuple[dict[int, Range], dict[int, object]]:
        """(extra nn ranges, inverse-multiplier features) per the
        factorization in the module docstring."""
        ranges: dict[int, Range] = {}
        features: dict[int, object] = {}
        qt = query.table_set
        for rel in self.relationships:
            nn_idx = self._col_index(rel.null_indicator_name)
            mul_idx = self._col_index(rel.multiplier_attribute_name)
            if rel.identifier in query.relationship_set:
                ranges[nn_idx] = NumericRange([(1, np.inf, True, True)])
            else:
                child_side = self._child_component(rel)
                if qt & child_side:
                    ranges[nn_idx] = NumericRange([(1, np.inf, True, True)])
                else:
                    features[mul_idx] = _inv_max1
        return ranges, features

    def _scope(self, query: Query | None) -> tuple[dict[int, Range], dict]:
        """(cond, features) of ``query`` on this model: its conditions
        as column ranges, intersected with the join-scope corrections'
        null-indicator ranges, plus the inverse-multiplier features
        (correction_factors). Null-indicator ranges exclude dangling
        outer-join rows and inverse multipliers de-weight fanout, so
        ``full_join_size`` times an expectation here counts rows of the
        query's own sub-scope. No query: the whole model, uncorrected."""
        if query is None:
            return {}, {}
        cond = self.conditions_to_ranges(query)
        extra, features = self.correction_factors(query)
        for i, r in extra.items():
            cond[i] = intersect_ranges(cond[i], r) if i in cond else r
        return cond, features

    # -- multi-SPN factor support (B11) --------------------------------
    def _wexp_args(self, sub_query: Query, rel: Relationship) -> tuple[dict, dict]:
        """(cond, feats) for the fanout-weighted expectation — shared
        by the value path (_weighted_expectation) and the variance
        path (_weighted_expectation_moments), both memoized."""
        cond, feats = self._scope(sub_query)
        mul_idx = self._col_index(rel.multiplier_attribute_name)
        if any(r.identifier == rel.identifier for r in self.relationships):
            # internal edge: the model's full-join measure already
            # replicates each parent row mul_rel times — drop the
            # inverse-multiplier correction and require a child to
            # exist instead of multiplying by mul explicitly
            nn_idx = self._col_index(rel.null_indicator_name)
            feats.pop(mul_idx, None)
            nnr: Range = NumericRange([(1, np.inf, True, True)])
            cond[nn_idx] = (
                intersect_ranges(cond[nn_idx], nnr) if nn_idx in cond else nnr
            )
        else:
            feats[mul_idx] = _identity
        return cond, feats

    def _weighted_expectation(self, sub_query: Query, rel: Relationship) -> float:
        """E[ mul_rel * 1(conds of sub_query) * corr ] in the measure
        of ``sub_query``'s table set — the building block of cross-
        model factors (reference: ensemble_compilation/
        probabilistic_query.py::IndicatorExpectation with nominator
        multipliers). ``rel`` is the frontier edge whose parent this
        model covers; each parent row is weighted by its child fanout
        so the factor is conditioned on "referenced by a random
        qualifying child"."""
        cond, feats = self._wexp_args(sub_query, rel)
        return self._eval(cond, feats)

    def _weighted_expectation_moments(
        self, sub_query: Query, rel: Relationship
    ) -> tuple[float, float]:
        """(value, sampling variance) of the fanout-weighted
        expectation via the per-node variance pass — the B10 machinery
        applied to a B11 factor term, so multi-model OR CIs can
        propagate each factor's uncertainty through the product."""
        cond, feats = self._wexp_args(sub_query, rel)
        return self._eval(cond, feats, moments=True)

    def _card_moments(self, query: Query) -> tuple[float, float]:
        """(p, var_p) of the query's indicator expectation —
        cardinality = full_join_size * p; var_p from the per-node
        variance pass (B10). Relative variance var_p/p**2 is scale-
        free, which is what factor-chain composition needs."""
        return self._eval(*self._scope(query), moments=True)

    def fanout_conditional_factor(
        self, nom_query: Query, rel: Relationship, denom_query: Query
    ) -> float:
        """P(conds over nom_query's tables | parent referenced by a
        random child over ``rel`` [, denom_query's conds]), fanout-
        weighted: the multiplier of a factorized estimate when
        expanding from the child side of ``rel`` into this model's
        scope. ``denom_query`` carries only the conditions both sides
        share (the ensemble's exploit_overlapping overlap set — empty
        without overlap), so the ratio is conditioned on them."""
        nom = self._weighted_expectation(nom_query, rel)
        den = self._weighted_expectation(denom_query, rel)
        return nom / den if den > 0 else 0.0

    # -- answering -----------------------------------------------------
    def cardinality(self, query: Query) -> float:
        return self.full_join_size * self._eval(*self._scope(query))

    def cardinality_many(self, queries: list[Query]) -> list[float]:
        """Batch cardinality: all queries priced in ONE tree pass
        (nodes.evaluate_many — B8 applied to plan-time pricing). Same
        math as cardinality() per query; used by the join-order DP to
        price a search round's connected subsets together instead of
        walking the tree once per subset."""
        from .nodes import evaluate_many

        vec = evaluate_many(self.root, [self._scope(q) for q in queries])
        return [self.full_join_size * float(v) for v in vec]

    def _agg_value(self, query: Query, op_aggs, cond, features) -> float:
        """One AGGREGATION step: COUNT/SUM/AVG with operand features."""
        agg_type, operands = op_aggs[0], op_aggs[1]
        distinct = op_aggs[2] if len(op_aggs) > 2 else False
        feats = dict(features)
        if agg_type is AggregationType.COUNT and distinct:
            # COUNT(DISTINCT c) routes to the B9 combination grid;
            # membership in the admitted set doesn't scale with join
            # fanout, so no multiplier features apply
            return self.distinct_count([operands[0][1]], query)
        if agg_type is AggregationType.COUNT:
            # COUNT(col): SQL semantics skip NULLs in col
            return self.full_join_size * self._eval(
                self._notnull_cond(cond, operands), feats
            )
        for _t, c in operands:
            feats[self._col_index(c)] = _identity
        val = self.full_join_size * self._eval(cond, feats)
        if agg_type is AggregationType.SUM:
            return val
        # AVG: SQL averages over rows where the operand is NOT NULL —
        # the numerator already zeroes NULLs (Leaf.expect), so the
        # denominator must exclude them too or AVG biases low by the
        # operand's null fraction
        denom = self.full_join_size * self._eval(
            self._notnull_cond(cond, operands), features
        )
        return val / denom if denom > 0 else float("nan")

    def _notnull_cond(self, cond, operands):
        """cond ∧ (every operand column IS NOT NULL)."""
        out = dict(cond)
        for t, c in operands:
            i = self._col_index(c)
            nn = self._condition_to_range(Condition(t, c, "IS_NOT_NULL"))
            out[i] = intersect_ranges(out[i], nn) if i in out else nn
        return out

    def distinct_count(
        self, cols: list[str], query: Query | None = None
    ) -> float:
        """Model-side COUNT(DISTINCT cols) estimate — B9 (reference:
        aqp_spn/group_by_combination.py::group_by_combinations, the
        internal distinct-enumeration behind GROUP BY) exposed as a
        user capability the reference's grammar never surfaces: count
        the combination-grid cells whose EXPECTED ROW COUNT is at
        least 0.5 under the query's conditions, in ONE batch tree
        pass (B8). Two error sources, in opposite directions: single
        columns and co-modeled groups are near-exact when the sample
        covers the domain, but multi-column requests whose columns
        fall in INDEPENDENT factors (Product split) see the outer
        product of marginals — combinations that never co-occur still
        get mass p_a*p_b, an overestimate that the expected-rows
        threshold only partially prunes. Columns absent from the
        sample bias the count low. Same trust model as every other
        estimate here: budget-tested, not exact."""
        idx = [self._col_index(c) for c in cols]
        # expected-rows thresholds refer to the query's sub-scope, not
        # the replicated join (_scope's corrections)
        _axes, grid = self._eval(*self._scope(query), axes=idx)
        # expected-rows threshold (matches aqp's count>=0.5 group
        # pruning): a strict p>0 would count 1e-300 Sum-node residues
        # and every independence-product cross combination
        return float((self.full_join_size * grid >= 0.5).sum())

    def _value_masses(
        self, col: str, query: Query | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(domain values, E[corrections · 1(col = v AND conditions)])
        in one batch grid pass — the building block for model-side
        quantiles and distinct counts. Join-scope corrections apply
        exactly as in cardinality/aqp: null-indicator ranges exclude
        dangling outer-join rows and inverse-multiplier features
        de-weight fanout replication, so full_join_size * mass is the
        expected SUB-SCOPE row count at that value."""
        i = self._col_index(col)
        axes, masses = self._eval(*self._scope(query), axes=[i])
        return axes[i], masses.reshape(-1)

    def _grouped_value_masses(
        self, cols: list[str], query: Query | None = None
    ) -> dict[tuple, float]:
        """{decoded cell over ``cols``: expected sub-scope rows} for
        every cell of nonzero mass, from ONE batch grid pass — the
        per-cell analogue of _value_masses and the building block of
        the ensemble's COUNT(DISTINCT) masses (grouped: the group
        columns followed by the value column), which inclusion-
        exclusion must sign BEFORE the expected-rows threshold (signing
        thresholded per-term counts is not valid set algebra). Cells
        are DECODED so masses from different models (each with its own
        dictionary) combine correctly. A column named twice is one grid
        axis, so a value column that is also a group axis carries its
        group's own value. Same GroupByExplosion cap as every grid
        here."""
        idx = [self._col_index(c) for c in cols]
        uniq = list(dict.fromkeys(idx))
        axes, grid = self._eval(*self._scope(query), axes=uniq)
        decoded = [
            list(map(self._decoder(self.column_names[i]), axes[i])) for i in uniq
        ]
        pos = [uniq.index(i) for i in idx]
        fjs = self.full_join_size
        return {
            tuple(decoded[p][cell[p]] for p in pos): fjs * float(grid[tuple(cell)])
            for cell in np.argwhere(grid != 0.0)
        }

    def quantile(
        self, col: str, qs: list[float], query: Query | None = None
    ) -> list[float]:
        """Model-plane quantiles of a NUMERIC column under optional
        conditions — an extension the reference grammar cannot express
        (its aggregates stop at COUNT/SUM/AVG; the paper names
        MIN/MAX/median as unsupported): leaf histograms store the full
        per-value distribution, so P(col = v AND conds) for every
        domain value comes from ONE batch pass (B8) and quantiles are
        CDF inversion over the sorted domain. Accuracy is bounded by
        sample coverage of the tails — same trust model as every
        estimate here (budget-tested, not exact)."""
        cm = self.meta.columns[col]
        if cm.kind == "categorical":
            raise ValueError(
                f"quantiles need a numeric column; '{col}' is "
                "categorical (codes are ranks, not magnitudes)"
            )
        dom, masses = self._value_masses(col, query)
        if len(dom) == 0 or masses.sum() <= 0:
            return [float("nan")] * len(qs)
        cdf = np.cumsum(masses) / masses.sum()
        out = []
        for q in qs:
            j = int(np.searchsorted(cdf, q, side="left"))
            out.append(float(dom[min(j, len(dom) - 1)]))
        return out

    def aqp(self, query: Query) -> list[dict]:
        """Approximate aggregate answer; one dict per output row
        (reference: spn_ensemble.py::evaluate_query, B12)."""
        base_cond, features = self._scope(query)

        if not query.group_bys:
            return _fold_aggregates(
                query,
                lambda op: self._agg_value(
                    query, (op.agg_type, op.operands, op.distinct), base_cond, features
                ),
            )

        # group-by (reference B9 + B8): the model-side distinct combos
        # form a grid; evaluate_groupby computes EVERY combination in
        # one tree pass per aggregate instead of one walk per combo.
        # Each axis enumerates the values a user WHERE range on its
        # column admits (the grid singleton must intersect the range,
        # never replace it)
        gb_cols = [c for _t, c in query.group_bys]
        gb_idx = [self._col_index(c) for c in gb_cols]

        def grid(feats, cond=base_cond, cols=gb_idx) -> np.ndarray:
            return self.full_join_size * self._eval(cond, feats, axes=cols)[1]

        axes, expectations = self._eval(base_cond, features, axes=gb_idx)
        count_grid = self.full_join_size * expectations

        def agg_grid(op) -> np.ndarray:
            feats = dict(features)
            if op.agg_type is AggregationType.COUNT and op.distinct:
                # grouped COUNT(DISTINCT c): extend the group grid by
                # the c-axis, then count cells with expected rows
                # >= 0.5 along it (group axes themselves are distinct
                # by construction: a group's own value contributes 1)
                ci = self._col_index(op.operands[0][1])
                if ci in axes:
                    return (count_grid > 0).astype(np.float64)
                return (
                    (grid(features, cols=gb_idx + [ci]) >= 0.5)
                    .sum(axis=-1)
                    .astype(np.float64)
                )
            # COUNT(col) and the AVG denominator exclude operand NULLs
            # (SQL semantics); group axes are never NULL so only
            # non-axis operands add a restriction
            ops_off_axis = [
                (t, c) for t, c in op.operands if self._col_index(c) not in axes
            ]
            if op.agg_type is AggregationType.COUNT:
                if not op.operands:
                    return count_grid
                return grid(feats, self._notnull_cond(base_cond, ops_off_axis))
            for _t, c in op.operands:
                feats[self._col_index(c)] = _identity
            val = grid(feats)
            if op.agg_type is AggregationType.SUM:
                return val
            den = (
                grid(features, self._notnull_cond(base_cond, ops_off_axis))
                if ops_off_axis
                else count_grid
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                return np.where(den > 0, val / den, np.nan)

        def groups() -> list[tuple[tuple, tuple]]:
            decoded = [
                [self._decoder(c)(v) for v in axes[i]]
                for c, i in zip(gb_cols, gb_idx)
            ]
            return [
                (tuple(dec[j] for dec, j in zip(decoded, idx)), tuple(idx))
                for idx in np.argwhere(count_grid >= 0.5)
            ]

        return _fold_aggregates(query, agg_grid, groups)

    # -- confidence intervals (reference B10, simplified) --------------
    def confidence_interval(
        self, query: Query, confidence: float = 0.95
    ) -> list[dict]:
        """Confidence intervals for COUNT/SUM/AVG with PER-NODE
        variance propagation (reference B10: aqp_spn.py variance
        methods + spn_ensemble.py CI assembly): each leaf contributes
        the sampling variance of its fitted estimate over its own
        training count, products combine independent factors, sum
        nodes add multinomial weight uncertainty
        (nodes.evaluate_with_variance). AVG uses the delta method on
        the SUM/COUNT ratio, treating numerator and denominator as
        independent (their covariance is dropped, as in the
        reference). GROUP BY queries return one row per (group,
        aggregate) with the group columns attached (reference:
        confidence_interval_evaluation over grouped AQP queries)."""
        _refuse_composite_ci(query)
        z = z_value(confidence)
        cond, features = self._scope(query)

        if query.group_bys:
            # grouped CIs (reference: confidence_interval_evaluation
            # over grouped AQP queries): enumerate the admitted combos
            # exactly like aqp(), then run the per-node variance pass
            # with the combo pinned as point conditions — one tree
            # pass per (group, aggregate), bounded by the same grid
            # cap as the batch path
            gb_cols = [c for _t, c in query.group_bys]
            gb_idx = [self._col_index(c) for c in gb_cols]
            axes, grid = self._eval(cond, features, axes=gb_idx)
            count_grid = self.full_join_size * grid
            decoders = [self._decoder(c) for c in gb_cols]
            out: list[dict] = []
            for idx in np.argwhere(count_grid >= 0.5):
                combo_cond = dict(cond)
                group_vals: dict = {}
                for a, (c, i) in enumerate(zip(gb_cols, gb_idx)):
                    code = float(axes[i][idx[a]])
                    if self.meta.columns[c].kind == "categorical":
                        combo_cond[i] = NominalRange([int(code)])
                    else:
                        combo_cond[i] = NumericRange([(code, code, True, True)])
                    group_vals[c] = decoders[a](code)
                rows_k = self._ci_rows(query, combo_cond, features, z)
                # HAVING on the CI plane: group membership is decided
                # on the POINT estimates — the same approximation class
                # as aqp()'s HAVING, so groups near the threshold can
                # flip; the intervals of surviving groups are unchanged
                if query.having and not _apply_having(
                    [{r["agg"]: r["est"] for r in rows_k}], query.having
                ):
                    continue
                for row in rows_k:
                    row.update(group_vals)
                    out.append(row)
            return out

        rows = self._ci_rows(query, cond, features, z)
        if query.having and not _apply_having(
            [{r["agg"]: r["est"] for r in rows}], query.having
        ):
            return []
        return rows

    def _ci_rows(
        self, query: Query, cond: dict[int, Range], features, z: float
    ) -> list[dict]:
        N = self.full_join_size
        p, var_p = self._eval(cond, features, moments=True)
        out = []
        for op in query.aggregations:
            if getattr(op, "distinct", False):
                raise ModelPlaneUnsupported(
                    "confidence intervals for COUNT(DISTINCT) are not "
                    "supported (the grid-cell count has no CLT-style "
                    "variance here); use the exact plane"
                )
            if op.agg_type is AggregationType.COUNT:
                est = N * p
                half = z * N * float(np.sqrt(max(var_p, 0.0)))
                # "sd" is the UNCLAMPED standard deviation: the lo>=0
                # clamp below is presentation only, and a composer
                # (ensemble OR-CI) reconstructing sd from (hi-lo)/2z
                # would understate it by up to 2x whenever the clamp
                # fires (round-5 advice)
                out.append(
                    {"agg": op.alias or "count", "est": est,
                     "lo": max(est - half, 0.0), "hi": est + half,
                     "sd": half / z if z > 0 else 0.0}
                )
                continue
            feats1 = dict(features)
            for _t, c in op.operands:
                feats1[self._col_index(c)] = _identity
            ex, var_ex = self._eval(cond, feats1, moments=True)
            if op.agg_type is AggregationType.SUM:
                est = N * ex
                half = z * N * float(np.sqrt(max(var_ex, 0.0)))
            else:  # AVG = E[x1]/E[1(x not null)]: delta method on ratio
                pn, var_pn = self._eval(
                    self._notnull_cond(cond, op.operands), features, moments=True
                )
                est = ex / pn if pn > 0 else float("nan")
                p2 = max(pn, 1e-12)
                g = var_ex / (p2 * p2) + (ex * ex) * var_pn / (p2**4)
                half = z * float(np.sqrt(max(g, 0.0)))
            out.append(
                {"agg": op.alias or op.agg_type.name.lower(), "est": est,
                 "lo": est - half, "hi": est + half,
                 "sd": half / z if z > 0 else 0.0}
            )
        return out

    # -- incremental updates (reference D5: AQPSPN.add_dataset) --------
    def add_dataset(self, rows: np.ndarray, n_total: int | None = None) -> None:
        """Absorb new rows (matrix in scope order) without retraining:
        leaves merge histograms, sum nodes re-weight by routing rows to
        the nearest stored cluster center.

        ``rows`` may be a SAMPLE of the delta; ``n_total`` is the true
        delta row count (defaults to ``len(rows)``, i.e. the full
        delta). Each absorbed row is weighted so the delta's effective
        sample mass matches its true share of the grown relation:
        m_eff / sample_size == n_total / full_join_size. Without this,
        a model trained on a fraction f of the table would over-weight
        a full delta by ~1/f (the round-1 bug)."""
        from .learn import scale_minmax

        n_sample = len(rows)
        if n_sample == 0:
            return
        n_total = n_sample if n_total is None else n_total
        weight = (self.sample_size * n_total) / (
            max(self.full_join_size, 1.0) * n_sample
        )

        def absorb(node: Node, data: np.ndarray, scope: list[int]) -> None:
            n_new = len(data) * weight
            if n_new == 0:
                return
            prior = getattr(node, "n_rows", self.sample_size)
            if hasattr(node, "values"):  # Leaf
                j = scope.index(node.scope[0])
                node.absorb(data[:, j], prior, weight=weight)
                node.n_rows = prior + n_new
                return
            if isinstance(node, Sum):
                # stored training mean for NULL imputation: routing
                # with the delta batch's own mean sent NULL-skewed
                # deltas to a different mixture component than the
                # same rows saw at training time
                x, _, _, _ = scale_minmax(
                    data[:, [scope.index(s) for s in node.scope]],
                    node.scale_lo,
                    node.scale_hi,
                    getattr(node, "scale_mean", None),
                )
                d = ((x[:, None, :] - node.cluster_centers[None, :, :]) ** 2).sum(
                    axis=2
                )
                labels = d.argmin(axis=1)
                total = prior + n_new
                for c, ch in enumerate(node.children):
                    mask = labels == c
                    ch_prior = getattr(ch, "n_rows", 0)
                    node.weights[c] = (
                        node.weights[c] * prior + mask.sum() * weight
                    ) / total
                    absorb(ch, data[mask], scope)
                    ch.n_rows = ch_prior + mask.sum() * weight
                node.n_rows = total
                return
            for ch in node.children:  # Product
                absorb(ch, data, scope)
            node.n_rows = prior + n_new

        absorb(self.root, rows, list(range(len(self.column_names))))
        self.sample_size += n_sample * weight
        self.full_join_size += n_total
        self.invalidate_cache()

    def remove_dataset(self, rows: np.ndarray, n_total: int | None = None) -> None:
        """Incremental DELETE support — beyond the reference (the
        DeepDB paper lists deletes as future work; D5 covers inserts
        only). Mirrors add_dataset with negative mass: each deleted
        row routes down the tree by the stored cluster centers, sum
        weights and leaf histograms decrement (clamped at zero) and
        renormalize, and full_join_size shrinks by the true delta
        count. ``rows`` may be a bounded sample of the delta;
        ``n_total`` is the true deleted row count."""
        from .learn import scale_minmax

        n_sample = len(rows)
        if n_sample == 0:
            return
        n_total = n_sample if n_total is None else n_total
        if n_total >= self.full_join_size:
            raise ValueError(
                f"delta deletes {n_total} rows but the model holds "
                f"{self.full_join_size:.0f}; retrain instead"
            )
        weight = (self.sample_size * n_total) / (
            max(self.full_join_size, 1.0) * n_sample
        )

        def remove(node: Node, data: np.ndarray, scope: list[int]) -> None:
            n_del = len(data) * weight
            prior = getattr(node, "n_rows", self.sample_size)
            if hasattr(node, "values"):  # Leaf
                j = scope.index(node.scope[0])
                node.absorb(data[:, j], prior, weight=-weight)
                node.n_rows = max(0.0, prior - n_del)
                return
            if isinstance(node, Sum):
                # stored training mean for NULL imputation: routing
                # with the delta batch's own mean sent NULL-skewed
                # deltas to a different mixture component than the
                # same rows saw at training time
                x, _, _, _ = scale_minmax(
                    data[:, [scope.index(s) for s in node.scope]],
                    node.scale_lo,
                    node.scale_hi,
                    getattr(node, "scale_mean", None),
                )
                d = ((x[:, None, :] - node.cluster_centers[None, :, :]) ** 2).sum(
                    axis=2
                )
                labels = d.argmin(axis=1)
                total = max(prior - n_del, 1e-9)
                for c, ch in enumerate(node.children):
                    mask = labels == c
                    ch_prior = getattr(ch, "n_rows", 0)
                    node.weights[c] = max(
                        0.0,
                        (node.weights[c] * prior - mask.sum() * weight) / total,
                    )
                    remove(ch, data[mask], scope)
                    ch.n_rows = max(0.0, ch_prior - mask.sum() * weight)
                wsum = sum(node.weights)
                if wsum <= 0:
                    raise ValueError(
                        "delete delta drained every mixture component; "
                        "retrain instead"
                    )
                node.weights = [w / wsum for w in node.weights]
                node.n_rows = max(0.0, prior - n_del)
                return
            for ch in node.children:  # Product
                remove(ch, data, scope)
            node.n_rows = max(0.0, prior - n_del)

        remove(self.root, rows, list(range(len(self.column_names))))
        self.sample_size = max(1.0, self.sample_size - n_sample * weight)
        self.full_join_size -= n_total
        self.invalidate_cache()
