"""SPN ensemble: model registry + query routing + persistence
(reference: ensemble_compilation/spn_ensemble.py::SPNEnsemble,
read_ensemble — SURVEY.md §2 B11-B13, D6-D9).

Routing (reference: _greedily_select_first_cardinality_spn): prefer
the model whose table set exactly matches the query; else the
smallest model whose table set covers it (fewer extra tables => fewer
fanout corrections => tighter estimates); else FACTORIZE — answer the
query as a product of factors across models (B11, reference:
evaluate_factors): a first model covers the largest connected,
condition-bearing piece of the query's join graph, then each frontier
FK edge multiplies in a conditional factor from another model —
fanout-weighted (via the frontier edge's multiplier column) when
expanding to a parent table, a cardinality ratio (nominator with the
new tables' conditions / denominator without, the reference's
``inverse`` factors) when expanding to a child.
"""

from __future__ import annotations

import functools
import itertools
import math
import pickle
from collections import Counter

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.prep import encode_table
from ..plans.query import (
    AggOperation,
    AggregationOperationType,
    AggregationType,
    Condition,
    Query,
    QueryType,
)
from ..plans.schema import SchemaGraph
from .learn import LearnParams
from .model import (
    MAX_GROUPBY_CELLS,
    GroupByExplosion,
    ModelPlaneUnsupported,
    SPNModel,
    _apply_having,
    _fold_aggregates,
    _refuse_composite_ci,
    z_value,
)
from .nodes import iter_leaves
from .rdc import rdc_matrix
from .trainer import train_spn_model

# Cross-piece grouped estimates price EVERY group key with its own
# factorized chain evaluation (~ms of driver math each), unlike a
# covering anchor's one-pass grid — so their grid cap is much tighter
# than model-side MAX_GROUPBY_CELLS (~10s worst case at 10k).
MAX_CROSS_PIECE_CELLS = 10_000


def _with_conditions(query: Query, extra: list) -> Query:
    """COUNT over ``query``'s tables and joins under its conditions
    plus ``extra``: the chain every scaled or group-pinned factorized
    estimate counts through."""
    return Query(
        query_type=QueryType.CARDINALITY,
        table_set=set(query.table_set),
        relationship_set=set(query.relationship_set),
        conditions=list(query.conditions) + list(extra),
    )


def _pin(query: Query, key: tuple, group_bys=None) -> Query:
    """``query`` (its tables, joins, conditions and aggregates) for ONE
    group, ungrouped: each GROUP BY column, or each of ``group_bys``,
    pinned to its value in ``key`` as ``t.c = v``."""
    pairs = query.group_bys if group_bys is None else group_bys
    return Query(
        query_type=query.query_type,
        table_set=set(query.table_set),
        relationship_set=set(query.relationship_set),
        conditions=list(query.conditions)
        + [Condition(t, c, "=", v) for (t, c), v in zip(pairs, key)],
        aggregations=list(query.aggregations),
    )


def _not_null(*refs) -> list[Condition]:
    """``t.c IS NOT NULL`` for every (table, column) of every list in
    ``refs``: the rows a grid axis or an aggregate operand counts."""
    return [Condition(t, c, "IS_NOT_NULL") for rs in refs for t, c in rs or ()]


def _single_aggregate(
    base: Query, agg_type, operands, group_bys=(), extra=()
) -> Query:
    """``base``'s tables, joins and conditions (plus ``extra``) asking
    ONE aggregate aliased ``v`` per group of ``group_bys``: the
    sub-answer every composed estimate reads back by name."""
    return Query(
        query_type=base.query_type,
        table_set=set(base.table_set),
        relationship_set=set(base.relationship_set),
        conditions=list(base.conditions) + list(extra),
        group_bys=list(group_bys),
        aggregations=[
            AggOperation(
                AggregationOperationType.AGGREGATION,
                agg_type,
                list(operands or []),
                alias="v",
            )
        ],
    )


class SPNEnsemble:
    def __init__(self, schema: SchemaGraph) -> None:
        self.schema = schema
        self.models: list[SPNModel] = []
        # optional pairwise-RDC map {frozenset({col_a, col_b}): rdc}
        # for RDC-aware factorization-anchor ranking (reference:
        # --rdc_spn_selection + pairwise_rdc_path)
        self.pairwise_rdc: dict[frozenset, float] | None = None
        # on-demand training (round 9): session-only, never persisted
        self._od_catalog: dict | None = None
        self._od_budget: int = 60_000
        self._od_params = None
        self._od_seed: int = 42
        self._od_attempted: set[frozenset] = set()

    def add_model(self, model: SPNModel) -> None:
        self.models.append(model)

    def enable_on_demand_training(
        self,
        catalog: dict[str, "DataFrame"],
        sample_budget: int = 60_000,
        params=None,
        seed: int = 42,
    ) -> None:
        """Let the ensemble train a missing model on demand instead of
        refusing (round 9 — closes the anchorless grouped refusal the
        round-8 review ranked #2): when a grouped query's group-by
        table, or an aggregate's operand tables, have NO covering
        model inside the query's join graph, a budgeted RSPN over
        exactly that table set is trained from ``catalog``, registered
        on the ensemble (so the factorized chain can also use it), and
        the anchor search retried. The reference instead requires an
        ensemble-creation strategy that pre-covers every table
        (reference: ensemble_creation/naive.py trains one SPN per
        table up front); on-demand training gives the same guarantee
        lazily, paying only for tables queries actually group on.
        Failed/unsupported table sets are memoized so a refusal stays
        O(1) on repeat. Session-only: save()/load() never carry the
        catalog handle."""
        self._od_catalog = catalog
        self._od_budget = sample_budget
        self._od_params = params
        self._od_seed = seed

    def _train_on_demand(self, need: set) -> "SPNModel | None":
        """Train + register a model over ``need`` if on-demand training
        is enabled, ``need``'s tables are known and FK-connected under
        the schema, and this set wasn't already attempted."""
        if self._od_catalog is None or not need:
            return None
        key = frozenset(need)
        if key in self._od_attempted:
            return None
        self._od_attempted.add(key)
        if not all(t in self.schema.tables and t in self._od_catalog for t in need):
            return None
        # connectivity under schema FK edges restricted to `need`:
        # train_spn_model outer-joins along those edges, so a
        # disconnected set would silently cross-join
        if len(need) > 1:
            adj: dict[str, set[str]] = {t: set() for t in need}
            for r in self.schema.relationships.values():
                if r.start in need and r.end in need:
                    adj[r.start].add(r.end)
                    adj[r.end].add(r.start)
            seen = {next(iter(sorted(need)))}
            frontier = list(seen)
            while frontier:
                t = frontier.pop()
                for u in adj[t] - seen:
                    seen.add(u)
                    frontier.append(u)
            if seen != set(need):
                return None
        model = train_spn_model(
            self._od_catalog,
            self.schema,
            set(need),
            self._od_budget,
            self._od_params,
            self._od_seed,
        )
        self.add_model(model)
        return model

    def enable_rdc_selection(self, pairwise_rdc: dict[frozenset, float]) -> None:
        """Query-time RDC-aware SPN selection (reference:
        spn_ensemble.py rdc_spn_selection): when several factorization
        anchors cover equally many condition tables, prefer the one
        whose piece models correlated condition-column pairs JOINTLY —
        a correlated pair split across factors is estimated under an
        independence assumption the data contradicts."""
        self.pairwise_rdc = pairwise_rdc

    def _cond_pair_rdc(self, query: Query, piece: set[str]) -> float:
        """Sum of pairwise RDC over condition columns whose tables the
        anchor piece covers jointly."""
        if not self.pairwise_rdc:
            return 0.0
        # cross-column OR groups carry column=None at the top level;
        # rank on their member disjuncts' columns instead of missing
        # the lookup entirely (the correlated-pair case this ranking
        # exists for)
        cols = []
        for c in query.conditions:
            if c.op == "OR" and c.column is None:
                cols.extend(
                    sub.column
                    for sub in c.value
                    if sub.table in piece and sub.column is not None
                )
            elif c.table in piece and c.column is not None:
                cols.append(c.column)
        total = 0.0
        for i in range(len(cols)):
            for j in range(i + 1, len(cols)):
                total += self.pairwise_rdc.get(
                    frozenset((cols[i], cols[j])), 0.0
                )
        return round(total, 6)

    # -- selection (B11) ----------------------------------------------
    def select_model(self, query: Query) -> SPNModel:
        exact = [m for m in self.models if m.table_set == query.table_set]
        if exact:
            return exact[0]
        covering = [m for m in self.models if query.table_set <= m.table_set]
        if not covering:
            raise ValueError(
                f"no model covers table set {sorted(query.table_set)}"
            )
        return min(covering, key=lambda m: len(m.table_set))

    # -- multi-SPN factorization (B11) ---------------------------------
    def _factorized_cardinality(self, query: Query, max_variants: int = 1) -> float:
        """Cardinality of a query whose table set no single model
        covers, as a product of per-model factors (reference:
        spn_ensemble.py::_cardinality_greedy + evaluate_factors).
        Assumes FK integrity (non-null FKs), as the reference does.

        ``max_variants`` > 1 averages the estimates of several
        factorizations, each anchored on a different (model, piece)
        choice for the first factor (reference: the max_variants knob
        of _cardinality_greedy — averaging over factorization variants
        shrinks the variance of any single greedy choice)."""
        ests = [est for est, _trace in self._variant_factors(query, max_variants)]
        return float(sum(ests) / len(ests))

    def _ranked_variants_or_seed(self, query: Query) -> list:
        """Ranked factorization anchors; when the ensemble covers NONE
        of the query's tables and on-demand training is enabled
        (round 9), seed one budgeted single-table model and re-rank —
        _expand_factors trains any further missing tables edge by
        edge, so the whole chain self-heals from an empty cover."""
        variants = self._rank_first_factors(query)
        if not variants:
            # try EVERY query table in deterministic order, not just
            # the lexicographically smallest: one table may be missing
            # from the on-demand catalog while another is trainable
            # (round-9 ADVICE) — stop at the first successful seed
            for t in sorted(query.table_set):
                if self._train_on_demand({t}) is not None:
                    variants = self._rank_first_factors(query)
                    break
        if not variants:
            raise ValueError(
                f"no model covers any of {sorted(query.table_set)}"
            )
        return variants

    def _variant_factors(
        self, query: Query, max_variants: int = 1, keep_traces: bool = False
    ) -> list[tuple[float, list[dict]]]:
        """(estimate, trace) per evaluated factorization variant — the
        first ``max_variants`` anchors that reach full coverage. Both
        cardinality() and explain_factors() go through here so the
        traces always correspond to the variants the estimate
        averaged."""
        variants = self._ranked_variants_or_seed(query)
        out: list[tuple[float, list[dict]]] = []
        limit = max(1, max_variants)
        # walk the FULL ranking, keeping the first `limit` anchors
        # whose expansion succeeds: an anchor that cannot reach full
        # coverage is skipped, not fatal (keeps cardinality() and
        # _factorized_count_moments answering the same query set)
        for _key, first, covered in variants:
            if len(out) >= limit:
                break
            trace: list[dict] = [] if keep_traces else None
            try:
                est = self._expand_factors(query, first, set(covered), trace)
            except ValueError:
                continue  # this anchor can't reach full coverage
            out.append((est, trace))
        if not out:
            raise ValueError(
                "query join graph is disconnected across models"
            )
        return out

    def _chain_count(self, query: Query, extra: list | None = None) -> float:
        """Factorized cardinality of the FULL query with optional extra
        conditions — the scaling chain every grouped/per-value
        factorized estimate divides through."""
        return float(self.cardinality(_with_conditions(query, extra or [])))

    def _grouped_anchor(self, query: Query, need: set, component):
        """Best (model, piece) covering every table in ``need`` inside
        ONE connected piece of the query's join graph, ranked by
        condition-table coverage, then piece size, then earliest
        registration. None when no model qualifies (callers fall back
        or raise their own ModelPlaneUnsupported)."""
        if not need:
            return None
        cond_tables = {c.table for c in query.conditions}
        cands = []
        for mi, m in enumerate(self.models):
            avail = m.table_set & set(query.table_set)
            if not need <= avail:
                continue
            piece = component(avail, next(iter(need)))
            if not need <= piece:
                continue
            cands.append((len(piece & cond_tables), len(piece), -mi, m, piece))
        if not cands:
            # train a budgeted model over exactly `need` on demand
            # (when enabled) instead of returning the refusal
            m = self._train_on_demand(need)
            if m is not None:
                avail = m.table_set & set(query.table_set)
                if need <= avail:
                    piece = component(avail, next(iter(need)))
                    if need <= piece:
                        return m, piece
            return None
        cands.sort(key=lambda t: t[:3], reverse=True)
        _nc, _np, _mi, m, piece = cands[0]
        return m, piece

    def _query_graph(self, query: Query):
        schema_rels = self.schema.relationships
        q_rels = [schema_rels[r] for r in sorted(query.relationship_set)]
        adj: dict[str, list] = {t: [] for t in query.table_set}
        for r in q_rels:
            adj[r.start].append((r, r.end))
            adj[r.end].append((r, r.start))

        def component(avail: set[str], seed: str) -> set[str]:
            """Connected subset of ``avail`` (w.r.t. query edges)
            containing ``seed``."""
            comp, stack = {seed}, [seed]
            while stack:
                u = stack.pop()
                for _r, v in adj[u]:
                    if v in avail and v not in comp:
                        comp.add(v)
                        stack.append(v)
            return comp

        def sub_query(
            tables: set[str],
            with_conds: bool = True,
            cond_tables: set[str] | None = None,
        ) -> Query:
            """Sub-query over ``tables``; ``cond_tables`` restricts
            which tables contribute conditions (exploit_overlapping
            denominators keep overlap conditions but drop the new
            piece's)."""
            sub = Query(table_set=set(tables))
            sub.relationship_set = {
                r.identifier
                for r in q_rels
                if r.start in tables and r.end in tables
            }
            if with_conds:
                allowed = tables if cond_tables is None else cond_tables
                sub.conditions = [
                    c for c in query.conditions if c.table in allowed
                ]
            return sub

        return q_rels, component, sub_query

    def _rank_first_factors(self, query: Query) -> list:
        """All candidate (model, connected piece) anchors for a
        factorized estimate, best first: most condition tables
        covered, then (with enable_rdc_selection) highest pairwise RDC
        among jointly-covered condition columns, then largest piece,
        then smallest model (fewest fanout corrections)."""
        q_tables = set(query.table_set)
        cond_tables = {c.table for c in query.conditions}
        _q_rels, component, _sub_query = self._query_graph(query)
        out = []
        for mi, m in enumerate(self.models):
            avail = m.table_set & q_tables
            seen: set[str] = set()
            for s in sorted(avail):
                if s in seen:
                    continue
                comp = component(avail, s)
                seen |= comp
                key = (
                    len(comp & cond_tables),
                    self._cond_pair_rdc(query, comp),
                    len(comp),
                    -len(m.table_set),
                    -mi,
                )
                out.append((key, m, frozenset(comp)))
        out.sort(key=lambda t: t[0], reverse=True)
        return out

    @staticmethod
    def _subq_key(q: Query) -> tuple:
        """Canonical identity of a sub-query for factor cancellation:
        two sub-queries with the same key evaluate identically on the
        same model."""
        return (
            frozenset(q.table_set),
            frozenset(q.relationship_set),
            tuple(sorted(str(c) for c in q.conditions)),
        )

    def _expand_factors(
        self,
        query: Query,
        first: SPNModel,
        covered: set[str],
        trace: list | None = None,
    ) -> float:
        """Evaluate one factorization variant (see _factor_chain);
        ``trace`` collects one dict per factor (explain_factors)."""
        return self._evaluate_steps(*self._factor_chain(query, first, covered), trace)

    def _factor_chain(
        self, query: Query, first: SPNModel, covered: set[str]
    ) -> tuple[list[dict], int]:
        """One factorization variant as symbolic steps: the first model
        answers its piece, then each frontier FK edge multiplies in a
        conditional factor (reference: evaluate_factors).

        Factors are collected SYMBOLICALLY first — each step
        contributes nominator/denominator terms keyed by (model, kind,
        canonical sub-query) — and algebraically-identical
        nominator/denominator pairs are cancelled across steps before
        anything is evaluated (reference: spn_ensemble.py::
        merge_indicator_exp). Cancellation is exact when the term is
        nonzero (identical expressions evaluate identically, so the
        product is unchanged) and strictly better when it is zero:
        the chain anchor reappearing in a later denominator would
        turn the whole product into 0 * (0/0-guard) = 0, while the
        cancelled form keeps the meaningful remainder. It also skips
        the cancelled evaluations entirely. Returns the steps with only
        their surviving terms, and the number of cancelled pairs
        (_cancel_factors)."""
        q_tables = set(query.table_set)
        cond_tables = {c.table for c in query.conditions}
        q_rels, component, sub_query = self._query_graph(query)

        # symbolic factor accumulation: (key, thunk) terms. Strict
        # indexing: every model here comes from self.models, and a
        # shared -1 fallback would alias DISTINCT unregistered models
        # into one term slot and wrongly cancel their factors.
        mi_of = {id(m): i for i, m in enumerate(self.models)}

        def card_term(m: SPNModel, subq: Query):
            def rel_var() -> float:
                p, v = m._card_moments(subq)
                return v / (p * p) if p > 0 else 0.0

            return (
                ("card", mi_of[id(m)], self._subq_key(subq)),
                lambda: m.cardinality(subq),
                rel_var,
            )

        def wexp_term(m: SPNModel, subq: Query, rel):
            def rel_var() -> float:
                p, v = m._weighted_expectation_moments(subq, rel)
                return v / (p * p) if p > 0 else 0.0

            return (
                ("wexp", mi_of[id(m)], self._subq_key(subq), rel.identifier),
                lambda: m._weighted_expectation(subq, rel),
                rel_var,
            )

        anchor_q = sub_query(covered)
        steps: list[dict] = [
            {
                "noms": [card_term(first, anchor_q)],
                "dens": [],
                "const": 1.0,
                "trace": {
                    "kind": "anchor",
                    "model": sorted(first.table_set),
                    "tables": sorted(covered),
                },
            }
        ]
        # which (model, piece) covered each table — needed to fanout-
        # weight the covered side when expanding toward a child table
        piece_of = {t: (first, frozenset(covered)) for t in covered}

        # expand one frontier edge at a time
        while covered < q_tables:
            edge = next(
                (
                    r
                    for r in q_rels
                    if (r.start in covered) != (r.end in covered)
                ),
                None,
            )
            if edge is None:
                raise ValueError(
                    "query join graph is disconnected across models"
                )
            new_t = edge.end if edge.start in covered else edge.start
            parent_new = new_t == edge.end
            uncovered = q_tables - covered
            cands = []
            for mi, m in enumerate(self.models):
                if new_t not in m.table_set:
                    continue
                D = component(uncovered & m.table_set, new_t)
                usable = (
                    edge.multiplier_attribute_name in m.column_names
                    if parent_new
                    else edge.end in m.table_set
                )
                # exploit_overlapping (reference: spn_ensemble.py
                # exploit_overlapping): condition-bearing COVERED
                # tables this model also spans let the factor be
                # conditioned on their predicates — cross-model
                # correlation the plain conditional factor misses.
                # Overlap-bearing models rank above smaller ones.
                overlap = m.table_set & covered & cond_tables
                cands.append(
                    (
                        usable,
                        len(D & cond_tables),
                        len(overlap),
                        len(D),
                        -len(m.table_set),
                        # -mi: ties prefer the EARLIEST-registered
                        # model, like every other ranking here
                        -mi,
                        D,
                        overlap,
                    )
                )
            if not cands:
                # same closure as the grouped plane — train a
                # budgeted single-table model over the missing frontier
                # table on demand (when enabled) instead of refusing;
                # its boundary multiplier column makes it `usable` for
                # fanout-weighted parent factors immediately
                m_new = self._train_on_demand({new_t})
                if m_new is not None:
                    mi_of[id(m_new)] = len(self.models) - 1
                    D = component(uncovered & m_new.table_set, new_t)
                    cands.append(
                        (
                            edge.multiplier_attribute_name
                            in m_new.column_names
                            if parent_new
                            else edge.end in m_new.table_set,
                            len(D & cond_tables),
                            len(m_new.table_set & covered & cond_tables),
                            len(D),
                            -len(m_new.table_set),
                            -(len(self.models) - 1),
                            D,
                            m_new.table_set & covered & cond_tables,
                        )
                    )
            if not cands:
                raise ValueError(f"no model covers table {new_t!r}")
            cands.sort(key=lambda t: t[:6], reverse=True)
            usable, _nc, _no, _nd, _sz, neg_mi, D, overlap = cands[0]
            m = self.models[-neg_mi]
            noms: list = []
            dens: list = []
            const = 1.0
            if parent_new:
                if usable:
                    # fanout-weighted P(conds over D | parent
                    # referenced [, overlap conds])
                    noms.append(wexp_term(m, sub_query(D | overlap), edge))
                    dens.append(
                        wexp_term(
                            m, sub_query({new_t} | overlap, cond_tables=overlap), edge
                        )
                    )
                else:  # no multiplier column: unweighted fraction
                    noms.append(card_term(m, sub_query(D | overlap)))
                    dens.append(
                        card_term(
                            m, sub_query(D | overlap, cond_tables=overlap)
                        )
                    )
            else:
                if usable:
                    # qualifying child-side tuples per qualifying
                    # parent (parent + overlap conditions in BOTH)
                    noms.append(card_term(m, sub_query(D | {edge.end} | overlap)))
                    dens.append(card_term(m, sub_query({edge.end} | overlap)))
                else:
                    mp, piece = piece_of.get(edge.end, (None, None))
                    has_mul = (
                        mp is not None
                        and edge.multiplier_attribute_name in mp.column_names
                    )
                    # per CHILD ROW (not per D-tuple): divides out only
                    # the new_t count so D's further fanout survives
                    if has_mul:
                        # (avg child fanout per qualifying covered
                        # tuple — captures fanout <-> predicate
                        # correlation) x (qualifying D-join tuples per
                        # child row). fan_den = card(piece)/fjs becomes
                        # a denominator card term and a fjs constant —
                        # the term that cancels against the ANCHOR when
                        # piece == the anchor piece (merge_indicator_exp
                        # chain case).
                        pq = sub_query(set(piece))
                        noms.append(wexp_term(mp, pq, edge))
                        noms.append(card_term(m, sub_query(D)))
                        dens.append(card_term(mp, pq))
                        dens.append(
                            card_term(m, sub_query({new_t}, with_conds=False))
                        )
                        const = mp.full_join_size
                    else:  # assume children uniform over parents
                        end_q = Query(table_set={edge.end})
                        noms.append(card_term(m, sub_query(D)))
                        dens.append(
                            (
                                ("ens_card", self._subq_key(end_q)),
                                lambda end_q=end_q: self.cardinality(end_q),
                                # no variance thunk: the uniform-
                                # children fallback's denominator is a
                                # (near-exact) base-table count whose
                                # sampling variance is negligible next
                                # to the conditioned nominators
                                None,
                            )
                        )
            steps.append(
                {
                    "noms": noms,
                    "dens": dens,
                    "const": const,
                    "trace": {
                        "kind": "parent_factor" if parent_new else "child_factor",
                        "model": sorted(m.table_set),
                        "edge": edge.identifier,
                        "new_tables": sorted(D),
                        "overlap": sorted(overlap),
                    },
                }
            )
            covered |= D
            for t in D:
                piece_of[t] = (m, frozenset(D))
        return self._cancel_factors(steps)

    @staticmethod
    def _cancel_factors(steps: list[dict]) -> tuple[list[dict], int]:
        """Cancel identical nominator/denominator terms across steps
        (reference: spn_ensemble.py::merge_indicator_exp): each key
        appearing both as a nominator and a denominator skips that many
        of each, earliest first. Returns every step with only its
        surviving terms, and the number of cancelled pairs — the one
        pass the estimate, its trace and its delta-method variance all
        read."""
        nom_counts = Counter(k for s in steps for k, *_ in s["noms"])
        den_counts = Counter(k for s in steps for k, *_ in s["dens"])
        cancel = {
            k: min(nom_counts[k], den_counts[k])
            for k in nom_counts.keys() & den_counts.keys()
        }
        budgets = {"noms": dict(cancel), "dens": dict(cancel)}

        def survivors(s: dict, side: str) -> list:
            budget, out = budgets[side], []
            for term in s[side]:
                if budget.get(term[0], 0) > 0:
                    budget[term[0]] -= 1
                else:
                    out.append(term)
            return out

        kept = [
            dict(s, noms=survivors(s, "noms"), dens=survivors(s, "dens"))
            for s in steps
        ]
        return kept, sum(cancel.values())

    @staticmethod
    def _evaluate_steps(
        steps: list[dict], cancelled_pairs: int, trace: list | None
    ) -> float:
        """Product of the surviving factor terms (_cancel_factors).
        Each evaluated key is computed once and memoized here, on top
        of the per-model B13 cache."""
        values: dict = {}

        def ev(key, fn) -> float:
            if key not in values:
                values[key] = float(fn())
            return values[key]

        est = 1.0
        for s in steps:
            est *= s["const"]
            for k, fn, _var in s["noms"]:
                est *= ev(k, fn)
            for k, fn, _var in s["dens"]:
                d = ev(k, fn)
                if d <= 0:
                    est = 0.0
                    break
                est /= d
            if est == 0.0:
                break
        if trace is not None:
            # per-step values come from the CANCELLED terms, like the
            # estimate above, so product-of-trace-values == estimate
            # holds even in the zero-anchor case — the very case
            # cancellation changes semantics (round-5 advice: the old
            # uncancelled trace showed a 0 product while the returned
            # estimate was nonzero)
            for s in steps:
                nom_v = 1.0
                for k, fn, _var in s["noms"]:
                    nom_v *= ev(k, fn)
                den_v = 1.0
                zero_den = False
                for k, fn, _var in s["dens"]:
                    d = ev(k, fn)
                    if d <= 0:
                        zero_den = True
                        break
                    den_v *= d
                t = dict(s["trace"])
                t["value"] = 0.0 if zero_den else s["const"] * nom_v / den_v
                trace.append(t)
            if cancelled_pairs:
                trace.append(
                    {
                        "kind": "cancellation",
                        "cancelled_pairs": cancelled_pairs,
                        # multiplicatively neutral: with the cancelled
                        # per-step values above, the product-of-values
                        # == estimate invariant genuinely survives
                        # this informational entry
                        "value": 1.0,
                    }
                )
        return est

    @staticmethod
    def _steps_rel_variance(steps: list[dict]) -> float:
        """RELATIVE variance of the factor-chain product over the
        surviving terms (_cancel_factors), delta-method composed: for
        independent factors, rel-vars of nominators and denominators
        ADD (var(xy)/xy² ≈ vx/x² + vy/y², same for ratios). Cancelled
        pairs contribute zero (they cancel exactly, not just in
        expectation). Terms with no variance thunk (the
        uniform-children ensemble denominator) contribute zero."""
        memo: dict = {}
        total = 0.0
        for s in steps:
            for key, _fn, var_fn in s["noms"] + s["dens"]:
                if var_fn is None:
                    continue
                if key not in memo:
                    memo[key] = float(var_fn())
                total += memo[key]
        return total

    def _factorized_count_moments(self, query: Query) -> tuple[float, float]:
        """(estimate, sd) for a COUNT over a table set no single model
        covers: the best-anchor factorization's value plus its delta-
        method variance through the factor chain (B10 ∘ B11 — closes
        the multi-model OR-CI gap). Single-variant, like
        cardinality(max_variants=1)."""
        variants = self._ranked_variants_or_seed(query)
        for _key, first, covered in variants:
            try:
                steps, pairs = self._factor_chain(query, first, set(covered))
                est = self._evaluate_steps(steps, pairs, None)
                rel_var = self._steps_rel_variance(steps)
            except ValueError:
                continue
            return float(est), float(est) * math.sqrt(max(rel_var, 0.0))
        raise ValueError("query join graph is disconnected across models")

    def explain_factors(self, query: Query, max_variants: int = 1) -> list[dict]:
        """The factor decomposition a cardinality estimate would use
        (reference: SPNEnsemble verbose factor output): one dict per
        factor — the anchor model's piece estimate, then each frontier
        expansion with its model, edge, overlap set, and value. Each
        dict carries a ``variant`` index; within one variant the
        product of anchor x factors is that variant's estimate, and
        ``cardinality(query, max_variants=k)`` is the mean over
        variants. Pass the same ``max_variants`` used for the estimate
        so the traced variants match (default 1: the single-variant
        product IS the estimate). A query one model covers returns a
        single 'single_model' entry. Cross-column OR groups expand to
        one 'ie_term' entry per signed inclusion-exclusion term."""
        if self._complex_or_index(query) is not None:
            terms: list = []
            self._signed_sum(
                query, lambda q: {(): self.cardinality(q, max_variants)}, trace=terms
            )
            return [
                {
                    "kind": "ie_term",
                    "sign": s,
                    "conditions": [str(c) for c in q.conditions],
                    "value": answer[()],
                    "variant": 0,
                }
                for s, q, answer in terms
            ]
        try:
            model = self.select_model(query)
        except ValueError:
            out: list[dict] = []
            for k, (_est, trace) in enumerate(
                self._variant_factors(query, max_variants, keep_traces=True)
            ):
                for f in trace:
                    f["variant"] = k
                out.extend(trace)
            return out
        return [
            {
                "kind": "single_model",
                "model": sorted(model.table_set),
                "tables": sorted(query.table_set),
                "value": model.cardinality(query),
                "variant": 0,
            }
        ]

    # -- cross-column OR via inclusion-exclusion (grammar extension) ---
    @staticmethod
    def _complex_or_index(query: Query) -> int | None:
        """Index of the first CROSS-column OR group (Condition.column
        is None), or None. Same-column groups are handled inside the
        models as range unions and never reach this machinery."""
        for i, c in enumerate(query.conditions):
            if c.op == "OR" and c.column is None:
                return i
        return None

    def _ie_terms(self, query: Query) -> list[tuple[float, Query]]:
        """Expand every cross-column OR group into signed conjunctive
        sub-queries: card(A ∨ B) = card(A) + card(B) − card(A ∧ B),
        generally Σ_{∅≠S} (−1)^{|S|+1} card(∧S). COUNT and SUM are
        linear in the indicator, so the same signed sum answers them;
        AVG is a ratio of two such sums (see aqp). The parser caps
        group width (MAX_OR_DISJUNCTS), bounding the expansion."""
        i = self._complex_or_index(query)
        if i is None:
            return [(1.0, query)]
        cond = query.conditions[i]
        before, after = query.conditions[:i], query.conditions[i + 1:]
        out: list[tuple[float, Query]] = []
        for r in range(1, len(cond.value) + 1):
            sign = 1.0 if r % 2 else -1.0
            for subset in itertools.combinations(cond.value, r):
                q2 = Query(
                    query_type=query.query_type,
                    table_set=set(query.table_set),
                    relationship_set=set(query.relationship_set),
                    conditions=before + list(subset) + after,
                    group_bys=list(query.group_bys),
                    aggregations=list(query.aggregations),
                )
                out.extend(
                    (sign * s, q) for s, q in self._ie_terms(q2)
                )
        return out

    def _signed_sum(self, query: Query, per_term, positive=None, trace=None):
        """The one signed-term sum over the inclusion-exclusion terms
        (_ie_terms; a conjunctive query is its own single +1 term).
        ``per_term(q)`` answers one term as {key: value}; values
        combine key-wise — a float, or a {value: mass} dict per value,
        signed; an (est, var) pair with the estimate signed and the
        variance added (signs square away; per-term sampling errors
        are treated as independent). Returns (total, visible): the keys
        some POSITIVE term produced — for which ``positive(value)``
        holds, when given — since negative terms only subtract overlap
        mass and never reveal a new key. ``trace`` collects (sign,
        term, term answer)."""
        total: dict = {}
        visible: set = set()
        for sign, q in self._ie_terms(query):
            answer = per_term(q)
            if trace is not None:
                trace.append((sign, q, answer))
            for key, val in answer.items():
                if sign > 0 and (positive is None or positive(val)):
                    visible.add(key)
                if isinstance(val, dict):
                    slot = total.setdefault(key, {})
                    for v, mass in val.items():
                        slot[v] = slot.get(v, 0.0) + sign * mass
                elif isinstance(val, tuple):
                    est, var = total.get(key, (0.0, 0.0))
                    total[key] = (est + sign * val[0], var + val[1])
                else:
                    total[key] = total.get(key, 0.0) + sign * val
        return total, visible

    # -- answering -----------------------------------------------------
    def cardinality(self, query: Query, max_variants: int = 1) -> float:
        if self._complex_or_index(query) is not None:
            total, _ = self._signed_sum(
                query, lambda q: {(): self.cardinality(q, max_variants)}
            )
            return max(total[()], 0.0)
        try:
            model = self.select_model(query)
        except ValueError:
            return self._factorized_cardinality(query, max_variants)
        return model.cardinality(query)

    def aqp(self, query: Query) -> list[dict]:
        if self._complex_or_index(query) is not None:
            return self._aqp_inclusion_exclusion(query)
        try:
            model = self.select_model(query)
        except ValueError:
            return self._aqp_factorized(query)
        return model.aqp(query)

    def _aqp_factorized(self, query: Query) -> list[dict]:
        """AQP over a table set no single model covers — an EXTENSION
        past the reference, which evaluates aggregates within one SPN
        (relationship ensembles are trained so common join shapes have
        one): COUNT rides the B11 factor chain directly; SUM/AVG use
        the anchor decomposition

            AVG(x | J, conds) ≈ AVG_anchor(x | anchor-local conds)
            SUM(x | J, conds) ≈ AVG_anchor(...) × COUNT_chain(conds
                                               AND x IS NOT NULL)

        which drops correlation between x and REMOTE predicates — the
        same independence the factorized COUNT already assumes for
        remote selectivities (budget-tested, documented, not exact).
        The anchor is the model covering x's table whose piece spans
        the most condition-bearing tables.

        GROUPED queries: when one anchor piece covers every
        group-by table AND aggregate operand, the anchor's per-group
        grid supplies the group PROPORTIONS and the factor chain the
        TOTAL — per-group estimate = anchor-group value × (chain total
        / anchor total), i.e. remote factors are assumed
        group-independent (they carry no group column, so this is the
        natural extension of the same independence). Groups are
        re-thresholded at 0.5 expected rows after scaling. When the
        group-by tables and operands live in DIFFERENT models the
        anchor splits (_aqp_factorized_grouped_split): per-group
        COUNTs ride the full factor chain with the group value pinned
        as an equality condition, and the operand mean comes from the
        operand anchor's local AVG.
        COUNT(DISTINCT) thresholds the factorized per-value masses
        (_cell_masses): anchor per-value grid scaled by the factor
        chain's NOT-NULL total."""
        if query.group_bys:
            return self._aqp_factorized_grouped(query)

        def value_of(op) -> float:
            if op.distinct:
                # COUNT(DISTINCT) over a multi-model table set: the
                # factorized per-value masses, thresholded
                return self._distinct_counts(query, op.operands[:1])[()]
            nn = _not_null(op.operands)
            if op.agg_type is AggregationType.COUNT:
                return self._chain_count(query, nn)
            # AVG of the operand product from the best local model
            m, local = self._anchor_local(query, op.operands)
            (row,) = m.aqp(local)
            avg = float(row["v"])
            if op.agg_type is AggregationType.AVG:
                return avg
            return avg * self._chain_count(query, nn)  # SUM

        return _fold_aggregates(query, value_of)

    def _aqp_inclusion_exclusion(self, query: Query) -> list[dict]:
        """AQP over cross-column OR groups: each COUNT/SUM output is
        the signed sum of per-term evaluations; AVG is the signed SUM
        over the signed (NULL-skipping) COUNT. Grouped queries combine
        the per-term GRIDS per group key: a group's output row exists
        iff some POSITIVE single-disjunct term produced it (the union
        of the disjuncts' group sets — exactly SQL's visible groups),
        and its values are the signed sums over all terms (missing
        term-groups contribute 0)."""
        gb_cols = [c for _t, c in query.group_bys]
        # visible groups: the keys the POSITIVE terms give the FIRST
        # aggregate (_signed_sum) — a group appears in SQL's output
        # iff some disjunct conjunction admits rows for it
        visible: set[tuple] | None = None if gb_cols else {()}

        def signed(agg_type, operands) -> dict[tuple, float]:
            """group key tuple -> signed sum (key = () when ungrouped).
            Valid for COUNT/SUM — linear in the row indicator. NOT
            valid for per-term THRESHOLDED distinct counts (a value
            can satisfy different disjuncts on different rows), so
            COUNT(DISTINCT) never routes here: it signs per-value or
            per-(group, value) masses instead (_signed_masses)."""
            nonlocal visible
            total, keys = self._signed_sum(
                query,
                # full router: terms over table sets no single model
                # covers take the factorized path (incl. grouped)
                lambda q: {
                    tuple(row[c] for c in gb_cols): row["v"]
                    for row in self.aqp(
                        _single_aggregate(q, agg_type, operands, q.group_bys)
                    )
                },
            )
            if visible is None:
                visible = keys
            return total

        def value_of(op) -> dict[tuple, float]:
            nonlocal visible
            if op.agg_type is AggregationType.AVG:
                num = signed(AggregationType.SUM, op.operands)
                den = signed(AggregationType.COUNT, op.operands)
                return {
                    k: (num.get(k, 0.0) / den[k])
                    if den.get(k, 0.0) > 0
                    else float("nan")
                    for k in visible
                }
            if op.distinct:
                val = self._distinct_counts(query, op.operands[:1], query.group_bys)
                if visible is None:
                    visible = set(val)
                return val
            val = signed(op.agg_type, op.operands)
            if op.agg_type is AggregationType.COUNT:
                # IE residue can overshoot below zero (the same
                # reason cardinality() clamps); a negative COUNT
                # is an impossible SQL value. SUM legitimately
                # goes negative, so only COUNT clamps.
                val = {k: max(v, 0.0) for k, v in val.items()}
            return val

        return _fold_aggregates(
            query, value_of, lambda: [(k, k) for k in sorted(visible or (), key=repr)]
        )

    def _signed_masses(
        self, query: Query, values: list, group_bys=()
    ) -> dict[tuple, dict]:
        """{visible group key: {decoded value cell: signed expected rows}}
        over the (table, column) refs ``values`` per group of
        ``group_bys``; ungrouped, the one key (). Inclusion-exclusion
        applies to the per-value MASSES (P(gb=g AND col=v AND ·) is
        linear in the row indicator), so the expected-rows threshold is
        taken on the COMBINED mass. Signing thresholded per-term COUNTS
        would be wrong: a value can satisfy A on one row and B on
        another without any row satisfying A AND B, so distinct SETS do
        not obey |D(A or B)| = |D(A)| + |D(B)| - |D(A and B)|. Masses
        are combined in EXPECTED-ROW units (each term's own
        full_join_size) keyed by DECODED values: terms answered by
        different models must not mix probability masses over
        different denominators or per-model dictionary codes. Terms
        over table sets no single model covers ride the factorized
        masses (_cell_masses). Visible groups follow the aqp rule: a
        group appears iff some POSITIVE term gives it expected rows >=
        0.5."""
        g = len(group_bys)

        def per_term(q: Query) -> dict[tuple, dict]:
            out: dict[tuple, dict] = {}
            for cell, rows in self._cell_masses(q, values, group_bys).items():
                out.setdefault(cell[:g], {})[cell[g:]] = rows
            return out

        total, visible = self._signed_sum(
            query, per_term, positive=lambda vm: sum(vm.values()) >= 0.5
        )
        return {key: total.get(key, {}) for key in (visible if g else [()])}

    @staticmethod
    def _threshold_count(masses) -> float:
        """Values with at least 0.5 expected rows: the pruning rule every
        distinct/grid estimate here uses."""
        return float(sum(1 for rows in masses if rows >= 0.5))

    def _distinct_counts(
        self, query: Query, values: list, group_bys=()
    ) -> dict[tuple, float]:
        """{visible group key: COUNT(DISTINCT values)} (key () when
        ungrouped) for any query the model plane answers: the signed
        masses of _signed_masses, thresholded per value cell."""
        return {
            key: self._threshold_count(vm.values())
            for key, vm in self._signed_masses(query, values, group_bys).items()
        }

    def _occupancy_moments(
        self, query: Query, values: list, group_bys=()
    ) -> dict[tuple, list[float]]:
        """{visible group key: [est, var]} for COUNT(DISTINCT values).
        The point
        estimate is the SAME 0.5-threshold count aqp emits
        (_distinct_counts), so CI and aqp answers agree. The
        variance treats each value's presence as an independent
        Bernoulli under a Poisson occupancy model: rows carrying value
        v arrive ~Poisson(m_v), where m_v is the value's combined
        signed expected-row mass, so P(v present) = 1 - exp(-m_v) and
        var = Σ_v p_v(1 - p_v) — a Poisson-binomial over values.
        Values whose mass sits far from the 0.5 threshold contribute
        ~0 variance; a wide CI therefore flags exactly the
        borderline-mass queries where the threshold estimator itself
        is fragile. The point estimate centers at the threshold count
        while the occupancy MEAN is Σ_v p_v — in the borderline regime
        the two diverge, so the center offset is folded into the
        variance in quadrature (var += (est - Σp)²), keeping the
        interval calibrated without moving the estimate off the aqp
        answer (tests/test_round8_fixes.py::
        test_occupancy_ci_calibration_numpy pins coverage). Grouped,
        the per-(group, value) masses combine exactly as the grouped
        aqp's, with the same visible groups. (The reference has
        neither distinct estimation nor OR grammar — extension
        surface.)"""
        return {
            key: self._occupancy_moments_from_masses(vm.values())
            for key, vm in self._signed_masses(query, values, group_bys).items()
        }

    @staticmethod
    def _occupancy_moments_from_masses(masses) -> list[float]:
        """[est, var] from combined per-value expected-row masses:
        est = 0.5-threshold count (the aqp estimator), var = Poisson-
        binomial occupancy variance Σ p(1-p) plus the squared offset
        between the threshold center and the occupancy mean Σp."""
        est, mean, var = 0.0, 0.0, 0.0
        for rows in masses:
            if rows >= 0.5:
                est += 1.0
            p = 1.0 - math.exp(-max(rows, 0.0))
            mean += p
            var += p * (1.0 - p)
        var += (est - mean) ** 2
        return [est, var]

    def _cell_masses(
        self, query: Query, values: list, group_bys=()
    ) -> dict[tuple, float]:
        """{decoded cell over the axes ``group_bys`` + ``values``
        ((table, column) refs): expected FULL-query rows} for one
        conjunctive (OR-free) query — the one owner of factorized mass
        grids. A covering model reads its own grid (B8/B9). Table sets
        no single model covers extend the factorized COUNT (B11): the
        anchor covering every axis table in one connected piece
        supplies the grid, scaled by the factor chain's count with
        every axis NOT NULL over the anchor's total (grids exclude
        NULLs on every axis, so both measure the same rows) — i.e.
        remote predicates are assumed group- and value-independent, the
        per-cell form of the independence the factorized COUNT already
        assumes for remote selectivities (reference: spn_ensemble.py::
        evaluate_factors; budget-tested, not exact). With no such
        anchor a grouped request (``group_bys`` is the query's GROUP
        BY) pins each cross-piece group key and reads the pinned
        query's ungrouped masses; an ungrouped one raises
        ModelPlaneUnsupported."""
        axes = list(group_bys) + list(values)
        cols = [c for _t, c in axes]
        try:
            model = self.select_model(query)
        except ValueError:
            model = None
        if model is not None:
            return model._grouped_value_masses(cols, query)
        _q_rels, component, sub_query = self._query_graph(query)
        tables = {t for t, _c in axes}
        anchor = self._grouped_anchor(query, tables, component)
        if anchor is None:
            if not group_bys:
                raise ModelPlaneUnsupported(
                    f"no model covers {sorted(tables)} in one connected "
                    "piece: use the exact plane"
                )
            return {
                key + cell: rows
                for key in self._cross_piece_group_keys(query, component, sub_query)
                for cell, rows in self._cell_masses(_pin(query, key), values).items()
            }
        m, piece = anchor
        cells = m._grouped_value_masses(cols, sub_query(set(piece)))
        tot = sum(cells.values())
        if tot <= 0:
            return {}
        sc = self._chain_count(query, _not_null(axes)) / tot
        return {cell: rows * sc for cell, rows in cells.items()}

    def _col_ref(self, col: str, query: Query) -> tuple[str, str]:
        """(owning table, column) for a bare column name, resolved
        against the query's table scope via the models' column->table
        maps. Ambiguity (two in-scope tables sharing the name) raises
        instead of silently picking one — a wrong table here would
        yield a plausible-looking but wrong distinct estimate."""
        tables = {
            t
            for m in self.models
            if (t := m.column_table.get(col)) and t in query.table_set
        }
        if len(tables) > 1:
            raise ValueError(
                f"column '{col}' is ambiguous in this query scope "
                f"(tables {sorted(tables)}); qualify it"
            )
        if tables:
            return next(iter(tables)), col
        raise ValueError(f"no model knows a table for column '{col}'")

    def _aqp_factorized_grouped(self, query: Query) -> list[dict]:
        """Grouped AQP over a table set no single model covers: the
        anchor's per-group grid supplies group PROPORTIONS, the factor
        chain the TOTAL (see _aqp_factorized's docstring for the
        group-independence assumption). Requires one model covering
        every group-by table and aggregate operand inside a connected
        piece of the query's join graph."""
        gb_cols = [c for _t, c in query.group_bys]
        need = {t for t, _c in query.group_bys} | {
            t for op in query.aggregations for t, _c in (op.operands or [])
        }
        _q_rels, component, sub_query = self._query_graph(query)
        anchor = self._grouped_anchor(query, need, component)
        if anchor is None:
            # group-by tables and aggregate operands live in different
            # models (e.g. GROUP BY nation.n_name with
            # SUM(lineitem.l_extendedprice) over a singles+pairs
            # ensemble): split the anchor
            return self._aqp_factorized_grouped_split(query)
        m, piece = anchor

        # grids and scaled counts are cached for this answer only: the
        # COUNT(*) output is the anchor count, and SUM and AVG (or
        # COUNT) over the same operands share their grids
        @functools.cache
        def grid(agg_type, operands: tuple) -> dict[tuple, float]:
            lq = _single_aggregate(
                sub_query(set(piece)), agg_type, operands, query.group_bys
            )
            return {tuple(r[c] for c in gb_cols): float(r["v"]) for r in m.aqp(lq)}

        def weight_edge():
            """The anchor piece's single frontier FK edge whose PARENT
            end lies inside the piece and whose multiplier column the
            anchor model carries: when the query expands
            from the piece DOWN such an edge, the query's row measure
            replicates each piece row by its child fanout — so group
            PROPORTIONS must be taken fanout-weighted or a
            group↔fanout correlation is silently dropped (the
            unit fixture: 'A' parents have 4× the children,
            the unweighted grid splits 0.4/0.6 instead of the true
            0.73/0.27). Child-side frontier edges keep measure (each
            piece row joins upward exactly once) and need no weight.
            With several parent-side frontier edges the single-edge
            weighted expectation can't express the joint product —
            fall back to the documented unweighted proportions."""
            qt = set(query.table_set)
            cands = [
                r
                for r in (
                    self.schema.relationships[i]
                    for i in sorted(query.relationship_set)
                )
                if r.end in piece
                and r.start in qt - set(piece)
                and r.multiplier_attribute_name in m.column_names
            ]
            return cands[0] if len(cands) == 1 else None

        @functools.cache
        def scaled_count(operands: tuple) -> dict[tuple, float]:
            g = grid(AggregationType.COUNT, operands)
            wrel = weight_edge()
            if wrel is not None and g:
                lq = _with_conditions(sub_query(set(piece)), _not_null(operands))
                gw = {
                    k: float(
                        m._weighted_expectation(_pin(lq, k, query.group_bys), wrel)
                    )
                    for k in g
                }
                if sum(gw.values()) > 0:
                    g = gw
            tot = sum(g.values())
            if tot <= 0:
                return {k: 0.0 for k in g}
            # the anchor grid's group axes exclude NULLs, so the chain
            # total must too (without the group-column NOT NULL pins,
            # null-group row mass inflates every group)
            sc = self._chain_count(query, _not_null(operands, query.group_bys)) / tot
            return {k: v * sc for k, v in g.items()}

        def value_of(op) -> dict[tuple, float]:
            ops = tuple(op.operands or [])
            if op.distinct:
                # per-group COUNT(DISTINCT col): the anchor's per-(group,
                # value) masses scaled by the factor chain (the same
                # group-independent remote factor scaled_count assumes),
                # then the 0.5-expected-rows threshold per cell
                return self._distinct_counts(query, op.operands[:1], query.group_bys)
            if op.agg_type is AggregationType.COUNT:
                return scaled_count(ops)
            if op.agg_type is AggregationType.AVG:
                # ratios are scale-free: the anchor's per-group AVG IS
                # the estimate (remote factors cancel)
                return grid(AggregationType.AVG, ops)
            # SUM = per-group AVG x per-group scaled nn-count
            avg_g = grid(AggregationType.AVG, ops)
            cnt_g = scaled_count(ops)
            return {
                k: avg_g.get(k, 0.0) * cnt_g.get(k, 0.0)
                for k in set(avg_g) | set(cnt_g)
            }

        visible = [k for k, v in scaled_count(()).items() if v >= 0.5]
        return _fold_aggregates(
            query, value_of, lambda: [(k, k) for k in sorted(visible, key=repr)]
        )

    def _aqp_factorized_grouped_split(self, query: Query) -> list[dict]:
        """Grouped AQP where the group-by tables and the aggregate
        operands are covered only by DIFFERENT models (e.g. GROUP BY
        nation.n_name with SUM(lineitem.l_extendedprice) over a
        singles+pairs ensemble — the SSB Q3/Q4 flight shape): each
        group value is pinned as an equality condition on the FULL
        factorized cardinality chain, so the per-group COUNT keeps
        every group↔condition and fanout correlation the
        factorization can see; the operand's per-row mean comes from
        the operand anchor's local AVG and is group-independent by
        assumption — it lives in a model with no group column, the
        same remote-independence the ungrouped anchor decomposition
        (_aqp_factorized) documents.

            COUNT_g = COUNT_chain(conds AND g = v)
            SUM_g   = AVG_anchor(local conds)
                      × COUNT_chain(conds AND g = v AND x NOT NULL)
            AVG_g   = AVG_anchor(local conds)  (constant over groups)

        The group grid is enumerated from the best model covering all
        group-by tables in one connected piece (its GroupByExplosion
        cap applies); emitted keys are re-thresholded at 0.5 expected
        rows on the pinned chain COUNT. Cost: O(|groups| × aggs)
        factorized cardinality evaluations — driver-side SPN passes,
        ms-class each. reference: ensemble_compilation/
        spn_ensemble.py factorized expectation chains (the reference
        instead trains a relationship model per common join shape;
        this path removes that requirement)."""
        gb_cols = [c for _t, c in query.group_bys]
        need_g = {t for t, _c in query.group_bys}
        _q_rels, component, sub_query = self._query_graph(query)
        anchor = self._grouped_anchor(query, need_g, component)
        if anchor is not None:
            mg, gpiece = anchor
            lq = _single_aggregate(
                sub_query(set(gpiece)), AggregationType.COUNT, [], query.group_bys
            )
            keys = [tuple(r[c] for c in gb_cols) for r in mg.aqp(lq)]
        else:
            # group-by tables themselves span models with no single
            # covering anchor: enumerate each piece's key
            # grid from its own anchor and cross-product; the pinned
            # chain COUNT below recovers cross-piece correlations and
            # the 0.5-expected-rows threshold prunes impossible combos
            keys = self._cross_piece_group_keys(query, component, sub_query)

        # cached for this answer only: COUNT(*) is the visibility
        # count, and SUM shares its AVG grid and pinned NOT-NULL count
        # with AVG and COUNT over the same operands
        @functools.cache
        def pinned_count(operands: tuple) -> dict:
            nn = _not_null(operands)
            return {k: self._chain_count(_pin(query, k), nn) for k in keys}

        @functools.cache
        def avg_grid(operands: tuple) -> dict:
            """{group key: AVG(operands)} from the operand anchor.
            Group columns living INSIDE the operand's piece are pinned
            per key (the anchor sees that group↔operand correlation
            directly); group columns outside the piece stay unpinned —
            the remote-independence assumption _aqp_factorized
            documents. When no group table intersects the piece this
            degenerates to one group-independent AVG, the original
            split-anchor behavior."""
            m, local = self._anchor_local(query, list(operands))
            in_piece = [
                i
                for i, (t, _c) in enumerate(query.group_bys)
                if t in local.table_set
            ]
            (row,) = m.aqp(local)
            a0 = float(row["v"])
            if not in_piece:
                return {k: a0 for k in keys}
            pinned = [query.group_bys[i] for i in in_piece]
            out: dict[tuple, float] = {}
            cache: dict[tuple, float] = {}
            for k in keys:
                pk = tuple(k[i] for i in in_piece)
                if pk not in cache:
                    try:
                        (r,) = m.aqp(_pin(local, pk, pinned))
                        a = float(r["v"])
                    except (ValueError, ZeroDivisionError):
                        a = a0
                    cache[pk] = a if math.isfinite(a) else a0
                out[k] = cache[pk]
            return out

        visible = [k for k, n in pinned_count(()).items() if n >= 0.5]

        def value_of(op) -> dict:
            ops = tuple(op.operands or [])
            if op.distinct:
                # distinct column lives in a different model than the
                # group-by columns: pin each group key as an equality
                # condition (the split pattern the per-group COUNTs
                # already use) and threshold the factorized per-value
                # masses of the pinned chain
                return {
                    k: self._distinct_counts(_pin(query, k), op.operands[:1])[()]
                    for k in keys
                }
            if op.agg_type is AggregationType.COUNT:
                return pinned_count(ops)
            if op.agg_type is AggregationType.AVG:
                return avg_grid(ops)
            ag = avg_grid(ops)  # SUM
            cnt = pinned_count(ops)
            return {k: ag[k] * cnt[k] for k in keys}

        return _fold_aggregates(
            query, value_of, lambda: [(k, k) for k in sorted(visible, key=repr)]
        )

    def _cross_piece_group_keys(
        self, query: Query, component, sub_query
    ) -> list[tuple]:
        """Candidate group keys when NO single model covers every
        group-by table in one connected piece: the group-by columns
        are partitioned greedily into anchor-covered subsets (columns
        sharing an anchor's piece are enumerated JOINTLY from that
        model, preserving within-piece group correlations); the
        per-piece value grids are then cross-producted. Cross-piece
        correlations are NOT captured here — the caller recovers them
        by pinning every full key as equality conditions on the
        factorized cardinality chain and re-thresholding at 0.5
        expected rows, so impossible combinations get ~0 chain mass
        and are pruned. The combined grid honors the same
        MAX_GROUPBY_CELLS cap as every model-side grid. reference:
        ensemble_compilation/spn_ensemble.py::
        evaluate_factors_group_by (the reference requires one covering
        model; this composes per-piece grids instead)."""
        remaining = list(enumerate(query.group_bys))
        parts: list[tuple[list[int], list[tuple]]] = []
        while remaining:
            t0 = remaining[0][1][0]
            anchor = self._grouped_anchor(query, {t0}, component)
            if anchor is None:
                raise ModelPlaneUnsupported(
                    f"no model covers group-by table '{t0}' inside the "
                    "query's join graph; use the exact plane"
                )
            m, piece = anchor
            sub = [(i, gb) for i, gb in remaining if gb[0] in piece]
            remaining = [(i, gb) for i, gb in remaining if gb[0] not in piece]
            lq = _single_aggregate(
                sub_query(set(piece)),
                AggregationType.COUNT,
                [],
                [gb for _i, gb in sub],
            )
            cols = [c for _i, (_t, c) in sub]
            parts.append(
                (
                    [i for i, _gb in sub],
                    [(tuple(r[c] for c in cols), float(r["v"])) for r in m.aqp(lq)],
                )
            )
        # per-piece mass pruning BEFORE the cross product (round 10):
        # the caller re-thresholds every combined key at 0.5 expected
        # chain rows, and a combined key's chain mass is bounded by
        # T * p_i(k_i) for EVERY piece i (the other pieces' proportions
        # are <= 1), so a piece key whose marginal proportion times the
        # full-chain total T cannot reach the threshold can never
        # survive in ANY combination — dropping it changes no estimate,
        # only skips doomed chain evaluations. This raises the
        # effective cardinality ceiling (a 200x200 raw grid whose true
        # support is sparse now fits) without touching the cap. The
        # 2x margin (0.25 vs 0.5) absorbs chain-vs-marginal estimation
        # drift near the boundary.
        if len(parts) > 1:
            try:
                chain_total = self._chain_count(query)
            except ValueError:
                chain_total = None
            if chain_total is not None and chain_total > 0:
                pruned_parts = []
                for idxs, ks in parts:
                    total_i = sum(v for _k, v in ks)
                    if total_i > 0:
                        kept = [
                            (k, v)
                            for k, v in ks
                            if chain_total * (v / total_i) >= 0.25
                        ]
                        # never prune a piece to nothing: keep the
                        # heaviest key so the cross product stays
                        # non-empty (the caller's re-threshold decides)
                        if not kept:
                            kept = [max(ks, key=lambda kv: kv[1])]
                        ks = kept
                    pruned_parts.append((idxs, ks))
                parts = pruned_parts
        # tighter cap than MAX_GROUPBY_CELLS: a covering anchor reads
        # its grid in ONE tree pass, but every cross-piece key costs a
        # full factorized chain evaluation downstream (~ms each), so
        # 2M cells would be tens of minutes of driver math — callers
        # (Engine.estimate) catch GroupByExplosion and fall back exact
        cap = min(MAX_GROUPBY_CELLS, MAX_CROSS_PIECE_CELLS)
        n_cells = math.prod(len(ks) for _idx, ks in parts)
        if n_cells > cap:
            raise GroupByExplosion(
                f"cross-piece group grid has {n_cells} cells (> {cap}: "
                "each key is priced by a separate factorized chain "
                "evaluation); use the exact plane"
            )
        n = len(query.group_bys)
        keys = []
        for combo in itertools.product(*([k for k, _v in ks] for _idx, ks in parts)):
            row: list = [None] * n
            for (idxs, _ks), kp in zip(parts, combo):
                for i, v in zip(idxs, kp):
                    row[i] = v
            keys.append(tuple(row))
        return keys

    def _anchor_local(self, query: Query, operands: list[tuple[str, str]]):
        """(model, local AVG sub-query) for the anchor decomposition:
        the model covering the operand product's tables whose piece of
        the query's join graph spans the most condition-bearing
        tables; the sub-query carries that piece's local conditions
        and an AVG over the operands aliased 'v'."""
        _q_rels, component, sub_query = self._query_graph(query)
        tabs = {t for t, _c in operands}
        # _grouped_anchor enforces tabs <= piece: a model covering all
        # operand tables whose piece does NOT connect them would have
        # silently dropped an operand table and its WHERE conditions
        anchor = self._grouped_anchor(query, tabs, component)
        if anchor is None:
            raise ModelPlaneUnsupported(
                f"no model covers aggregate operands {sorted(tabs)} in "
                "one connected piece: use the exact plane"
            )
        m, piece = anchor
        local = _single_aggregate(sub_query(set(piece)), AggregationType.AVG, operands)
        return m, local

    def _factorized_sum_moments(
        self, query: Query, operands: list[tuple[str, str]]
    ) -> tuple[float, float]:
        """(estimate, sd) for SUM(operands) over a table set no single
        model covers: the anchor decomposition SUM ≈ AVG_local ×
        COUNT_chain(conds AND operands NOT NULL), with the delta
        method over the product — relative variances of the anchor's
        AVG (its B10 CI sd) and the factor chain's COUNT add. Shares
        the independence assumption _aqp_factorized documents."""
        cnt, sd_c = self._factorized_count_moments(
            _with_conditions(query, _not_null(operands))
        )
        m, local = self._anchor_local(query, operands)
        (row,) = m.confidence_interval(local, confidence=0.95)
        avg, sd_a = float(row["est"]), float(row.get("sd", 0.0))
        est = avg * cnt
        rel = 0.0
        if cnt > 0:
            rel += (sd_c / cnt) ** 2
        if avg != 0:
            rel += (sd_a / avg) ** 2
        return est, abs(est) * math.sqrt(rel)

    def _factorized_grouped_ci_moments(
        self, query: Query, agg_type, operands: list[tuple[str, str]]
    ) -> dict[tuple, tuple[float, float]]:
        """{group key: (est, sd)} for a grouped COUNT/SUM over a table
        set no single model covers: the anchor's grouped B10 rows
        (per-group est + UNCLAMPED sd in the piece measure) are scaled
        by the factor chain's total, and the chain's relative variance
        adds to each group's (delta method over the product; the
        anchor-total/chain correlation is dropped — same independence
        as everywhere in the factorization). Emitted keys follow the
        anchor's own >=0.5-expected-rows pruning.

        When NO model covers the group-by tables + operands in one
        piece, each cross-piece group key is pinned as
        equality conditions on the query and the UNGROUPED factorized
        moments of the pinned query answer per key — pins whose table
        lies in the operand anchor's piece flow into its local AVG
        automatically, so in-piece group↔operand correlations are
        kept; keys are pruned at 0.5 expected chain rows."""
        gb_cols = [c for _t, c in query.group_bys]
        need = {t for t, _c in query.group_bys} | {
            t for t, _c in (operands or [])
        }
        _q_rels, component, sub_query = self._query_graph(query)
        anchor = self._grouped_anchor(query, need, component)
        if anchor is None:
            keys = self._cross_piece_group_keys(query, component, sub_query)
            out: dict[tuple, tuple[float, float]] = {}
            for k in keys:
                qk = _pin(query, k)
                cnt, sd_c = self._factorized_count_moments(qk)
                if cnt < 0.5:
                    continue  # same visibility rule as the grouped grids
                if agg_type is AggregationType.COUNT:
                    out[k] = (cnt, sd_c)
                else:  # SUM
                    out[k] = self._factorized_sum_moments(
                        qk, list(operands or [])
                    )
            return out
        m, piece = anchor
        local = _single_aggregate(
            sub_query(set(piece)), agg_type, operands, query.group_bys
        )
        rows = m.confidence_interval(local, confidence=0.95)  # sd is z-free
        anchor = {
            tuple(r[c] for c in gb_cols): (float(r["est"]), float(r["sd"]))
            for r in rows
        }
        tot = sum(e for e, _sd in anchor.values())
        if agg_type is AggregationType.COUNT and tot <= 0:
            # no anchor mass to apportion. SUM totals legitimately go
            # <= 0 for negative-valued operands — the SUM branch
            # scales by its own not-null COUNT total (guarded below),
            # so only the COUNT branch gates on this quantity.
            return {}
        # group axes exclude NULLs in the anchor's grouped rows, so
        # the chain must pin them NOT NULL too
        chain, sd_chain = self._factorized_count_moments(
            _with_conditions(query, _not_null(operands, query.group_bys))
        )
        rel_chain = (sd_chain / chain) ** 2 if chain > 0 else 0.0
        if agg_type is AggregationType.COUNT:
            scale = chain / tot
        else:
            # for SUM the chain scales the NOT-NULL count mass; the
            # anchor total of the SUM rows is replaced by the anchor's
            # nn-count total so the ratio is count-over-count
            cnt_local = _single_aggregate(
                sub_query(set(piece)), AggregationType.COUNT, operands, query.group_bys
            )
            tot_nn = sum(float(r["v"]) for r in m.aqp(cnt_local))
            if tot_nn <= 0:
                return {}
            scale = chain / tot_nn
        out: dict[tuple, tuple[float, float]] = {}
        for key, (e, sd) in anchor.items():
            est = e * scale
            rel = rel_chain + ((sd / e) ** 2 if e != 0 else 0.0)
            out[key] = (est, abs(est) * math.sqrt(rel))
        return out

    def distinct_count(self, query: Query, cols: list[str]) -> float:
        """COUNT(DISTINCT cols) estimate from the covering model (B9
        exposed — see SPNModel.distinct_count). ``query`` carries the
        table scope and optional conditions. Cross-column OR groups
        combine per-VALUE masses by signed sums; multi-column requests
        sign the full cross grid cell-wise and threshold each cell's
        COMBINED expected rows. Table sets no single model covers
        threshold the factorized per-cell masses (_cell_masses)."""
        if self._complex_or_index(query) is None:
            try:
                model = self.select_model(query)
            except ValueError:
                model = None
            if model is not None:
                return model.distinct_count(cols, query)
        refs = [self._col_ref(c, query) for c in cols]
        return self._distinct_counts(query, refs)[()]

    def quantile(
        self, query: Query, col: str, qs: list[float]
    ) -> list[float]:
        """Model-plane quantiles (see SPNModel.quantile). Cross-column
        OR groups combine per-term value masses by signed sums —
        P(col = v AND (A or B)) is linear in the indicator, so
        inclusion-exclusion applies pointwise; negative residue from
        approximation error clamps at zero."""
        if self._complex_or_index(query) is None:
            return self.select_model(query).quantile(col, qs, query)
        # type-check BEFORE the per-term grid passes: a wide OR group
        # expands to up to 2^n - 1 terms, each a batch SPN evaluation
        cm = self.select_model(query).meta.columns[col]
        if cm.kind == "categorical":
            raise ValueError(
                f"quantiles need a numeric column; '{col}' is categorical"
            )

        def per_term(q: Query) -> dict[float, float]:
            dom, masses = self.select_model(q)._value_masses(col, q)
            return {float(v): float(m) for v, m in zip(dom, masses)}

        acc, _ = self._signed_sum(query, per_term)
        items = sorted((v, max(m, 0.0)) for v, m in acc.items())
        total = sum(m for _, m in items)
        if not items or total <= 0:
            return [float("nan")] * len(qs)
        vals = np.array([v for v, _ in items])
        cdf = np.cumsum([m for _, m in items]) / total
        return [
            float(vals[min(int(np.searchsorted(cdf, q, side="left")), len(vals) - 1)])
            for q in qs
        ]

    def topk_groups(
        self, query: Query, k: int, by: str | None = None
    ) -> list[dict]:
        """Approximate top-k groups WITHOUT scanning the data: the
        grouped AQP grid (B8/B9) sorted by one output aggregate
        (default: the first) and truncated to k — the model-plane
        answer to 'which groups dominate?' that a 100 TB exact
        group-by would need a full shuffle to give."""
        rows = self.aqp(query)
        if not rows:
            return rows
        gb = {c for _t, c in query.group_bys}
        agg_keys = [c for c in rows[0] if c not in gb]
        key = by or (agg_keys[0] if agg_keys else None)
        if key is None:
            raise ValueError("query has no aggregate output to rank by")
        return sorted(
            rows,
            key=lambda r: (r[key] is not None, r[key] if r[key] is not None else 0.0),
            reverse=True,
        )[:k]

    def confidence_interval(self, query: Query, confidence: float = 0.95):
        if self._complex_or_index(query) is not None:
            return self._ci_inclusion_exclusion(query, confidence)
        if any(
            getattr(op, "distinct", False) for op in query.aggregations
        ):
            # COUNT(DISTINCT) CIs use the Poisson-occupancy moments,
            # which live on the IE path (1 term for conjunctive
            # queries); the per-model CI has no distinct variance
            return self._ci_inclusion_exclusion(query, confidence)
        try:
            model = self.select_model(query)
        except ValueError:
            # round 8: a conjunctive query over a table set no single
            # model covers is the 1-term inclusion-exclusion case —
            # the factorized (grouped) moments compose identically
            return self._ci_inclusion_exclusion(query, confidence)
        return model.confidence_interval(query, confidence)

    def _ci_inclusion_exclusion(
        self, query: Query, confidence: float
    ) -> list[dict]:
        """CIs for COUNT/SUM under cross-column OR (closes the last OR
        gap vs the exact plane): the estimate is the signed sum over
        inclusion-exclusion terms, and the variance composes as the
        UNSIGNED sum of per-term variances (signs square away;
        per-term sampling errors are treated as independent — the
        terms share training data so this is an approximation, but the
        shared mass inflates each term's variance symmetrically and
        observed coverage at 0.9/0.95 holds, see
        tests/test_round5_fixes.py coverage test). Visible groups
        follow the aqp rule: the union of POSITIVE terms' group keys.

        AVG composes by the delta method over the two signed sums
        (S = signed SUM moments, C = signed not-null-COUNT moments;
        var ≈ var_S/C² + S²·var_C/C⁴ with the S,C covariance dropped —
        the same independence the single-model AVG CI assumes).
        Terms whose table set NO single model covers get their
        (est, sd) from the factor chain: COUNT via
        _factorized_count_moments, SUM via _factorized_sum_moments
        (anchor AVG × count chain), grouped via
        _factorized_grouped_ci_moments. COUNT(DISTINCT) gets
        Poisson-occupancy moments over the signed per-value masses
        (_occupancy_moments); HAVING filters groups by their point
        estimates (same approximation class as aqp's HAVING).
        Composite aggregates (agg ± agg) raise ModelPlaneUnsupported,
        as on the single-model path."""
        _refuse_composite_ci(query)
        z = z_value(confidence)
        gb_cols = [c for _t, c in query.group_bys]
        visible: set[tuple] = set() if gb_cols else {()}

        def signed_moments(agg_type, operands, extra=()):
            """{group key: (signed est, summed variance)} for ONE
            aggregate (_signed_sum); positive terms' keys feed the
            shared `visible` set (the aqp rule)."""

            def per_term(q: Query) -> dict[tuple, tuple[float, float]]:
                q1 = _single_aggregate(q, agg_type, operands, q.group_bys, extra)
                try:
                    model = self.select_model(q)
                except ValueError:
                    model = None
                if model is None:
                    # no single model covers the term's table set: the
                    # factorized chain supplies (est, sd) via the delta
                    # method over its factors
                    if gb_cols:
                        moments = self._factorized_grouped_ci_moments(
                            q1, agg_type, list(operands or [])
                        )
                    elif agg_type is AggregationType.COUNT:
                        moments = {(): self._factorized_count_moments(q1)}
                    else:  # SUM; the AVG output composes from the
                        # signed SUM and signed not-null-COUNT moments
                        # in the generic per_op code below
                        moments = {
                            (): self._factorized_sum_moments(q1, list(operands))
                        }
                    return {k: (est, sd * sd) for k, (est, sd) in moments.items()}
                out = {}
                for row in model.confidence_interval(q1, confidence):
                    # prefer the model's UNCLAMPED sd: the COUNT row's
                    # lo is clamped at 0 for presentation, so
                    # (hi-lo)/2z understates sd by up to 2x whenever
                    # the clamp fired — exactly the small/noisy counts
                    # where negative IE terms matter
                    sd = row.get("sd")
                    if sd is None:
                        sd = (row["hi"] - row["lo"]) / (2.0 * z)
                    out[tuple(row[c] for c in gb_cols)] = (row["est"], sd * sd)
                return out

            total, keys = self._signed_sum(query, per_term)
            visible.update(keys)
            return total

        per_op: list[tuple[str, str, dict]] = []  # (name, kind, moments)
        for op in query.aggregations:
            if op.distinct:
                # Poisson-occupancy moments, grouped via per-(group,
                # value) masses
                name = op.alias or "count_distinct"
                moments = self._occupancy_moments(
                    query, op.operands[:1], query.group_bys
                )
                visible.update(moments)
                per_op.append((name, "count", moments))
            elif op.agg_type is AggregationType.COUNT:
                name = op.alias or "count"
                per_op.append(
                    (name, "count", signed_moments(op.agg_type, op.operands))
                )
            elif op.agg_type is AggregationType.SUM:
                name = op.alias or "sum"
                per_op.append(
                    (name, "sum", signed_moments(op.agg_type, op.operands))
                )
            else:  # AVG = signed-SUM / signed-not-null-COUNT, delta method
                name = op.alias or "avg"
                s_m = signed_moments(AggregationType.SUM, op.operands)
                c_m = signed_moments(
                    AggregationType.COUNT, [], _not_null(op.operands[:1])
                )
                ratio: dict[tuple, list[float]] = {}
                for key in set(s_m) | set(c_m):
                    S, var_s = s_m.get(key, (0.0, 0.0))
                    C, var_c = c_m.get(key, (0.0, 0.0))
                    if C <= 0:
                        ratio[key] = [float("nan"), 0.0]
                        continue
                    ratio[key] = [
                        S / C,
                        var_s / (C * C) + (S * S) * var_c / (C**4),
                    ]
                per_op.append((name, "avg", ratio))
        out: list[dict] = []
        for key in sorted(visible, key=repr):
            key_rows: list[dict] = []
            ests: dict[str, float] = {}
            for name, kind, moments in per_op:
                est, var = moments.get(key, (0.0, 0.0))
                half = z * float(var) ** 0.5
                lo, hi = est - half, est + half
                if kind == "count":
                    est, lo = max(est, 0.0), max(lo, 0.0)
                row = dict(zip(gb_cols, key))
                row.update({"agg": name, "est": est, "lo": lo, "hi": hi})
                key_rows.append(row)
                ests[name] = est
            # HAVING: membership decided on the point estimates, same
            # approximation class as aqp()
            if query.having and not _apply_having([ests], query.having):
                continue
            out.extend(key_rows)
        return out

    def answer(self, query: Query):
        if query.query_type is QueryType.CARDINALITY:
            return self.cardinality(query)
        return self.aqp(query)

    # -- persistence (D9) ---------------------------------------------
    def stats(self) -> dict:
        """Ensemble observability (paper parity: ensembles are
        MB-scale and ship to a driver): per-model node/leaf/value
        counts and pickled size in bytes."""
        models = []
        for m in self.models:
            leaves = list(iter_leaves(m.root))
            n_nodes = 0
            stack = [m.root]
            while stack:
                node = stack.pop()
                n_nodes += 1
                stack.extend(getattr(node, "children", []) or [])
            models.append(
                {
                    "table_set": sorted(m.table_set),
                    "n_nodes": n_nodes,
                    "n_leaves": len(leaves),
                    "n_leaf_values": int(sum(len(lf.values) for lf in leaves)),
                    "pickled_bytes": len(pickle.dumps(m)),
                }
            )
        return {
            "n_models": len(models),
            "total_bytes": sum(m["pickled_bytes"] for m in models),
            "models": models,
        }

    def save(self, path: str) -> None:
        with open(path, "wb") as f:
            pickle.dump(
                {"models": self.models, "pairwise_rdc": self.pairwise_rdc}, f
            )

    @classmethod
    def load(cls, path: str, schema: SchemaGraph) -> "SPNEnsemble":
        with open(path, "rb") as f:
            payload = pickle.load(f)
        ens = cls(schema)
        ens.models = payload["models"]
        ens.pairwise_rdc = payload.get("pairwise_rdc")
        return ens


# -- ensemble creation strategies (reference: ensemble_creation/) -----


def create_single_table_ensemble(
    catalog: dict[str, DataFrame],
    schema: SchemaGraph,
    tables: list[str],
    sample_budget: int = 100_000,
    params: LearnParams | None = None,
    seed: int = 42,
) -> SPNEnsemble:
    """One RSPN per base table (reference: naive.py::
    create_naive_all_split_ensemble, D6)."""
    ens = SPNEnsemble(schema)
    for t in tables:
        ens.add_model(
            train_spn_model(catalog, schema, {t}, sample_budget, params, seed)
        )
    return ens


def score_fk_edges(
    catalog: dict[str, DataFrame],
    schema: SchemaGraph,
    tables: list[str],
    rdc_sample: int = 5_000,
    seed: int = 42,
) -> dict[str, float]:
    """Max RDC between NON-KEY column pairs crossing each FK edge
    among ``tables`` (reference: rdc_based.py RDC probes). Join keys
    are excluded — the two sides of an equi-join key are identical by
    construction and would score every edge ~1. The probe runs on a
    bounded inner-join sample (the reference subsamples
    identically)."""
    key_cols: set[str] = set()
    for r in schema.relationships.values():
        key_cols |= {r.start_attr, r.end_attr}
    for t in tables:
        key_cols |= set(schema.tables[t].primary_key)

    edges = [
        r
        for r in schema.relationships.values()
        if r.start in tables and r.end in tables
    ]
    out: dict[str, float] = {}
    for rel in edges:
        # side-prefix EVERY column before joining: shared non-key
        # column names across the two tables would otherwise make the
        # join output ambiguous (encode_table's mapping joins crash)
        # and conflate start/end column indices in the RDC matrix
        joined, s_pfx, e_pfx = _prefixed_edge_join(catalog, rel)
        frac = min(1.0, rdc_sample / max(joined.count(), 1))
        enc, meta = encode_table(joined.sample(frac, seed=seed), f"probe_{rel.start}")
        cols = [
            c
            for c in enc.columns
            if c in meta.columns and _strip_side(c) not in key_cols
        ]
        start_cols = [i for i, c in enumerate(cols) if c.startswith(s_pfx)]
        end_cols = [i for i, c in enumerate(cols) if c.startswith(e_pfx)]
        if not start_cols or not end_cols:
            out[rel.identifier] = 0.0
            continue
        pdf = enc.select(*cols).toPandas()
        data = pdf.to_numpy(dtype=np.float64, na_value=np.nan)
        mat = rdc_matrix(data, seed=seed, max_rows=rdc_sample)
        out[rel.identifier] = max(
            (mat[i, j] for i in start_cols for j in end_cols), default=0.0
        )
    return out


_SIDE_PREFIXES = ("s__", "e__")


def _strip_side(col: str) -> str:
    for p in _SIDE_PREFIXES:
        if col.startswith(p):
            return col[len(p):]
    return col


def _prefixed_edge_join(catalog: dict[str, DataFrame], rel):
    """Inner-join an FK edge with side-prefixed column names so shared
    names across the two tables never collide."""
    s_pfx, e_pfx = _SIDE_PREFIXES
    sdf = catalog[rel.start].select(
        *[F.col(c).alias(f"{s_pfx}{c}") for c in catalog[rel.start].columns]
    )
    edf = catalog[rel.end].select(
        *[F.col(c).alias(f"{e_pfx}{c}") for c in catalog[rel.end].columns]
    )
    joined = sdf.join(
        edf,
        F.col(f"{s_pfx}{rel.start_attr}") == F.col(f"{e_pfx}{rel.end_attr}"),
    )
    return joined, s_pfx, e_pfx


def compute_pairwise_rdc(
    catalog: dict[str, DataFrame],
    schema: SchemaGraph,
    tables: list[str],
    rdc_sample: int = 5_000,
    seed: int = 42,
) -> dict[frozenset, float]:
    """Pairwise RDC over all non-key column pairs — within each table
    and across each FK edge (probed on a bounded inner-join sample,
    like score_fk_edges). The result is the reference's
    pairwise_rdc_path artifact: persisted with the ensemble and
    consumed by enable_rdc_selection at query time."""
    key_cols: set[str] = set()
    for r in schema.relationships.values():
        key_cols |= {r.start_attr, r.end_attr}
    for t in tables:
        key_cols |= set(schema.tables[t].primary_key)

    out: dict[frozenset, float] = {}

    def probe(df: DataFrame, name: str, strip: bool = False) -> None:
        frac = min(1.0, rdc_sample / max(df.count(), 1))
        enc, meta = encode_table(df.sample(frac, seed=seed), name)
        cols = [
            c
            for c in enc.columns
            if c in meta.columns
            and (_strip_side(c) if strip else c) not in key_cols
        ]
        if len(cols) < 2:
            return
        pdf = enc.select(*cols).toPandas()
        data = pdf.to_numpy(dtype=np.float64, na_value=np.nan)
        mat = rdc_matrix(data, seed=seed, max_rows=rdc_sample)
        for i in range(len(cols)):
            for j in range(i + 1, len(cols)):
                a = _strip_side(cols[i]) if strip else cols[i]
                b = _strip_side(cols[j]) if strip else cols[j]
                if a == b:  # same column name on both edge sides
                    continue
                k = frozenset((a, b))
                v = float(mat[i, j])
                if v > out.get(k, 0.0):
                    out[k] = v

    for t in tables:
        probe(catalog[t], f"rdc_{t}")
    for rel in schema.relationships.values():
        if rel.start not in tables or rel.end not in tables:
            continue
        joined, _s, _e = _prefixed_edge_join(catalog, rel)
        probe(joined, f"rdc_{rel.start}_{rel.end}", strip=True)
    return out


def create_rdc_ensemble(
    catalog: dict[str, DataFrame],
    schema: SchemaGraph,
    tables: list[str],
    max_join_models: int = 2,
    max_no_joins: int = 2,
    rdc_sample: int = 5_000,
    rdc_threshold: float = 0.3,
    budget_factor: float = 2.0,
    sample_budget: int = 100_000,
    params: LearnParams | None = None,
    seed: int = 42,
) -> SPNEnsemble:
    """Correlation-driven ensemble selection with join-subtree
    enumeration (reference: ensemble_creation/rdc_based.py::
    candidate_evaluation, D8).

    1. Probe every FK edge among ``tables`` for cross-edge RDC
       (score_fk_edges; non-key columns only).
    2. Enumerate connected join subtrees up to ``max_no_joins`` edges
       (reference ensemble_max_no_joins, so up to max_no_joins+1
       tables). A subtree qualifies only if EVERY edge clears
       ``rdc_threshold`` — a chain is worth modeling jointly exactly
       when each link is correlated; its score is the mean edge RDC.
    3. Greedily pick qualifying subtrees (score desc, larger table
       sets first) while total join-model table slots stay within
       ``budget_factor * len(tables)`` (reference
       ensemble_budget_factor) and at most ``max_join_models`` are
       chosen; table sets subsumed by an earlier pick are skipped.

    Every table additionally gets a single-table model so all scopes
    stay answerable (multi-SPN factorization covers the rest)."""
    edge_score = score_fk_edges(catalog, schema, tables, rdc_sample, seed)
    rels = {
        r.identifier: r
        for r in schema.relationships.values()
        if r.start in tables and r.end in tables
    }

    def tables_of(sub: frozenset[str]) -> set[str]:
        ts: set[str] = set()
        for rid in sub:
            ts |= {rels[rid].start, rels[rid].end}
        return ts

    subtrees: set[frozenset[str]] = {frozenset([rid]) for rid in rels}
    frontier = list(subtrees)
    for _ in range(max_no_joins - 1):
        nxt = []
        for sub in frontier:
            ts = tables_of(sub)
            for rid, r in rels.items():
                if rid in sub or (r.start not in ts and r.end not in ts):
                    continue
                ns = sub | {rid}
                if ns not in subtrees:
                    subtrees.add(frozenset(ns))
                    nxt.append(frozenset(ns))
        frontier = nxt

    qualifying = []
    for sub in subtrees:
        scores = [edge_score[rid] for rid in sub]
        if min(scores) >= rdc_threshold:
            ts = tables_of(sub)
            qualifying.append(
                (sum(scores) / len(scores), len(ts), tuple(sorted(ts)))
            )
    qualifying.sort(key=lambda t: (-t[0], -t[1], t[2]))

    budget = budget_factor * len(tables)
    chosen: list[set[str]] = []
    for _score, nt, ts in qualifying:
        if len(chosen) >= max_join_models:
            break
        ts = set(ts)
        if any(ts <= c for c in chosen) or nt > budget:
            continue
        chosen.append(ts)
        budget -= nt

    ens = SPNEnsemble(schema)
    for ts in chosen:
        ens.add_model(
            train_spn_model(catalog, schema, ts, sample_budget, params, seed)
        )
    for t in tables:
        ens.add_model(train_spn_model(catalog, schema, {t}, sample_budget, params, seed))
    return ens


def create_relationship_ensemble(
    catalog: dict[str, DataFrame],
    schema: SchemaGraph,
    relationship_ids: list[str],
    sample_budget: int = 100_000,
    params: LearnParams | None = None,
    seed: int = 42,
) -> SPNEnsemble:
    """One RSPN per FK edge — each model covers the 2-table outer join
    (reference: naive.py relationship strategy, D7)."""
    ens = SPNEnsemble(schema)
    for rid in relationship_ids:
        rel = schema.relationships[rid]
        ens.add_model(
            train_spn_model(
                catalog, schema, {rel.start, rel.end}, sample_budget, params, seed
            )
        )
    return ens
