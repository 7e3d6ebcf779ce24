"""The workloads. Each is a closed loop with one client: the next
request is issued only after the previous answer is back.

A workload object has ``setup()`` (timed as setup_s), ``warmup()``
(untimed), ``requests()`` (an endless generator of ``Request``),
``accuracy()`` (correctness against DuckDB, after the timed loop;
returns the failures) and ``describe()`` (stream properties), and it
turns the loop's samples into its end-to-end figures
(``latencies``, ``p50_ms``, ``tail_ms``, ``items_per_s``), each over one
column of the samples: ``WALL`` (wall time) or ``CPU`` (CPU time).
The timed loop runs for the requested seconds and then to the end of
the current cycle, so every run measures whole cycles of one mix.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import streams

# columns of a loop sample (kind, primary, wall_s, traced, ok, cpu_s)
WALL, CPU = 2, 5


@dataclass
class Request:
    kind: str  # request family, e.g. "count", "query", "remove", "jaccard"
    label: str  # the input, as named in failure reports
    call: Callable[[], Any]
    span: str | None = None  # layer span opened around the call, if any
    spark: bool = False  # the call launches Spark jobs
    primary: bool = True  # counts toward the latency metrics
    check: Callable[[Any], str | None] | None = None  # immediate output check
    truth_key: Any = None  # key for the post-run accuracy check
    ends_cycle: bool = True  # the timed loop may stop after this request
    # a traced run alternates traced and untraced requests of this kind
    # (to price the tracing); kinds seen a few times a run are always traced
    abba: bool = True
    result: Any = None


def qerr(est: float, true: float) -> float:
    e, t = max(float(est), 1.0), max(float(true), 1.0)
    return max(e / t, t / e)


def percentile(values: list[float], p: float) -> float:
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """Highest of p99/p90/p75 that leaves at least ten samples beyond
    it; the median when none does."""
    for p in (99, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def _finite_non_negative(values) -> str | None:
    for v in values:
        if v is None or not math.isfinite(float(v)):
            return f"non-finite answer {v!r}"
        if float(v) < 0:
            return f"negative answer {v!r}"
    return None


def _answer_values(sql: str, ans) -> list:
    if isinstance(ans, (int, float)):
        return [ans]
    return [v for cells in answer_cells(sql, ans).values() for v in cells]


def _group_cols(sql: str) -> list[str]:
    if " GROUP BY " not in sql:
        return []
    tail = sql.split(" GROUP BY ", 1)[1].split(" HAVING ")[0]
    return [c.strip() for c in tail.split(",")]


def duck_answer(con, sql: str) -> dict:
    """DuckDB truth as {group key tuple: [aggregate values]}; the group
    columns are added to the select list so rows can be matched."""
    groups = _group_cols(sql)
    if groups:
        sql = sql.replace("SELECT ", "SELECT " + ", ".join(groups) + ", ", 1)
    out = {}
    for row in con.execute(sql).fetchall():
        out[tuple(row[: len(groups)])] = [float(v) if v is not None else None for v in row[len(groups):]]
    return out


def answer_cells(sql: str, rows) -> dict:
    """Engine answer (list of dicts or Rows) in duck_answer's shape."""
    groups = [g.split(".")[-1] for g in _group_cols(sql)]
    out = {}
    for row in rows:
        d = row if isinstance(row, dict) else row.asDict()
        out[tuple(d[g] for g in groups)] = [
            float(v) if v is not None else None for k, v in d.items() if k not in groups
        ]
    return out


def _norm_key(key: tuple) -> tuple:
    return tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in key)


def cell_qerrors(truth: dict, got: dict) -> list[float]:
    got = {_norm_key(k): v for k, v in got.items()}
    out = []
    for key, tvals in truth.items():
        gvals = got.get(_norm_key(key))
        if gvals is None:
            continue
        for t, g in zip(tvals, gvals):
            if t is not None and g is not None:
                out.append(qerr(g, t))
    return out


# ---------------------------------------------------------------------------
class QueryPlane:
    """Shared by both workloads: seeded queries from the fixture
    templates over the tables in ``tables``, answers recorded for the
    DuckDB check."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.templates = [
            t for t in streams.load_templates() if set(streams.tables_of(t)) <= self.tables
        ]
        self.truth_queries: dict[str, None] = {}
        self.answers: dict[str, Any] = {}
        self.qerrors: list[float] = []

    def record(self, req: Request) -> None:
        if req.truth_key is not None:
            self.answers[req.truth_key] = req.result

    def latencies(self, samples, col: int) -> list[float]:
        ok = [s[col] for s in samples if s[1] and s[4]]
        return ok or [s[col] for s in samples if s[1]]

    def p50_ms(self, samples, col: int) -> float:
        return percentile(self.latencies(samples, col), 50) * 1e3

    def tail_ms(self, samples, col: int) -> float:
        lat = self.latencies(samples, col)
        return percentile(lat, tail_percentile(len(lat))) * 1e3

    def items_per_s(self, samples, col: int) -> float:
        """Latency-counted requests completed per second of their time."""
        lat = self.latencies(samples, col)
        return len(lat) / sum(lat)

    def _truths(self, con) -> tuple[dict, list[str]]:
        failures, truths = [], {}
        for q in self.truth_queries:
            try:
                truths[q] = duck_answer(con, q)
            except Exception as e:  # noqa: BLE001  an oracle error fails the input, not the run
                failures.append(f"{q}: DuckDB oracle failed: {e}")
        return truths, failures

    def info(self, samples) -> dict:
        """Workload-specific sample summaries for the report."""
        return {}

    def ensemble_mb(self) -> float:
        return 0.0

    def cache_entries(self) -> int:
        return 0


class Estimate(QueryPlane):
    """Model plane at sf0.01, reads beside writes. Setup trains five
    of the thirteen models of the relationship ensemble in
    tests/test_fixture_light.py: the single-table and join models over
    lineitem, orders and customer. One cycle is ``read_epochs`` seeded
    passes over the 101 templates on those tables (COUNT, AQP and CI
    requests over 1-3 tables; the 3-table ones are factorized over two
    models), then a write cycle on the lineitem and orders models:
    remove a seeded 1/20 slice of each, read on the reduced models,
    absorb the slices back, update_delta (delete and re-insert) the
    orders slice, and check that every model is back to its trained
    row count."""

    name = "estimate"
    sf = 0.01
    tables = {"lineitem", "orders", "customer"}
    table_sets = [["lineitem"], ["orders"], ["customer"], ["orders", "lineitem"], ["customer", "orders"]]
    # a fixed read mix per cycle (about 17,000 reads, 10-15 s): a
    # time-bound read phase would change the read/write mix with the
    # host's speed. The host's speed moves within a minute; over ten
    # runs the median read spread by 25% of itself with a 3 s read
    # phase and by 10% with this one
    read_epochs = 144
    truth_epochs = 2  # reads of the first epochs are checked against DuckDB
    buckets = 20  # a delta is one twentieth of its table
    reduced_reads = 20
    delta_keys = {"lineitem": "l_orderkey * 8 + l_linenumber", "orders": "o_orderkey"}

    def setup(self) -> None:
        from deepdb_public_spark.engine import Engine
        from deepdb_public_spark.spn import trainer
        from deepdb_public_spark.spn.ensemble import SPNEnsemble

        eng = Engine(self.ctx.spark, self.ctx.data_dir)
        ens = SPNEnsemble(eng.schema)
        for ts in self.table_sets:
            ens.add_model(trainer.train_spn_model(eng.catalog, eng.schema, set(ts), 60_000))
        eng.ensemble = ens
        self.engine, self.ensemble = eng, ens
        self.models = {
            next(iter(m.table_set)): m for m in ens.models if len(m.table_set) == 1
        }
        self.restore_failures: list[str] = []

    def warmup(self) -> None:
        for sql in self.templates[::10]:
            self.engine.estimate(sql, exact_fallback=False)
        for m in self.ensemble.models:
            m.invalidate_cache()

    def _read(self, sql: str, ci: bool, record: bool) -> Request:
        if ci:
            call = lambda: self.ensemble.confidence_interval(self.engine.parse(sql))  # noqa: E731
            kind = "ci"
        else:
            call = lambda: self.engine.estimate(sql, exact_fallback=False)  # noqa: E731
            kind = "count" if streams.is_count(sql) else "aqp"
        if record:
            self.truth_queries[sql] = None
        return Request(
            kind, sql, call,
            check=lambda ans: _finite_non_negative(
                _answer_values(sql, ans) if not ci else [r["est"] for r in ans]
            ),
            truth_key=(sql, ci) if record else None, ends_cycle=False,
        )

    def _slice(self, table: str, cycle: int):
        from pyspark.sql import functions as F

        pred = streams.slice_predicate(
            self.delta_keys[table], self.ctx.seed * 1000 + cycle, self.buckets, 7
        )
        return self.engine.catalog[table].filter(F.expr(pred)), pred

    def _write_cycle(self, cycle: int, rng):
        from deepdb_public_spark.spn import incremental

        slices = {t: self._slice(t, cycle) for t in self.delta_keys}
        before = {t: m.full_join_size for t, m in self.models.items()}

        def restored(_result) -> str | None:
            for t, m in self.models.items():
                if not math.isclose(m.full_join_size, before[t], rel_tol=1e-9):
                    self.restore_failures.append(
                        f"cycle {cycle} {t}: full_join_size {m.full_join_size} != {before[t]}"
                    )
            return None

        def delta(kind, table, fn_name, *dfs):
            model, pred = self.models[table], slices[table][1]
            return Request(
                kind, f"{kind} {table} WHERE {pred}",
                lambda: getattr(incremental, fn_name)(model, *dfs),
                spark=True, primary=False, ends_cycle=False, abba=False,
                check=lambda n: None if (n if isinstance(n, int) else n[0]) > 0 else "empty delta",
            )

        for t in self.delta_keys:
            yield delta("remove", t, "remove_delta", slices[t][0])
        for sql in rng.choice(self.templates, self.reduced_reads):
            yield self._read(str(sql), False, False)
        for t in self.delta_keys:
            yield delta("absorb", t, "absorb_delta", slices[t][0])
        last = delta("update", "orders", "update_delta", slices["orders"][0], slices["orders"][0])
        delta_check = last.check
        # the restore check runs once the cycle's last request returned
        last.check = lambda n: delta_check(n) or restored(n)
        last.ends_cycle = True
        yield last

    def requests(self):
        rng = np.random.default_rng([self.ctx.seed, 3])
        epoch = cycle = 0
        while True:
            for _ in range(self.read_epochs):
                record = epoch < self.truth_epochs
                batch = streams.query_epoch(self.templates, self.ctx.seed * 1000 + epoch)
                for j, sql in enumerate(batch):
                    yield self._read(sql, False, record)
                    if streams.is_count(sql) and j % 4 == 0:
                        yield self._read(sql, True, record)
                epoch += 1
            yield from self._write_cycle(cycle, rng)
            cycle += 1

    def accuracy(self, con) -> list[str]:
        """q-errors of the recorded reads against DuckDB."""
        truths, failures = self._truths(con)
        for (sql, ci), ans in self.answers.items():
            truth = truths.get(sql)
            if truth is None:
                continue
            if ci:
                got = {(): [ans[0]["est"]]}
            elif isinstance(ans, (int, float)):
                got = {(): [ans]}
            else:
                got = answer_cells(sql, ans)
            self.qerrors.extend(cell_qerrors(truth, got))
        return failures + self.restore_failures

    def describe(self) -> dict:
        from deepdb_public_spark.spn.model import ModelPlaneUnsupported

        factorized = 0
        for t in self.templates:
            try:
                self.ensemble.select_model(self.engine.parse(t))
            except (ValueError, ModelPlaneUnsupported):
                factorized += 1
        prof = streams.stream_profile(self.templates)
        prof["factorized_share"] = round(factorized / len(self.templates), 4)
        prof["ci_every"] = "4th stream position when it holds a COUNT"
        prof["read_epochs_per_cycle"] = self.read_epochs
        prof["delta_rows"] = {t: self._slice(t, 0)[0].count() for t in self.delta_keys}
        return prof

    def ensemble_mb(self) -> float:
        return self.ensemble.stats()["total_bytes"] / 1e6

    def cache_entries(self) -> int:
        return sum(len(m._eval_cache) for m in self.ensemble.models)


class ExactCurate(QueryPlane):
    """The Spark side, with no model: the exact plane and the
    training-data operators over one sf0.01 catalog. One cycle is
    four rounds of the fixed exact-plane templates (every 32nd from
    the 20th: six templates over 1-5 tables, two grouped) in fixed
    order with seeded literals, through ``Engine.query(q).collect()``,
    then two curation passes over the 500 documents, each one
    curation, MinHash-LSH pairs, exact Jaccard pairs, their clusters,
    an index probe and repetition stats. The seed picks the
    one-in-five probe split; the index over the rest is built in
    setup. Both run warm, as in a serving session: one untimed round
    with other literals and one untimed pass run first. A cold pass
    carries the JVM's class loading, the start of Spark's Python
    workers and most of the JIT compilation (about 34 CPU seconds,
    against 22-27 for each of the next two), and one cold pass a run
    spread by a quarter of itself from run to run. The mean of two warm
    passes is the steadier figure; a second untimed pass steadied it no
    further, and a third timed one would make a run 10-15 s longer."""

    name = "exact-curate"
    sf = 0.01
    tables = {"lineitem", "orders", "customer", "part", "supplier", "nation", "region", "events"}
    ops = ["curate", "minhash", "jaccard", "clusters", "index_probe", "repetition"]
    query_rounds = 4  # rounds over the six templates per cycle, fresh literals each
    passes = 2  # curation passes per cycle

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.fixed = self.templates[19::32]
        self.probe_pred = streams.slice_predicate("doc_id", ctx.seed, 5, 11)
        self.outputs: dict[str, list] = {}
        self.catalyst_ms: list[float] = []

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from deepdb_public_spark.engine import Engine
        from deepdb_public_spark.operators import dedup

        self.engine = Engine(self.ctx.spark, self.ctx.data_dir)
        self.docs = self.engine.catalog["documents"]
        index = self.docs.filter(~F.expr(self.probe_pred))
        bands, sets = dedup.build_minhash_index(
            index, "text", "doc_id", n_hashes=64, n_bands=16, use_char_ngrams=True, ngram=5,
        )
        bands, sets = bands.localCheckpoint(), sets.localCheckpoint()
        dense = dedup.build_dense_index_verifier(sets)
        if dense is not None:
            vocab, n_words, bm = dense
            dense = (vocab.localCheckpoint(), n_words, bm.localCheckpoint())
        self.index = (bands, sets, dense or False)
        self.n_docs = self.docs.count()

    def warmup(self) -> None:
        # the first run of each plan shape pays class loading and JIT
        # that a serving engine pays once
        rng = np.random.default_rng([self.ctx.seed, 9])
        for template in self.fixed:
            self.engine.query(streams.perturb(template, rng)).collect()
        for call in self._operator_calls().values():
            call()

    def _query(self, sql: str):
        tracer = self.ctx.tracer
        df = self.engine.query(sql)
        with tracer.span("spark.collect", spark=True):
            rows = df.collect()
        if tracer.enabled:
            phases = df._jdf.queryExecution().tracker().phases().values().iterator()
            ms = 0
            while phases.hasNext():
                ms += phases.next().durationMs()
            self.catalyst_ms.append(ms)
        return rows

    def _operator_calls(self) -> dict:
        from pyspark.sql import functions as F

        from deepdb_public_spark.operators import curation, dedup, filters

        docs, spark = self.docs, self.ctx.spark
        flags, _keep, _n, _m = filters._gopher_exprs("text")
        quality = (
            flags["word_count_ok"] & flags["mean_word_len_ok"]
            & flags["symbol_ratio_ok"] & flags["alpha_fraction_ok"]
        )
        bands, sets, dense = self.index
        jaccard_rows: list = []

        def clusters():
            pairs = spark.createDataFrame(
                [(r["id_a"], r["id_b"]) for r in jaccard_rows], "id_a bigint, id_b bigint"
            )
            return dedup.duplicate_clusters(pairs).orderBy("id").collect()

        def jaccard():
            rows = dedup.jaccard_pairs_exact(
                docs, "text", "doc_id", threshold=0.8, use_char_ngrams=True, ngram=5,
            ).selectExpr("id_a", "id_b", "round(jaccard, 6) AS jaccard").collect()
            jaccard_rows[:] = rows
            return rows

        return {
            "curate": lambda: curation.curate_corpus(
                docs, "text", "doc_id", "lang", per_stratum=40, quality=quality
            ).collect(),
            "minhash": lambda: dedup.minhash_lsh_pairs(
                docs, "text", "doc_id", threshold=0.8, n_hashes=64, n_bands=16,
                use_char_ngrams=True, ngram=5,
            ).collect(),
            "jaccard": jaccard,
            "clusters": clusters,
            "index_probe": lambda: dedup.dedup_against_index(
                docs.filter(F.expr(self.probe_pred)), "text", "doc_id", bands, sets,
                threshold=0.8, n_hashes=64, n_bands=16, use_char_ngrams=True, ngram=5,
                dense_index=dense,
            ).selectExpr("new_id", "index_id", "round(jaccard, 6) AS jaccard").collect(),
            "repetition": lambda: filters.repetition_stats(docs, "text", "doc_id").collect(),
        }

    def requests(self):
        # the same templates in the same order every run, whole cycles
        # only: with 24 samples a run, a seed-dependent template mix
        # would move the median more than any change to the program
        calls = self._operator_calls()
        layer = {"curate": "operators.curation.curate", "repetition": "operators.filters.repetition"}
        rng = np.random.default_rng([self.ctx.seed, 2])
        while True:
            for _ in range(self.query_rounds):
                for template in self.fixed:
                    sql = streams.perturb(template, rng)
                    self.truth_queries[sql] = None
                    yield Request(
                        "query", sql, lambda sql=sql: self._query(sql),
                        spark=True, truth_key=(sql, False), ends_cycle=False,
                    )
            for p in range(self.passes):
                for op in self.ops:
                    yield Request(
                        op, f"{op} over the corpus", calls[op],
                        span=layer.get(op, f"operators.dedup.{op}"), spark=True, primary=False,
                        truth_key=op, abba=False,
                        ends_cycle=p == self.passes - 1 and op == self.ops[-1],
                    )

    def record(self, req: Request) -> None:
        if req.kind == "query":
            self.answers[req.truth_key] = req.result
        else:
            self.outputs[req.truth_key] = req.result

    def _passes(self, samples, col: int) -> list[float]:
        """Time of each curation pass (its six calls in a row)."""
        op_times = [s[col] for s in samples if s[0] in self.ops]
        k = len(self.ops)
        return [sum(op_times[i:i + k]) for i in range(0, len(op_times) - k + 1, k)]

    def info(self, samples) -> dict:
        return {
            f"pass_{name}_ms": [round(p * 1e3, 1) for p in self._passes(samples, col)]
            for name, col in (("wall", WALL), ("cpu", CPU))
        }

    def p50_ms(self, samples, col: int) -> float:
        """Median over the rounds of a round's mean query latency. The
        six templates differ in cost by up to 2.5x, so the median of the
        single queries sits in a gap between them and jumps with small
        shifts; a round holds every template once."""
        lat = [s[col] for s in samples if s[0] == "query"]
        k = len(self.fixed)
        rounds = [statistics.fmean(lat[i:i + k]) for i in range(0, len(lat) - k + 1, k)]
        return statistics.median(rounds) * 1e3

    def tail_ms(self, samples, col: int) -> float:
        """The median (of two, the mean) curation pass: 24 query
        samples leave no percentile above the median with ten samples
        beyond it, and the pass is the run's longest request."""
        return statistics.median(self._passes(samples, col)) * 1e3

    def items_per_s(self, samples, col: int) -> float:
        """Documents per second through the median curation pass."""
        return self.n_docs / statistics.median(self._passes(samples, col))

    def accuracy(self, con) -> list[str]:
        return self._exact_accuracy(con) + self._curate_accuracy(con)

    def _exact_accuracy(self, con) -> list[str]:
        """Rows equal DuckDB's: counts exactly, decimals to a relative 1e-9."""
        truths, failures = self._truths(con)
        for (sql, _ci), rows in self.answers.items():
            if sql not in truths:
                continue
            truth, got = truths[sql], answer_cells(sql, rows)
            got = {_norm_key(k): v for k, v in got.items()}
            for key, tvals in truth.items():
                gvals = got.get(_norm_key(key))
                same = gvals is not None and all(
                    (t is None and g is None)
                    or (t is not None and g is not None and math.isclose(t, g, rel_tol=1e-9, abs_tol=1e-9))
                    for t, g in zip(tvals, gvals)
                )
                if not same or len(got) != len(truth):
                    failures.append(f"{sql}: group {key} exact {gvals} != duckdb {tvals}")
                    break
                self.qerrors.extend(qerr(g, t) for t, g in zip(tvals, gvals) if t is not None)
        return failures

    def _curate_accuracy(self, con) -> list[str]:
        """Outputs of the last pass against the DuckDB oracle twins of
        the registry entries x57 (curation), x05 (Jaccard pairs), x20
        (clusters) and x31 (repetition stats). x20's oracle is the
        transitive closure of x05's pairs, recomputed by a recursive
        CTE that takes a minute and a half in DuckDB, so the clusters
        are checked against the connected components of the x05 rows
        (each labeled by its smallest id, as x20 labels them). x35's
        oracle is x05's pair set restricted to probe x index pairs, so
        the index probe is checked against the x05 rows on the seeded
        split. The x05 oracle takes about 40 s and does not depend on
        the seed, so its rows are cached per data checksum in the work
        directory. MinHash recall against the exact pairs joins the
        q-errors."""
        import __spark_entry__

        oracle = __spark_entry__.oracle_sql()
        want = {
            "curate": self._oracle_rows(con, oracle["x57_curate_corpus"], None),
            "jaccard": self._oracle_rows(con, oracle["x05_jaccard_pairs"], "x05"),
            "repetition": self._oracle_rows(con, oracle["x31_repetition_stats"], None),
        }
        pairs = [dict(zip(want["jaccard"][0], r)) for r in want["jaccard"][1]]
        want["clusters"] = (["id", "cluster"], _components([(p["id_a"], p["id_b"]) for p in pairs]))
        probe = {r[0] for r in con.execute(f"SELECT doc_id FROM documents WHERE {self.probe_pred}").fetchall()}
        want["index_probe"] = (["new_id", "index_id", "jaccard"], [
            (a, b, p["jaccard"])
            for p in pairs
            for a, b in ((p["id_a"], p["id_b"]), (p["id_b"], p["id_a"]))
            if a in probe and b not in probe
        ])
        failures = []
        for op, (cols, rows) in want.items():
            if op not in self.outputs:
                continue
            got = _canon(cols, [tuple(r.asDict()[c] for c in cols) for r in self.outputs[op]])
            if _canon(cols, rows) != got:
                failures.append(f"{op}: {len(got)} rows differ from the DuckDB oracle ({len(rows)} rows)")
        if "minhash" in self.outputs and "jaccard" in self.outputs:
            exact = {(r["id_a"], r["id_b"]) for r in self.outputs["jaccard"]}
            found = {(r["id_a"], r["id_b"]) for r in self.outputs["minhash"]}
            if not found <= exact:
                failures.append(f"minhash: {len(found - exact)} pairs below the threshold")
            self.qerrors.append(qerr(len(found & exact), len(exact)))
        return failures

    def _oracle_rows(self, con, sql: str, cache_name: str | None) -> tuple[list, list]:
        path = None
        if cache_name:
            path = os.path.join(
                self.ctx.work_dir, "oracle", f"{os.path.basename(self.ctx.data_dir)}-{cache_name}.json"
            )
            if os.path.exists(path):
                with open(path) as f:
                    cached = json.load(f)
                return cached["cols"], [tuple(r) for r in cached["rows"]]
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        if path:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump({"cols": cols, "rows": rows}, f)
            os.replace(tmp, path)
        return cols, rows

    def describe(self) -> dict:
        prof = streams.stream_profile(self.fixed)
        prof["order"] = "fixed template order, seeded literals, whole cycles"
        prof["passes_per_cycle"] = self.passes
        prof["decimal_rel_tol"] = 1e-9
        n_probe = self.docs.filter(self.probe_pred).count()
        prof.update({
            "documents": self.n_docs, "probe_docs": n_probe,
            "index_docs": self.n_docs - n_probe, "probe_split": self.probe_pred,
        })
        return prof


def _components(pairs: list[tuple]) -> list[tuple]:
    """(id, smallest id of its connected component) for every id in
    ``pairs``: x20's output, from its input pairs."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in sorted(parent)]


def _canon(cols: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples with columns in name order and floats
    rounded to 9 significant digits (the oracles round in SQL; this
    only absorbs last-ulp summation-order drift)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if hasattr(v, "item"):
            return v.item()
        return v

    return sorted(
        (tuple(norm(row[i]) for i in order) for row in rows),
        key=lambda t: tuple((x is None, str(type(x)), x if x is not None else 0) for x in t),
    )


WORKLOADS = {w.name: w for w in (Estimate, ExactCurate)}
