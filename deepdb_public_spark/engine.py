"""Engine facade: one object, two planes.

- ``sql(q)``       -> exact DataFrame via Spark SQL (arbitrary SQL).
- ``query(q)``     -> exact DataFrame via our parser + compiler
                      (the reference grammar, SURVEY.md §2 table A).
- ``estimate(q)``  -> model-plane cardinality / AQP estimate from the
                      trained RSPN ensemble, never touching the data
                      (reference: spn_ensemble.py::SPNEnsemble).

Mirrors the reference's maqp.py entry point split into a library API
(SURVEY.md §3 "rebuild lifecycle").
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from .plans.compiler import ExactCompiler
from .plans.parser import parse_query
from .plans.query import Query
from .plans.schema import SchemaGraph, tpch_like_schema
from .sources.catalog import load_tables
from .spn.model import GroupByExplosion, ModelPlaneUnsupported

# Bound of an Engine's parse memo, in distinct SQL texts. perfbench's
# ``estimate`` stream reads 2,799 distinct texts a write cycle (80.7% of
# its reads repeat an earlier text exactly); past the bound the memo
# empties and refills.
PARSE_MEMO_MAX = 4096


def default_session(app_name: str = "deepdb_public_spark", cpus: str = "*") -> SparkSession:
    """local[] session tuned for the fixture scale; on a real cluster
    the same code runs unchanged — partitioning choices (AQE, shuffle
    partitions) are the knobs that scale."""
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow-batched toPandas/createDataFrame: the training sample
        # collect is ~4x faster; all model-plane frames are numeric
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Closures that reference module-level functions (Pandas UDFs,
    mapInPandas) are cloudpickled BY REFERENCE, so workers must be
    able to import deepdb_public_spark — true on a cluster via
    spark-submit --py-files; in local/dev sessions we zip the package
    once and addPyFile it (workers do NOT inherit driver sys.path
    mutations)."""
    key = "deepdb_public_spark._shipped"
    if spark.conf.get(f"spark.{key}", None) == "1":
        return
    import os
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.mkdtemp(prefix="deepdb_pkg_"), "deepdb_public_spark")
    try:
        zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                       os.path.basename(pkg_dir))
        spark.sparkContext.addPyFile(zip_path)
        spark.conf.set(f"spark.{key}", "1")
    except Exception:
        pass  # best effort; cluster deployments ship via --py-files


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        schema: SchemaGraph | None = None,
    ) -> None:
        self.spark = spark
        _ship_package(spark)
        try:  # runtime-settable: covers externally-built sessions too
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        except Exception:
            pass
        self.schema = schema or tpch_like_schema()
        # load exactly the schema's declared tables so a custom
        # dataset (Engine(schema=...) or CLI --schema_json) works
        # against any parquet directory, not just the fixture layout
        self.catalog = load_tables(spark, sf_dir, tables=sorted(self.schema.tables))
        self.compiler = ExactCompiler(self.schema, self.catalog)
        self.ensemble = None  # set by spn.train / spn.ensemble loaders
        # estimate hints the ensemble could not price, keyed by
        # (estimator, exception type): each count is one plan decision
        # that fell back to no broadcast hint / greedy join order
        self.hint_fallbacks: Counter[tuple[str, str]] = Counter()
        # SQL text -> Query IR of every successful parse (see parse)
        self._parse_memo: dict[str, Query] = {}
        self.parse_hits = self.parse_misses = 0

    def refresh_views(self) -> None:
        """Re-register this engine's tables as temp views. Views are
        SESSION-global while engines are per-(session, sf_dir): when
        two engines share one SparkSession the last registration wins,
        so text queries must re-pin their views first (cheap catalog
        metadata ops, no data touched)."""
        for name, df in self.catalog.items():
            df.createOrReplaceTempView(name)

    def sql(self, q: str) -> DataFrame:
        self.refresh_views()
        return self.spark.sql(q)

    def parse(self, q: str) -> Query:
        """The Query IR of ``q``, memoized on the exact text: a repeated
        read costs one dict lookup. The IR is shared by every caller
        that parsed the same text, so it is read-only; malformed text
        is never stored and raises every time."""
        ir = self._parse_memo.get(q)
        if ir is not None:
            self.parse_hits += 1
            return ir
        ir = parse_query(q, self.schema)
        self.parse_misses += 1
        if len(self._parse_memo) >= PARSE_MEMO_MAX:
            self._parse_memo.clear()
        self._parse_memo[q] = ir
        return ir

    def query(self, q: str | Query) -> DataFrame:
        ir = self.parse(q) if isinstance(q, str) else q
        return self.compiler.compile(ir)

    def estimate(self, q: str | Query, exact_fallback: bool = True):
        """Model-plane estimate (reference: SPNEnsemble.cardinality /
        evaluate_query). Requires a trained ensemble.

        A GROUP BY whose combination grid exceeds the model plane's
        cell cap (spn.model.MAX_GROUPBY_CELLS) falls back to the
        exact plane when ``exact_fallback`` — high-cardinality
        grouping is what Spark's hash aggregate is for; the model
        grid would cost more than the scan it avoids. Fallback rows
        come back in the same list-of-dicts shape."""
        if self.ensemble is None:
            raise RuntimeError("no ensemble trained/loaded — see spn.train")
        ir = self.parse(q) if isinstance(q, str) else q
        try:
            return self.ensemble.answer(ir)
        except (GroupByExplosion, ModelPlaneUnsupported):
            if not exact_fallback:
                raise
            return [row.asDict() for row in self.query(ir).collect()]

    def enable_estimate_hints(self) -> None:
        """Feed RSPN cardinality estimates to the exact plane as join
        hints (DeepDB's optimizer-integration story, SURVEY.md §4.3):
        a filtered fact table predicted small gets broadcast instead
        of shuffled. An estimate the ensemble cannot give (ValueError
        or KeyError) is counted in ``hint_fallbacks``; that plan step
        then gets no broadcast hint / the greedy join order."""
        if self.ensemble is None:
            raise RuntimeError("train or load an ensemble first")

        def fallback(estimator: str, exc: Exception) -> None:
            self.hint_fallbacks[(estimator, type(exc).__name__)] += 1

        def estimator(table: str, query: Query):
            sub = Query(
                table_set={table},
                conditions=[c for c in query.conditions if c.table == table],
            )
            try:
                return self.ensemble.cardinality(sub)
            except (ValueError, KeyError) as e:
                fallback("table", e)
                return None

        self.compiler.cardinality_estimator = estimator

        def _dp_sub_query(tables: frozenset, query: Query):
            """Sub-query over a DP subset: the original query's
            conditions and FK edges restricted to `tables` — one
            definition for the scalar AND batch estimators (they used
            to carry verbatim copies)."""
            rel_ids = {
                rid
                for rid in query.relationship_set
                if self.schema.relationships[rid].start in tables
                and self.schema.relationships[rid].end in tables
            }
            return Query(
                table_set=set(tables),
                relationship_set=rel_ids,
                conditions=[c for c in query.conditions if c.table in tables],
            )

        def join_estimator(tables: frozenset, query: Query):
            """Price an intermediate join for the compiler's left-deep
            DP (reference: learned cardinalities feeding the join-order
            search). Returns None when the ensemble can't answer (no
            covering factorization, cyclic subset, ...) — the compiler
            then falls back to greedy."""
            try:
                return self.ensemble.cardinality(_dp_sub_query(tables, query))
            except (ValueError, KeyError) as e:
                fallback("join", e)
                return None

        self.compiler.join_cardinality_estimator = join_estimator

        def join_estimator_batch(subsets: list, query: Query):
            """Batch twin of join_estimator: subsets routed to the
            same single model are priced in ONE tree pass
            (SPNModel.cardinality_many, B8 at plan time); factorized
            or unanswerable subsets fall back to the scalar path
            per subset."""
            out: list = [None] * len(subsets)
            groups: dict[int, tuple] = {}
            for j, ts in enumerate(subsets):
                sub = _dp_sub_query(ts, query)
                try:
                    m = self.ensemble.select_model(sub)
                except ValueError as e:
                    fallback("join_batch", e)
                    try:
                        out[j] = self.ensemble.cardinality(sub)
                    except (ValueError, KeyError) as e2:
                        fallback("join_batch", e2)
                        out[j] = None
                    continue
                groups.setdefault(id(m), (m, []))[1].append((j, sub))
            for m, items in groups.values():
                try:
                    vals = m.cardinality_many([s for _j, s in items])
                except (ValueError, KeyError) as e:
                    fallback("join_batch", e)
                    vals = None
                if vals is None:
                    for j, s in items:
                        try:
                            out[j] = self.ensemble.cardinality(s)
                        except (ValueError, KeyError) as e:
                            fallback("join_batch", e)
                            out[j] = None
                else:
                    for (j, _s), v in zip(items, vals):
                        out[j] = v
            return out

        self.compiler.join_cardinality_estimator_batch = join_estimator_batch
