"""Input-partition hygiene for expression-heavy operators.

A small parquet file arrives as ONE input split, so a pipeline whose
cost is per-row expression work (shingling, hashing, signature
computation, dot products) runs on one core no matter how many the
cluster has. At warehouse scale the scan has plenty of splits and
this is a no-op; on small inputs an explicit round-robin exchange of
the (cheap, pre-explosion) rows buys full parallelism for the
downstream per-row work.

reference: deepdb-public assumes pandas single-process execution and
has no analogue; this is the Spark-native concern.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame

from . import lifecycle


def spread_small_input(df: DataFrame, barrier: str = "persist") -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when it
    has fewer input partitions.

    The check is metadata-only (no job); the repartition shuffles the
    raw input rows BEFORE any expensive projection, so the exchanged
    bytes are the source rows, not the exploded/shingled form.

    The repartition alone is NOT enough: Catalyst pushes
    deterministic projections and filters below the round-robin
    exchange (measured: a filter on size(shingles) was rewritten to
    evaluate the full shingling expression UNDER the exchange — in
    the one-task scan stage — and again above it). A barrier that
    pins the exchange is needed so downstream expression work
    genuinely runs on ``target`` partitions. Two barrier flavors,
    chosen PER CALL SITE by measurement (round 14):

    - ``barrier="persist"`` (default): a lazy ``persist()``. An
      InMemoryRelation is pushdown-proof (the cached plan is frozen at
      registration) and costs ~1ms to CREATE, where localCheckpoint
      eagerly plans and instantiates the physical RDD on the driver —
      measured 240-580ms per call at sf0.1. A released persist is also
      recomputable (lineage intact), unlike a released checkpoint.
      Best for operators whose downstream plan consumes the spread
      frame LINEARLY (one aggregate/join chain): x36 2.70 -> 2.16,
      m09 14.8 -> 12.0s executor in the interleaved A/B.
    - ``barrier="checkpoint"``: the round-13 lazy registered
      localCheckpoint. Best for operators whose downstream plan FANS
      OUT into several branches that each shuffle the same expensive
      derivation (tokenize/explode/distinct): AQE's stage-level
      exchange reuse unifies canonically-equal exchanges above a
      LogicalRDD leaf but NOT above a table-cache stage (measured on
      Spark 4.1: x62's distinct map stage ran 4x under persist, 2x
      under checkpoint — 16 vs 8 stages, 48 vs 31s executor; with AQE
      off the persist plan reuses fine, so it is the AQE stage cache
      that skips InMemoryTableScan children). Branch-heavy text
      operators measured faster under checkpoint: x62 2.59 -> 2.07,
      x43 48 -> 35s executor, x46 37 -> 29, x50 12.3 -> 7.9,
      x52 35.7 -> 29.0.

    Either flavor is registered with ``lifecycle`` and freed by
    ``release()`` or the enclosing ``scope()``.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    if barrier == "checkpoint":
        return lifecycle.checkpoint(df.repartition(target), eager=False)
    return lifecycle.persist(df.repartition(target))


def _sql_literal(v, typ: str) -> str:
    """Render one Python value as a Spark SQL literal of ``typ``.
    Doubles go through repr() — the shortest decimal that parses back
    to the identical IEEE double — so the frame is bit-equal to the
    createDataFrame it replaces."""
    if v is None:
        return f"CAST(NULL AS {typ})"
    t = typ.strip().lower()
    if t.startswith("array<"):
        inner = typ.strip()[6:-1]
        items = ",".join(_sql_literal(x, inner) for x in v)
        return f"CAST(array({items}) AS {typ})" if not items else f"array({items})"
    if t in ("double", "float"):
        x = float(v)
        if x != x or x in (float("inf"), float("-inf")):
            # repr() yields 'nan'/'inf', which the SQL parser rejects
            # as bare 'nanD'/'infD' tokens; the string-cast spelling is
            # how Spark SQL writes non-finite doubles (round-14 advice
            # — the createDataFrame path this replaces accepted them)
            s = "NaN" if x != x else ("Infinity" if x > 0 else "-Infinity")
            return f"CAST('{s}' AS {typ})"
        return repr(x) + "D"
    if t in ("int", "integer", "smallint", "tinyint"):
        return str(int(v))
    if t in ("bigint", "long"):
        return str(int(v)) + "L"
    if t == "boolean":
        return "true" if bool(v) else "false"
    if t in ("string", "varchar"):
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    raise ValueError(f"tiny_literal_frame: unsupported type {typ!r}")


def tiny_literal_frame(spark, rows, schema_ddl: str) -> DataFrame:
    """Model-sized literal DataFrame as a pure-JVM VALUES plan.

    Drop-in for ``spark.createDataFrame(rows, schema_ddl)`` on
    KB-scale model state (centroids, codebooks, params): the classic
    createDataFrame path backs the frame with a pickled Python RDD,
    so every downstream action — a parquet write in particular —
    launches Python workers (measured 4.3-4.6s per tiny model-table
    write in IvfPqIndex.save, round 13). A VALUES plan with explicit
    casts stays entirely in the JVM (measured 0.17s for the same
    write) and produces the identical schema and values.

    ``schema_ddl`` is the same DDL string createDataFrame took, e.g.
    ``"cell int, centroid array<double>"`` (no maps/structs — the
    model tables here don't need them)."""
    # split the DDL on top-level commas (array<...> has no commas;
    # nested generics with commas are rejected by _sql_literal anyway)
    parts = []
    depth = 0
    cur = ""
    for ch in schema_ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur)
    cols = []
    for p in parts:
        p = p.strip()
        if p.startswith("`"):
            # backtick-quoted identifier (may contain spaces; doubled
            # backticks escape a literal one) — a bare whitespace split
            # would cut inside the name (round-14 advice; prep.py passes
            # `{col}` for arbitrary catalog column names)
            m = _re.match(r"`(?:[^`]|``)*`", p)
            if m is None or not p[m.end() :].strip():
                raise ValueError(
                    f"tiny_literal_frame: malformed DDL field {p!r}"
                )
            name, typ = m.group(0), p[m.end() :]
        else:
            name, typ = p.split(None, 1)
        cols.append((name, typ.strip()))
    if not rows:
        sel = ",".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return spark.sql(f"SELECT {sel} WHERE 1=0")
    vals = ",".join(
        "(" + ",".join(_sql_literal(v, t) for v, (_n, t) in zip(r, cols)) + ")"
        for r in rows
    )
    sel = ",".join(f"CAST(col{i + 1} AS {t}) AS {n}" for i, (n, t) in enumerate(cols))
    return spark.sql(f"SELECT {sel} FROM VALUES {vals}")
