"""Data-preparation operators (reference SURVEY.md §2 table C).

Spark-native replacements for the reference's pandas/HDF5 pipeline
(reference: data_preparation/prepare_single_tables.py,
data_preparation/join_data_preparation.py::JoinDataPreparator). This
is where the rebuild wins at 100 TB: the reference materializes outer
-join samples single-node in pandas; here every step is a handful of
narrow Spark ops (groupBy counts, broadcast-able dimension joins, one
full-outer chain) that shuffle only on join keys.

Semantics preserved exactly (they are the correctness core of RSPN
answers, SURVEY.md §1.2):
- categorical dictionary encoding with value<->code maps, codes
  assigned by sorted value order (deterministic, SQL-reproducible);
  NULL gets a reserved code = number of distinct values
- per-relationship fanout "multiplier" columns mul_<child>_<fk> (how
  many child rows match this parent row) and null indicators
  nn_<child>_<fk> (0 on NULL-augmented rows)
- join samples are FULL OUTER joins along schema-graph edges, so
  NULL-augmented tuples survive and sub-scope queries stay answerable
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..plans.schema import Relationship, SchemaGraph
from .partitioning import tiny_literal_frame


@dataclass
class ColumnMeta:
    name: str
    kind: str  # "numeric" | "categorical"
    n_distinct: int
    null_code: int | None = None
    # value -> code for categoricals (driver-side; domains are small —
    # at 100 TB keep this as a parquet mapping table instead)
    value_to_code: dict | None = None
    # "native" | "timestamp": timestamps are stored as epoch micros in
    # the model plane; condition literals need the same conversion
    origin: str = "native"


@dataclass
class TableMeta:
    table_name: str
    row_count: int
    columns: dict[str, ColumnMeta] = field(default_factory=dict)


def encode_table(
    df: DataFrame, table_name: str, max_dict_size: int = 100_000
) -> tuple[DataFrame, TableMeta]:
    """Dictionary-encode string columns to dense integer codes
    (reference C2: prepare_single_tables.py::prepare_single_table).

    Codes are the 0-based rank of each DISTINCT value in sorted order
    (equivalent to DENSE_RANK()-1, which is what the oracle computes),
    assigned DISTRIBUTEDLY via sort + zipWithIndex — no
    single-partition window and no mandatory driver collect, so a
    column with hundreds of millions of distinct values still
    encodes. Columns with <= ``max_dict_size`` distinct values
    additionally keep a driver-side value->code dict (the model plane
    needs it to translate condition literals); beyond the threshold
    ``value_to_code`` stays None and the mapping lives only in the
    join (model-plane literal translation is unavailable for such
    columns, same as the reference's practice of excluding them from
    model scope). Numeric columns pass through. Timestamps become
    epoch micros (the model plane is numeric-only, SURVEY §1.2).
    """
    # one pass for row count + approx distinct counts of EVERY column
    # (vs a Spark job per column — matters when staging at scale)
    numeric_cols, ts_cols, string_cols = [], [], []
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, NumericType):
            numeric_cols.append(f_.name)
        elif f_.dataType.typeName() in ("timestamp", "timestamp_ntz", "date"):
            ts_cols.append(f_.name)
        elif f_.dataType.typeName() == "string":
            string_cols.append(f_.name)
        # arrays/binary etc. are outside the model plane
    out = df
    for col in ts_cols:
        out = out.withColumn(col, F.unix_micros(F.col(col).cast("timestamp")))
    stats = out.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.approx_count_distinct(c).alias(f"__d_{c}")
            for c in numeric_cols + ts_cols + string_cols
        ],
    ).collect()[0]
    meta = TableMeta(table_name, stats["__n"])
    for col in numeric_cols:
        meta.columns[col] = ColumnMeta(col, "numeric", stats[f"__d_{col}"])
    for col in ts_cols:
        meta.columns[col] = ColumnMeta(
            col, "numeric", stats[f"__d_{col}"], origin="timestamp"
        )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    spark = df.sparkSession
    # string columns whose approx distinct count is safely under the
    # dict cap get their dictionaries from ONE combined collect_set
    # job (HLL++ rsd is 5%; the 0.7 margin makes an overshoot past the
    # cap implausible). Larger/ambiguous domains take the exact
    # per-column path below.
    small_cols = [
        c for c in string_cols if stats[f"__d_{c}"] <= max_dict_size * 0.7
    ]
    dicts: dict[str, list] = {}
    if small_cols:
        sets = df.agg(
            *[F.collect_set(c).alias(c) for c in small_cols]
        ).collect()[0]
        for col in small_cols:
            dicts[col] = sorted(sets[col])
    for col in string_cols:
        value_to_code = None
        if col in dicts:
            vals = dicts[col]
            n_distinct = len(vals)
        else:
            distinct = (
                df.select(col).filter(F.col(col).isNotNull()).distinct().persist()
            )
            n_distinct = distinct.count()
            vals = None
            if n_distinct <= max_dict_size:
                vals = [r[col] for r in distinct.sort(F.col(col)).collect()]
        if vals is not None:
            # small domain: codes assigned driver-side in sorted order
            # (== DENSE_RANK()-1, what the oracle computes), broadcast
            # mapping join
            value_to_code = {v: i for i, v in enumerate(vals)}
            # pure-JVM VALUES plan: the createDataFrame it replaces
            # backed the broadcast build with a pickled Python RDD, so
            # every encode action launched Python workers (guide §4;
            # same swap as the round-13 tiny-result-frame rewrite)
            mapping = tiny_literal_frame(
                spark,
                list(value_to_code.items()),
                f"`{col}` string, __code bigint",
            )
            join_side = F.broadcast(mapping)
        else:
            # distributed dense codes: global sort, then zipWithIndex
            # assigns contiguous ranks with one extra count job —
            # scales to arbitrary domains where a rank window would
            # single-thread
            indexed = distinct.sort(F.col(col)).rdd.map(lambda r: r[0]).zipWithIndex()
            join_side = spark.createDataFrame(
                indexed,
                StructType(
                    [StructField(col, StringType()), StructField("__code", LongType())]
                ),
            )
            from .lifecycle import checkpoint

            # materialize the mapping NOW (eager localCheckpoint,
            # truncating the lineage back through `distinct`): the
            # encode join is lazy, and unpersisting `distinct` before
            # it ran re-executed the whole distinct+global-sort per
            # large-domain column at first action
            join_side = checkpoint(join_side, eager=True)
        if col not in dicts:
            distinct.unpersist()
        out = (
            out.join(join_side, on=col, how="left")
            .drop(col)
            .withColumnRenamed("__code", col)
        )
        meta.columns[col] = ColumnMeta(
            col,
            "categorical",
            n_distinct,
            null_code=n_distinct,
            value_to_code=value_to_code,
        )
    return out, meta


def encode_with_meta(df: DataFrame, meta: TableMeta) -> DataFrame:
    """Encode a NEW batch of rows with an EXISTING table's dictionary
    (incremental inserts, reference D5): categoricals map through the
    stored value->code maps, timestamps become epoch micros. Unseen
    categorical values encode as NULL — they have no code; callers
    that must accept them should re-encode with an extended
    dictionary.

    Small dictionaries (<= 256 codes, the usual case) become a
    create_map LITERAL lookup — a pure JVM projection, no join, so a
    delta's encode+aggregate plan stays one narrow scan (round 9: the
    per-column broadcast joins dominated the incremental entries'
    stats pass). Larger dictionaries keep the broadcast mapping join
    (a 10k-literal expression tree is slower to plan than the join it
    replaces, and never a driver-side per-row map either way)."""
    out = df
    spark = df.sparkSession
    for name, cm in meta.columns.items():
        if name not in df.columns:
            continue
        if cm.origin == "timestamp":
            out = out.withColumn(
                name, F.unix_micros(F.col(name).cast("timestamp"))
            )
        elif cm.kind == "categorical" and cm.value_to_code is not None:
            if len(cm.value_to_code) <= 256:
                kv = []
                for v, c in cm.value_to_code.items():
                    kv.append(F.lit(v))
                    kv.append(F.lit(int(c)).cast("bigint"))
                out = out.withColumn(
                    name,
                    F.create_map(*kv)[F.col(name)]
                    if kv
                    else F.lit(None).cast("bigint"),
                )
            else:
                mapping = tiny_literal_frame(
                    spark,
                    [(v, int(c)) for v, c in cm.value_to_code.items()],
                    f"`{name}` string, __code bigint",
                )
                out = (
                    out.join(F.broadcast(mapping), on=name, how="left")
                    .drop(name)
                    .withColumnRenamed("__code", name)
                )
    return out


def functional_dependencies(
    df: DataFrame, candidate_cols: list[str] | None = None
) -> list[tuple[str, str]]:
    """Detect exact functional dependencies a -> b (reference C3:
    prepare_single_tables.py fd_dict): b is FD-implied by a iff every
    a-group has exactly one distinct b. FD-implied columns can be
    dropped from the model scope and reconstructed via the mapping —
    fewer columns, smaller SPNs, same answers.

    One groupBy per candidate determinant; candidates default to the
    low-cardinality string/int columns (checking all pairs on a wide
    table would be a shuffle per column — callers narrow the list at
    scale)."""
    from pyspark.sql.types import NumericType as _Num

    cols = candidate_cols or [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, _Num) or f.dataType.typeName() == "string"
    ]
    out: list[tuple[str, str]] = []
    for a in cols:
        others = [b for b in cols if b != a]
        if not others:
            continue
        # countDistinct skips NULLs, so NULL-ness must count as its own
        # value: a group holding {x, NULL} has TWO b-states, and
        # declaring a->b would reconstruct 'x' onto rows whose true
        # value is NULL
        agg = df.groupBy(a).agg(
            *[
                (
                    F.countDistinct(b)
                    + F.max(F.col(b).isNull().cast("int"))
                ).alias(b)
                for b in others
            ]
        )
        maxes = agg.agg(*[F.max(b).alias(b) for b in others]).collect()[0]
        for b in others:
            if maxes[b] == 1:
                out.append((a, b))
    return out


def stage_sampled_tables(
    catalog: dict[str, DataFrame],
    schema: SchemaGraph,
    out_dir: str,
    fractions: dict[str, float],
    seed: int = 42,
) -> tuple[dict[str, DataFrame], SchemaGraph]:
    """Sampled staging (reference C6: JoinDataPreparator sampled HDF5
    staging + C7 sample-rate bookkeeping): write a seeded row sample
    of each table to parquet and return a catalog over the staged
    files plus a schema whose ``Table.sample_rate`` records the
    ACHIEVED rate (staged_rows / source_rows, not the requested
    fraction — Bernoulli sampling drifts). Training on the staged
    catalog with this schema produces models whose COUNT/SUM
    estimates refer to the FULL data (trainer consumes sample_rate).
    """
    import copy as _copy

    staged_schema = _copy.deepcopy(schema)
    staged: dict[str, DataFrame] = {}
    spark = next(iter(catalog.values())).sparkSession
    for name, df in catalog.items():
        frac = fractions.get(name, 1.0)
        path = f"{out_dir}/{name}.parquet"
        sample = df.sample(fraction=frac, seed=seed) if frac < 1.0 else df
        sample.write.mode("overwrite").parquet(path)
        staged[name] = spark.read.parquet(path)
        if name in staged_schema.tables and frac < 1.0:
            n_src = df.count()
            staged_schema.tables[name].sample_rate = (
                staged[name].count() / max(n_src, 1)
            )
    return staged, staged_schema


def fanout_multiplier(
    parent: DataFrame, child: DataFrame, rel: Relationship
) -> DataFrame:
    """Attach mul_/nn_ fanout columns to the PARENT (the `end` side of
    the FK edge): mul = number of child rows referencing this row
    (0 if none), nn = 1 iff any child exists (reference C4,
    join_data_preparation.py multiplier columns).

    Shuffle profile: one groupBy on the FK (map-side combined), one
    join on the parent PK; the counts relation has one row per
    distinct FK value and is broadcast-able for dimension parents.
    """
    counts = child.groupBy(F.col(rel.start_attr).alias(rel.end_attr)).agg(
        F.count(F.lit(1)).alias(rel.multiplier_attribute_name)
    )
    return (
        parent.join(counts, on=rel.end_attr, how="left")
        .withColumn(
            rel.multiplier_attribute_name,
            F.coalesce(F.col(rel.multiplier_attribute_name), F.lit(0)),
        )
        .withColumn(
            rel.null_indicator_name,
            (F.col(rel.multiplier_attribute_name) > 0).cast("int"),
        )
    )


def generate_join_sample(
    catalog: dict[str, DataFrame],
    schema: SchemaGraph,
    table_set: set[str],
    relationship_set: set[str] | None = None,
    sample_fraction: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """Materialize the full-outer-join relation of a table set along
    its schema-graph edges, with fanout multiplier/indicator columns
    (reference C5: JoinDataPreparator.generate_join_sample).

    The returned relation has DeepDB's training-sample semantics:
    every base-table row appears (NULL-augmented if unmatched), every
    edge contributes mul_/nn_ columns. ``sample_fraction`` applies a
    seeded row sample AFTER the join chain (reference caps with
    max_intermediate_size; a post-join sample keeps NULL-augmented
    row proportions unbiased).

    Scale notes: FK joins shuffle on their keys once each; AQE handles
    skew. For repeated ensemble generation over the same big fact
    table, bucket the staging parquet by the join key so these joins
    are shuffle-free.
    """
    if relationship_set is None:
        relationship_set = {
            r.identifier
            for r in schema.relationships.values()
            if r.start in table_set and r.end in table_set
        }
    rels = [schema.relationships[i] for i in sorted(relationship_set)]
    if not rels:
        if not table_set:
            # next(iter(...)) on an empty set would leak a raw
            # StopIteration (silently truncating any enclosing
            # generator) — fail with the contract instead
            raise ValueError("generate_join_sample: empty table_set")
        if len(table_set) > 1:
            # an explicit empty relationship_set over several tables
            # would silently sample ONE arbitrary table and drop the
            # rest — same silent-contract-violation class as above
            raise ValueError(
                f"generate_join_sample: {sorted(table_set)} with no "
                "connecting relationships — pass relationship_set=None "
                "to derive the edges from the schema"
            )
        df = catalog[next(iter(sorted(table_set)))]
        # `is not None`, matching the multi-table path: a falsy 0.0
        # used to return the FULL table here but an empty sample there
        return (
            df.sample(sample_fraction, seed=seed)
            if sample_fraction is not None
            else df
        )

    # Column names must be unique ACROSS the table set: the joined
    # frame is consumed positionally by encoding/training, where two
    # columns sharing a name are unresolvable. Fail with the contract
    # instead of a downstream AMBIGUOUS_REFERENCE (the reference
    # sidesteps this by prefixing attributes with their table name).
    seen: dict[str, str] = {}
    for t in sorted(table_set):
        for c in catalog[t].columns:
            if c in seen:
                raise ValueError(
                    f"duplicate column name {c!r} in tables "
                    f"{seen[c]!r} and {t!r}: outer-join staging "
                    "requires unique column names across the table "
                    "set (prefix columns with their table name)"
                )
            seen[c] = t

    # Pre-compute multiplier columns on each edge's parent table
    enriched = {t: catalog[t] for t in table_set}
    for rel in rels:
        enriched[rel.end] = fanout_multiplier(
            enriched[rel.end], catalog[rel.start], rel
        )

    df = enriched[rels[0].end]
    joined = {rels[0].end}
    pending = list(rels)
    while pending:
        progressed = False
        for rel in list(pending):
            if rel.start in joined and rel.end in joined:
                # parallel edge between two already-joined tables (or
                # a cycle-closing edge): silently dropping it would
                # materialize a training sample VIOLATING the edge's
                # equality while still coalescing its mul_/nn_ columns
                raise ValueError(
                    f"generate_join_sample: edge {rel.identifier!r} "
                    "closes a cycle / parallels an applied edge — the "
                    "outer-join tree cannot express it; stage this "
                    "table set without the extra edge"
                )
            elif rel.start in joined or rel.end in joined:
                other = rel.end if rel.start in joined else rel.start
                # name-based join condition: safe because the unique-
                # column-name contract above guarantees each attribute
                # resolves to exactly one side. (Lineage-bound refs à
                # la the exact compiler trip Spark's ambiguous-self-
                # join check here: fanout_multiplier embeds the child
                # table's plan in the parent's, so chained joins see
                # the same Dataset on both sides.)
                df = df.join(
                    enriched[other],
                    F.col(rel.start_attr) == F.col(rel.end_attr),
                    "full_outer",
                )
                joined.add(other)
                pending.remove(rel)
                progressed = True
        if not progressed:
            raise ValueError(f"join graph is disconnected: {pending}")

    # Null-augmented rows have NULL multiplier/indicator columns from
    # the outer join: normalize to mul=0 / nn=0.
    for rel in rels:
        df = df.withColumn(
            rel.multiplier_attribute_name,
            F.coalesce(F.col(rel.multiplier_attribute_name), F.lit(0)),
        ).withColumn(
            rel.null_indicator_name,
            F.coalesce(F.col(rel.null_indicator_name), F.lit(0)),
        )
    if sample_fraction is not None:
        df = df.sample(sample_fraction, seed=seed)
    return df


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column statistics profile -> one row per column:
    (col_name, dtype, n_rows, n_nulls, n_distinct, min_num, max_num,
    min_str, max_str). Numeric/timestamp columns report numeric
    min/max (timestamps as epoch micros); strings report lexical
    min/max.

    The C2 metadata surface (reference:
    data_preparation/prepare_single_tables.py records table length,
    distinct counts and null codes per column) generalized into a
    data-quality profiling operator. ONE aggregate pass over the
    table — the count-distincts share a single expand+aggregate plan,
    no per-column jobs, no driver loop; the wide single-row result is
    exploded into per-column rows in the same job.

    The input is spread to the session's parallelism first (round 13,
    guide §2.6): the multi-distinct plan EXPANDs each input row once
    per distinct column (~10x here) before the partial aggregate, and
    on a small single-split parquet the whole expand+aggregate ran in
    ONE task (profiled: 1.7s of a 2.5s rep in that task). The
    repartition shuffles the raw input rows, the expansion then runs
    on every core; at warehouse scale the input already has many
    splits and spread_small_input is a metadata-only no-op. All the
    aggregates are order-insensitive, so the profile is unchanged.
    """
    from pyspark.sql.types import StringType, TimestampNTZType, TimestampType

    from .partitioning import spread_small_input

    df = spread_small_input(df)

    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    specs = []  # (col, dtype_str, kind)
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            kind = "ts"
            num = F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        elif isinstance(dt, NumericType):
            kind = "num"
            num = F.col(c).cast("double")
        elif isinstance(dt, StringType):
            kind = "str"
            num = None
        else:  # arrays/structs/binary: null-count + distinct only
            kind = "other"
            num = None
        specs.append((c, dt.simpleString(), kind))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
        if num is not None:
            aggs.append(F.min(num).alias(f"__mn_{c}"))
            aggs.append(F.max(num).alias(f"__mx_{c}"))
        if kind == "str":
            aggs.append(F.min(F.col(c)).alias(f"__ms_{c}"))
            aggs.append(F.max(F.col(c)).alias(f"__xs_{c}"))
    wide = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.lit(dtype).alias("dtype"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            (F.col(f"__mn_{c}") if kind in ("num", "ts") else null_d).alias("min_num"),
            (F.col(f"__mx_{c}") if kind in ("num", "ts") else null_d).alias("max_num"),
            (F.col(f"__ms_{c}") if kind == "str" else null_s).alias("min_str"),
            (F.col(f"__xs_{c}") if kind == "str" else null_s).alias("max_str"),
        )
        for c, dtype, kind in specs
    ]
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
