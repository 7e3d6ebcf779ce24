"""Event-stream operators (extension surface; the reference has no
streaming at all — SURVEY.md §2 E).

Each windowed aggregation is defined ONCE as a transformation and is
valid on both a batch DataFrame and a Structured Streaming DataFrame —
the idiomatic Spark pattern (same logical plan; the streaming runner
adds state + watermark). Batch form is what the DuckDB oracle checks;
``stream_events`` + ``run_streaming_batch`` prove the same pipeline
executes under the streaming engine with watermarks.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, window_len: str = "1 day") -> DataFrame:
    """Per-event-type tumbling-window counts + value sums."""
    return (
        events.groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            # decimal(38,6): 18,6 overflowed at |value| >= 1e12 — a
            # runtime ANSI crash (or silent NULL with ANSI off)
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, window_len: str = "2 days", slide: str = "1 day"
) -> DataFrame:
    """Sliding-window event counts (each event lands in
    window_len/slide overlapping windows)."""
    return (
        events.groupBy(F.window("ts", window_len, slide).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").cast("string").alias("win_start"), "cnt")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based). Batch equivalent of
    ``session_window``; on a stream the same expression is stateful
    with watermark-driven eviction."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    ).select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("sess_start_us"),
        "n_events",
    )


def sessionize_sql(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization via lag + running sum — the portable-SQL twin of
    ``session_window`` (this exact logic is the DuckDB oracle for it):
    a new session starts when the per-user gap exceeds ``gap_minutes``.
    Returns per-user session counts and sizes. Gap math uses integer
    epoch micros (unix_micros here, epoch_us in the DuckDB oracle) so
    both engines compare exactly."""
    events.createOrReplaceTempView("_sess_events")
    return events.sparkSession.sql(
        f"""
        SELECT user_id, session_id, COUNT(*) AS n_events
        FROM (
          SELECT user_id,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL THEN 1
                        WHEN unix_micros(ts)
                             - unix_micros(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                             >= {gap_minutes * 60} * 1000000 THEN 1
                        ELSE 0 END AS is_new
            FROM _sess_events
          ) g
        ) s
        GROUP BY user_id, session_id
        """
    )


def stream_events(
    spark: SparkSession, events_parquet: str, watermark: str = "1 day"
) -> DataFrame:
    """Read the events parquet as a bounded stream (file source) with
    an event-time watermark — the late-data policy a production topic
    (Kafka etc.) would use; the file source keeps the container
    dependency-free. Handles the fixture's TIMESTAMP(NANOS) the same
    way the batch catalog does (nanosAsLong + us truncation)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(events_parquet).schema
    src = events_parquet
    if os.path.isfile(src):
        # the file stream source requires a directory; expose a single
        # parquet file through a symlink shim. The shim path is
        # DETERMINISTIC per source file (not mkdtemp): a checkpointed
        # query records the source path, so resuming across
        # stream_events calls needs the same directory back.
        import hashlib

        abs_src = os.path.abspath(src)
        d = os.path.join(
            tempfile.gettempdir(),
            "stream_events_" + hashlib.md5(abs_src.encode()).hexdigest()[:10],
        )
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(src))
        if not os.path.exists(link):
            os.symlink(abs_src, link)
        src = d
    stream = spark.readStream.schema(raw_schema).parquet(src)
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks require TIMESTAMP (LTZ); the fixture stores naive
        # micros — reinterpret as UTC (session timeZone is UTC)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream.withWatermark("ts", watermark)


def streaming_dedup(
    stream_df: DataFrame,
    subset: list[str],
    watermark_col: str = "ts",
    delay: str | None = None,
) -> DataFrame:
    """Exact streaming dedup: keep the first row per ``subset`` key
    within the watermark horizon (dropDuplicatesWithinWatermark).
    The unbounded-stream analogue of the batch fingerprint dedup —
    state is bounded by the horizon, not the stream length, which is
    the only dedup contract that survives an infinite stream.

    ``delay=None`` uses the stream's EXISTING watermark
    (stream_events sets one; Spark forbids redefining it); pass a
    delay only for raw streams without one."""
    out = (
        stream_df
        if delay is None
        else stream_df.withWatermark(watermark_col, delay)
    )
    return out.dropDuplicatesWithinWatermark(subset)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts_r",
    lookback: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: every right row whose timestamp
    falls in [left_ts - lookback, left_ts] for the same ``on`` key
    (e.g. all clicks within the hour before each purchase — the
    attribution-window join; x18's as-of join keeps only the nearest).

    Defined once, valid in batch AND Structured Streaming: the
    equality key + bounded time-range condition is exactly what makes
    a stream-stream inner join state-bounded (each side's watermark
    lets Spark evict rows older than the lookback). Batch form is the
    DuckDB-checkable range join. ``right_ts`` must differ from
    ``left_ts`` (rename before calling)."""
    cond = (
        (left[on] == right[on])
        & (right[right_ts] >= left[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (right[right_ts] <= left[left_ts])
    )
    return left.join(right, cond, "inner").drop(right[on])


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: users who performed step[0], then
    step[1] at-or-after their first step[0], then step[2] at-or-after
    that, ... -> one row per step (step_order, step, n_users). The
    strictly-ordered conversion funnel over an event log.

    Scale shape: every aggregation and join keys on ``user_col``, so
    after the first shuffle the per-step joins co-partition; cost is
    len(steps) passes over the (filtered) event log, no window over
    the whole log, no per-user collect."""
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t"))
    )
    parts = [
        cur.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(1).alias("step_order"), F.lit(steps[0]).alias("step"), "n_users"
        )
    ]
    for i, s in enumerate(steps[1:], start=2):
        nxt = (
            events.filter(F.col(type_col) == s)
            .join(cur.withColumnRenamed("__t", "__prev"), user_col)
            .filter(F.col(ts_col) >= F.col("__prev"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("__t"))
        )
        parts.append(
            nxt.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i).alias("step_order"), F.lit(s).alias("step"), "n_users"
            )
        )
        cur = nxt
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Production sink: land a stream in parquet with a checkpoint —
    the file-sink commit log makes delivery exactly-once (re-running
    with the same checkpoint after processing everything appends
    NOTHING, even though the source files are still there). Trigger
    availableNow processes the backlog and stops, the
    batch-boundary-friendly way to drain a topic."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "stream_to_parquet: backlog not drained within 120s — "
            "output is partial; re-run (the checkpoint resumes)"
        )


def run_streaming_batch(
    stream_df: DataFrame,
    transform,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a transform on a stream with trigger availableNow
    (process-everything-then-stop), landing in a memory sink; returns
    the sink contents as a DataFrame. Proves the transform is
    streaming-legal (stateful agg + watermark). ``output_mode`` is
    'complete' for aggregations, 'append' for row-wise operators
    (dedup, filters)."""
    q = (
        transform(stream_df)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            f"run_streaming_batch({query_name}): backlog not drained "
            "within 120s — memory sink is partial"
        )
    return stream_df.sparkSession.table(query_name)


def streaming_index_dedup(
    stream_docs: DataFrame,
    text_col: str,
    id_col: str,
    index_bands: DataFrame,
    index_sets: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    **dedup_kwargs,
) -> None:
    """Crawl-ingestion dedup: every arriving micro-batch of documents
    is matched against the STATIC corpus index
    (operators/dedup.build_minhash_index) inside foreachBatch and the
    verified near-dup pairs append to parquet. availableNow drains the
    backlog and stops; with a live source the same query runs forever,
    each batch costing O(batch + hit buckets) — the corpus index is
    never re-paired (the batch twin is dedup_against_index, which this
    reuses verbatim: one definition, two execution modes).

    foreachBatch (not a stream-stream join) is the right shape here:
    the index side is static/slowly-growing, and the per-batch plan is
    a bounded batch job, so no streaming state accumulates at all.
    Idempotence under replay (foreachBatch is at-least-once): each
    batch writes its pairs under a batch_id=<epoch id> partition with
    dynamic partition overwrite, so a batch replayed after a crash
    OVERWRITES its own partition instead of appending duplicates.
    """
    import pyspark.sql.functions as F

    from ..operators.dedup import dedup_against_index
    from ..operators.lifecycle import scope

    def _handle(batch: DataFrame, bid: int) -> None:
        # frees only this batch's intermediates, never the index's or
        # another query's
        with scope():
            pairs = dedup_against_index(
                batch, text_col, id_col, index_bands, index_sets,
                threshold=threshold, **dedup_kwargs,
            )
            (
                pairs.withColumn("batch_id", F.lit(int(bid)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_path)
            )

    q = (
        stream_docs.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming_index_dedup: backlog not drained within 180s — "
            "output is partial; re-run (the checkpoint resumes)"
        )
