"""C3 functional dependencies, sinks round-trip, evaluation harness,
stateful streaming, multi-table model sub-scopes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deepdb_public_spark.engine import Engine
from deepdb_public_spark.evaluation import evaluate_aqp, evaluate_cardinalities
from deepdb_public_spark.operators.prep import functional_dependencies
from deepdb_public_spark.sources.writers import write_csv, write_parquet
from deepdb_public_spark.spn.ensemble import SPNEnsemble
from deepdb_public_spark.spn.trainer import train_spn_model
from deepdb_public_spark.streaming.stateful import run_stateful_stream, running_user_stats
from deepdb_public_spark.streaming.windows import stream_events
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_CORRECT)


def test_functional_dependencies(spark):
    df = spark.createDataFrame(
        [(i, i % 5, (i % 5) * 10, i * 7 % 3) for i in range(200)],
        "id long, a long, b long, c long",
    )
    fds = functional_dependencies(df, ["a", "b", "c"])
    assert ("a", "b") in fds and ("b", "a") in fds  # bijective pair
    assert ("a", "c") not in fds and ("c", "b") not in fds


def test_sink_roundtrip(tmp_path, engine, spark):
    out = str(tmp_path / "li")
    df = engine.catalog["lineitem"].filter(F.col("l_discount") > 0.05)
    write_parquet(df, out, partition_by=["l_returnflag"], target_files=2)
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    # partition pruning reaches the scan
    plan = back.filter(F.col("l_returnflag") == "A")._jdf.queryExecution().executedPlan().toString()
    assert back.filter(F.col("l_returnflag") == "A").count() == df.filter(
        F.col("l_returnflag") == "A"
    ).count()
    write_csv(engine.sql("SELECT 1 AS one"), str(tmp_path / "res_csv"))
    assert spark.read.option("header", True).csv(str(tmp_path / "res_csv")).count() == 1
    from deepdb_public_spark.sources.writers import write_orc

    write_orc(df.select("l_orderkey", "l_quantity"), str(tmp_path / "li_orc"), target_files=2)
    assert spark.read.orc(str(tmp_path / "li_orc")).count() == df.count()


@pytest.fixture(scope="module")
def col3_model(engine):
    return train_spn_model(
        engine.catalog, engine.schema, {"customer", "orders", "lineitem"}, 80_000
    )


def test_three_table_model_subscopes(engine, col3_model):
    """One 3-table RSPN answers every connected sub-scope via fanout
    corrections (the heart of the outer-join-sample algebra)."""
    ens = SPNEnsemble(engine.schema)
    ens.add_model(col3_model)
    cases = [
        "SELECT COUNT(*) AS cnt FROM customer WHERE customer.c_mktsegment = 'BUILDING'",
        "SELECT COUNT(*) AS cnt FROM orders WHERE orders.o_orderstatus = 'F'",
        "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_quantity < 25",
        "SELECT COUNT(*) AS cnt FROM customer, orders WHERE customer.c_custkey = orders.o_custkey AND customer.c_mktsegment = 'BUILDING'",
        "SELECT COUNT(*) AS cnt FROM customer, orders, lineitem "
        "WHERE customer.c_custkey = orders.o_custkey AND orders.o_orderkey = lineitem.l_orderkey "
        "AND customer.c_mktsegment = 'BUILDING' AND lineitem.l_discount <= 0.05",
    ]
    for sql in cases:
        q = engine.parse(sql)
        est = ens.cardinality(q)
        true = engine.query(q).collect()[0][0]
        assert max(est / max(true, 1), true / max(est, 1e-9)) <= 1.35, (
            f"{sql}: est {est} vs {true}"
        )


def test_evaluation_harnesses(tmp_path, engine, col3_model):
    ens = SPNEnsemble(engine.schema)
    ens.add_model(col3_model)
    engine.ensemble = ens
    card = evaluate_cardinalities(
        engine,
        [
            "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_quantity < 25",
            "SELECT COUNT(*) AS cnt FROM orders, lineitem WHERE orders.o_orderkey = lineitem.l_orderkey AND orders.o_orderstatus = 'F'",
        ],
        output_csv=str(tmp_path / "card.csv"),
    )
    assert card["n"] == 2 and card["median_q_error"] < 1.5
    assert (tmp_path / "card.csv").read_text().startswith("query,")
    aqp = evaluate_aqp(
        engine,
        [
            "SELECT lineitem.l_returnflag, COUNT(*) AS cnt, AVG(lineitem.l_quantity) AS aq "
            "FROM lineitem GROUP BY lineitem.l_returnflag"
        ],
    )
    assert aqp["mean_relative_error"] < 0.1
    assert aqp["skipped_queries"] == []


def test_evaluate_confidence_intervals_harness(tmp_path, engine, col3_model):
    """CI calibration harness (reference:
    confidence_interval_evaluation.py): coverage on a seeded query set
    should be high (intervals contain the truth) and the CSV written."""
    from deepdb_public_spark.evaluation import evaluate_confidence_intervals

    ens = SPNEnsemble(engine.schema)
    ens.add_model(col3_model)
    engine.ensemble = ens
    res = evaluate_confidence_intervals(
        engine,
        [
            "SELECT COUNT(*) AS cnt FROM lineitem WHERE lineitem.l_quantity < 25",
            "SELECT SUM(lineitem.l_quantity) AS sq FROM lineitem "
            "WHERE lineitem.l_discount <= 0.05",
            "SELECT lineitem.l_returnflag, COUNT(*) AS cnt FROM lineitem "
            "GROUP BY lineitem.l_returnflag",
        ],
        confidence=0.99,
        output_csv=str(tmp_path / "ci.csv"),
    )
    assert res["n_cells"] >= 5
    assert res["coverage"] >= 0.8, res
    assert res["mean_rel_halfwidth"] < 1.0
    assert (tmp_path / "ci.csv").read_text().startswith("query,")


def test_evaluate_aqp_skips_exploding_groupby(engine, col3_model, monkeypatch):
    """A group-by grid over the model-plane cell cap is recorded as
    skipped instead of aborting the whole evaluation run."""
    from deepdb_public_spark.spn import model as model_mod

    ens = SPNEnsemble(engine.schema)
    ens.add_model(col3_model)
    engine.ensemble = ens
    monkeypatch.setattr(model_mod, "MAX_GROUPBY_CELLS", 1)
    big = (
        "SELECT lineitem.l_returnflag, COUNT(*) AS cnt "
        "FROM lineitem GROUP BY lineitem.l_returnflag"
    )
    small = "SELECT COUNT(*) AS cnt FROM lineitem"
    out = evaluate_aqp(engine, [big, small])
    assert out["skipped_queries"] == [big]
    assert out["n_cells"] == 1  # the ungrouped query still evaluated


_AQP_ROW_ORDER = """
import sys
from types import SimpleNamespace
from deepdb_public_spark.evaluation import evaluate_aqp

keys = [f"g{i:02d}" for i in range(24)]
engine = SimpleNamespace(
    parse=lambda sql: SimpleNamespace(group_bys=[("t", "g")]),
    ensemble=SimpleNamespace(
        aqp=lambda q: [{"g": k, "n": float(i)} for i, k in enumerate(keys[:-2])]
    ),
)
truth = {"q": [{"g": k, "n": i + 1} for i, k in enumerate(keys[2:])]}
evaluate_aqp(engine, ["q"], output_csv=sys.argv[1], ground_truth=truth)
"""


def test_evaluate_aqp_row_order_is_independent_of_the_string_hash(tmp_path):
    """Grouped rows come out in one order whatever PYTHONHASHSEED is,
    so two runs of the same code write the same CSV."""
    import csv
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    orders = []
    for seed in ("1", "2"):
        out = tmp_path / f"aqp_{seed}.csv"
        env = dict(os.environ, PYTHONHASHSEED=seed)
        subprocess.run(
            [sys.executable, "-c", _AQP_ROW_ORDER, str(out)],
            cwd=root, env=env, check=True,
        )
        with open(out) as f:
            orders.append([r[1:3] for r in csv.reader(f) if not r[0].startswith("#")])
    assert len(orders[0]) == 1 + 2 + 20 + 2  # header, model-only, both, exact-only
    assert orders[0] == orders[1]


def test_stateful_streaming_matches_batch(spark):
    stream = stream_events(spark, f"{SF_CORRECT}/events.parquet", watermark="2 days")
    out = run_stateful_stream(stream, "t_user_stats").toPandas()
    # memory sink in update mode may hold one row per micro-batch per
    # user; availableNow on a static dir = one batch -> one row each
    batch = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .toPandas()
        .set_index("user_id")
    )
    got = out.set_index("user_id").sort_index()
    batch = batch.sort_index()
    assert len(got) == len(batch)
    assert (got["n_events"].to_numpy() == batch["n"].to_numpy()).all()
    assert np.allclose(got["total_value"].to_numpy(), batch["s"].to_numpy(), rtol=1e-9)


def test_interval_join_streaming_matches_batch(spark):
    """The interval join is defined once and runs identically as a
    batch range join and as a stateful stream-stream inner join
    (watermarks on both sides + bounded time condition)."""
    from deepdb_public_spark.streaming.windows import interval_join, stream_events

    eng = Engine(spark, SF_CORRECT)
    ev = eng.catalog["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ts_r"), "value"
    )
    batch = interval_join(purchases, clicks, "user_id", "ts", "ts_r", "1 hour").select(
        "event_id", F.unix_micros("ts_r").alias("c_us"), "value"
    )

    path = SF_CORRECT + "/events.parquet"
    s1 = (
        stream_events(spark, path, watermark="2 days")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    s2 = (
        stream_events(spark, path, watermark="2 days")
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("ts_r"), "value")
    )
    joined = interval_join(s1, s2, "user_id", "ts", "ts_r", "1 hour").select(
        "event_id", F.unix_micros("ts_r").alias("c_us"), "value"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("_ij_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("_ij_stream")
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_funnel_counts_hand_computed(spark):
    from deepdb_public_spark.streaming.windows import funnel_counts

    rows = [
        # user 1: full ordered funnel
        (1, 1, "view", "2024-01-01 10:00:00"),
        (2, 1, "click", "2024-01-01 10:05:00"),
        (3, 1, "purchase", "2024-01-01 10:10:00"),
        # user 2: clicked BEFORE viewing -> stops after view
        (4, 2, "click", "2024-01-01 09:00:00"),
        (5, 2, "view", "2024-01-01 09:30:00"),
        # user 3: view + click, no purchase
        (6, 3, "view", "2024-01-01 08:00:00"),
        (7, 3, "click", "2024-01-01 08:30:00"),
        # user 4: purchase only -> not even step 1
        (8, 4, "purchase", "2024-01-01 07:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts(ev, ["view", "click", "purchase"]).collect()
    }
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_jsonl_roundtrip_and_corrupt_records(tmp_path, spark, engine):
    from deepdb_public_spark.sources.catalog import read_jsonl
    from deepdb_public_spark.sources.writers import write_jsonl

    out = str(tmp_path / "docs_jsonl")
    docs = engine.catalog["documents"].select("doc_id", "lang", "text")
    write_jsonl(docs, out, target_files=2, compression=None)
    back = read_jsonl(spark, out, schema="doc_id long, lang string, text string").cache()
    assert back.count() == docs.count()
    assert back.filter(F.col("_corrupt_record").isNotNull()).count() == 0
    assert (
        back.select("doc_id", "lang", "text").exceptAll(docs).count() == 0
    )

    # corrupt line lands in _corrupt_record instead of failing the job
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.json").write_text(
        '{"doc_id": 1, "lang": "en", "text": "ok"}\n'
        'this is not json\n'
        '{"doc_id": 2, "lang": "de", "text": "auch ok"}\n'
    )
    got = read_jsonl(spark, str(bad), schema="doc_id long, lang string, text string").cache()
    assert got.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    assert got.filter(F.col("doc_id").isNotNull()).count() == 2


def test_stream_to_parquet_exactly_once(tmp_path, spark):
    """Parquet sink with checkpoint: draining the backlog lands every
    row once; re-running against the same checkpoint appends nothing
    (exactly-once via the sink commit log)."""
    from deepdb_public_spark.streaming.windows import stream_events, stream_to_parquet

    src = f"{SF_CORRECT}/events.parquet"
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    n_src = spark.read.parquet(src).count()

    s = stream_events(spark, src, watermark="1 day").select("event_id", "user_id", "ts")
    stream_to_parquet(s, out, ckpt)
    assert spark.read.parquet(out).count() == n_src

    # same checkpoint, same source: nothing new to process
    s2 = stream_events(spark, src, watermark="1 day").select("event_id", "user_id", "ts")
    stream_to_parquet(s2, out, ckpt)
    assert spark.read.parquet(out).count() == n_src


def test_sorted_parquet_files_own_disjoint_key_ranges(tmp_path, engine, spark):
    """write_sorted_parquet is the data-skipping layout: output files
    must own DISJOINT sort-key ranges (checked from the real parquet
    footers), so a pushed-down filter on the key prunes whole files
    at scan time instead of reading the table."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "li_sorted")
    from deepdb_public_spark.sources.writers import write_sorted_parquet

    df = engine.catalog["lineitem"]
    write_sorted_parquet(df, out, ["l_shipdate"], n_files=8)

    spans = []
    for f in glob.glob(out + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index("l_shipdate")
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max
            los.append(st.min)
            his.append(st.max)
        spans.append((min(los), max(his)))
    assert len(spans) >= 2
    spans.sort()
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        # range partitioning: boundaries may share ONE key value, but
        # ranges never interleave
        assert lo_next >= hi_prev

    # the filter reaches the scan as a pushed filter
    back = spark.read.parquet(out)
    flt = back.filter(F.col("l_shipdate") >= "1998-09-01")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    assert flt.count() == df.filter(F.col("l_shipdate") >= "1998-09-01").count()
