"""C3 FD-based column drop (wired into training), C6 sampled staging,
and connected-components dedup clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deepdb_public_spark.operators.dedup import (
    deduplicate_corpus,
    duplicate_clusters,
)
from deepdb_public_spark.operators.lifecycle import release
from deepdb_public_spark.plans.query import Condition, Query
from deepdb_public_spark.plans.schema import SchemaGraph, Table
from deepdb_public_spark.spn.learn import LearnParams
from deepdb_public_spark.spn.trainer import train_spn_model


def test_fd_dropped_column_still_answerable(spark):
    """city -> country is an exact FD: country is dropped from the
    model scope, and conditions on country rewrite to city ranges."""
    cities = [
        ("paris", "fr"), ("lyon", "fr"), ("nice", "fr"),
        ("berlin", "de"), ("munich", "de"), ("rome", "it"),
    ]
    rows = [
        (i, cities[i % 6][0], cities[i % 6][1], float(i % 50))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "rid int, city string, country string, v double")
    g = SchemaGraph()
    g.add_table(Table("t", ["rid"]))
    model = train_spn_model(
        {"t": df}, g, {"t"}, 50_000,
        LearnParams(min_instances_slice=500),
        use_functional_dependencies=True,
    )
    assert "country" in model.fd_maps
    assert "country" not in model.column_names
    assert "city" in model.column_names

    q = Query(table_set={"t"})
    q.add_where_condition(Condition("t", "country", "=", "fr"))
    est = model.cardinality(q)
    true = sum(1 for r in rows if r[2] == "fr")
    assert est == pytest.approx(true, rel=0.05)

    q2 = Query(table_set={"t"})
    q2.add_where_condition(Condition("t", "country", "IN", ["de", "it"]))
    q2.add_where_condition(Condition("t", "v", "<", 25))
    est2 = model.cardinality(q2)
    true2 = sum(1 for r in rows if r[2] in ("de", "it") and r[3] < 25)
    assert est2 == pytest.approx(true2, rel=0.2)


def test_stage_sampled_tables_roundtrip(spark, tmp_path):
    """C6+C7 end to end: stage a 20% sample, train on the staged
    catalog, estimate FULL-table counts."""
    from deepdb_public_spark.engine import Engine
    from deepdb_public_spark.operators.prep import stage_sampled_tables
    from tests.conftest import SF_SMOKE

    eng = Engine(spark, SF_SMOKE)
    staged, schema2 = stage_sampled_tables(
        eng.catalog, eng.schema, str(tmp_path), {"lineitem": 0.2}
    )
    rate = schema2.tables["lineitem"].sample_rate
    assert 0.1 < rate < 0.3
    model = train_spn_model(staged, schema2, {"lineitem"}, 100_000)
    q = Query(table_set={"lineitem"})
    q.add_where_condition(Condition("lineitem", "l_quantity", "<", 25))
    est = model.cardinality(q)
    true = eng.catalog["lineitem"].filter("l_quantity < 25").count()
    assert max(est / true, true / est) < 1.3


def test_duplicate_clusters_and_corpus_dedup(spark):
    # two components: {1,2,3} (chain) and {10, 11}; 20 stays
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster"] for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 10, 11, 20)], "doc_id long, text string"
    )
    kept = deduplicate_corpus(docs, "doc_id", pairs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 10, 20]
    release()


def test_fd_neq_excludes_null_bucket(spark):
    """<> / NOT IN on an FD-dropped column must NOT admit the NULL
    bucket: 'b <> x' is UNKNOWN for NULL in SQL. Planted: one city
    whose country is always NULL."""
    cities = [
        ("paris", "fr"), ("lyon", "fr"), ("berlin", "de"),
        ("munich", "de"), ("atlantis", None), ("rome", "it"),
    ]
    rows = [
        (i, cities[i % 6][0], cities[i % 6][1], float(i % 50))
        for i in range(3000)
    ]
    df = spark.createDataFrame(
        rows, "rid int, city string, country string, v double"
    )
    g = SchemaGraph()
    g.add_table(Table("t", ["rid"]))
    model = train_spn_model(
        {"t": df}, g, {"t"}, 50_000,
        LearnParams(min_instances_slice=500),
        use_functional_dependencies=True,
    )
    if "country" not in model.fd_maps:
        pytest.skip("NULL-bearing FD not detected by this trainer config")
    q = Query(table_set={"t"})
    q.add_where_condition(Condition("t", "country", "<>", "fr"))
    est = model.cardinality(q)
    true = sum(1 for r in rows if r[2] is not None and r[2] != "fr")
    assert est == pytest.approx(true, rel=0.05), (est, true)
    q2 = Query(table_set={"t"})
    q2.add_where_condition(Condition("t", "country", "NOT_IN", ["fr", "de"]))
    est2 = model.cardinality(q2)
    true2 = sum(1 for r in rows if r[2] is not None and r[2] not in ("fr", "de"))
    assert est2 == pytest.approx(true2, rel=0.05), (est2, true2)
