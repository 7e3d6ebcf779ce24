"""The intermediate-state lifecycle (operators/lifecycle.py): scopes
free only their own registrations, across threads and through
run_concurrently, and the module is the only owner of checkpoints and
thread pools in the package."""

from __future__ import annotations

import pathlib
import threading

from deepdb_public_spark.operators import lifecycle

REPO = pathlib.Path(__file__).resolve().parent.parent


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def _checkpoint_alive(spark, df) -> bool:
    jrdd = df._jdf.queryExecution().analyzed().rdd()
    return spark.sparkContext._jsc.getPersistentRDDs().containsKey(jrdd.id())


def test_concurrent_scopes_free_only_their_own(spark):
    """Two threads each open a scope; the one that exits first frees
    its own frames, never the other's or the root's."""
    root = lifecycle.persist(spark.range(20).selectExpr("id AS r"))
    root.count()
    a_frames: dict = {}
    b_out: dict = {}
    errors: list = []
    b_ready, a_done = threading.Event(), threading.Event()

    def thread_a():
        try:
            with lifecycle.scope():
                p = lifecycle.persist(spark.range(100).selectExpr("id * 2 AS x"))
                p.count()
                a_frames["p"] = p
                a_frames["c"] = lifecycle.checkpoint(spark.range(50), eager=True)
                assert b_ready.wait(120)
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
        finally:
            a_done.set()

    def thread_b():
        try:
            with lifecycle.scope():
                p = lifecycle.persist(
                    spark.range(300).selectExpr("id AS k", "id + 1 AS y")
                )
                p.count()
                c = lifecycle.checkpoint(
                    spark.range(70).selectExpr("id AS k"), eager=True
                )
                b_ready.set()
                assert a_done.wait(120)
                b_out["cached"] = _cached(p) and _checkpoint_alive(spark, c)
                b_out["sum"] = c.join(p, "k").selectExpr("sum(y)").collect()[0][0]
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
            b_ready.set()

    threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert b_out["cached"] is True
    assert b_out["sum"] == sum(k + 1 for k in range(70))
    assert not _cached(a_frames["p"])
    assert not _checkpoint_alive(spark, a_frames["c"])
    assert _cached(root)
    lifecycle.release()
    assert not _cached(root)


def test_run_concurrently_inherits_scope_and_job_group(spark):
    """A worker's registration lands in the caller's scope (freed at
    its exit) and the worker's Spark jobs run under the caller's job
    group."""
    sc = spark.sparkContext

    def work():
        df = lifecycle.persist(spark.range(10).selectExpr("id AS w"))
        df.count()
        return df, sc.getLocalProperty("spark.jobGroup.id")

    sc.setJobGroup("lifecycle-test", "run_concurrently inheritance")
    try:
        with lifecycle.scope():
            (df, group), (_, group2) = lifecycle.run_concurrently([work, work])
            assert group == group2 == "lifecycle-test"
            assert _cached(df)
        assert not _cached(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def _files_containing(needle: str, paths) -> list[str]:
    return sorted(
        str(p.relative_to(REPO))
        for p in paths
        if needle in p.read_text(encoding="utf-8")
    )


def test_lifecycle_is_the_only_owner():
    """Checkpoints and thread pools are created only by the lifecycle
    module. __spark_entry__.py's memoized index checkpoints (x35/x42)
    are deliberately unregistered and outside the package path."""
    package = list((REPO / "deepdb_public_spark").rglob("*.py"))
    owner = "deepdb_public_spark/operators/lifecycle.py"
    assert _files_containing("localCheckpoint(", package) == [owner]
    assert _files_containing(
        "ThreadPoolExecutor", package + [REPO / "__spark_entry__.py"]
    ) == [owner]


def test_run_concurrently_registrations_are_not_lost(spark):
    """More workers than cores register into the shared root under a
    tiny switch interval; every registration must reach release()."""
    import sys

    lifecycle.release()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        frames = lifecycle.run_concurrently([
            lambda i=i: lifecycle.persist(spark.range(i + 1)) for i in range(16)
        ])
    finally:
        sys.setswitchinterval(interval)
    assert len(frames) == 16
    assert lifecycle.release() == 16
