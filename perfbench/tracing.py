"""Span tracing for the benchmark, installed from outside the program.

Spans (name, start, end, parent, request) are recorded by wrapping the
layers' public functions at run time; the package source is not
edited. A wrapper must replace the name its caller looks up:
``spn.model`` binds ``evaluate`` at import and ``spn.trainer`` binds
``learn_spn``, ``encode_table`` and ``generate_join_sample``, so those
are patched on the importing module. Spans that can launch Spark jobs
also set the Spark job group to the span's id, which lets the event
log (parsed after the session stops) attribute every job, stage and
task to a span.

Self time is a span's duration minus the time its direct children
cover. Spans are kept in memory until the run ends.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import threading
import time
from collections import defaultdict

# (owner module path, attribute, span name, touches Spark)
_FUNCTIONS = [
    ("deepdb_public_spark.engine", "load_tables", "sources.catalog", True),
    ("deepdb_public_spark.engine", "parse_query", "plans.parser", False),
    ("deepdb_public_spark.spn.trainer", "generate_join_sample", "operators.prep.join_sample", True),
    ("deepdb_public_spark.operators.prep", "fanout_multiplier", "operators.prep.join_sample", True),
    ("deepdb_public_spark.spn.trainer", "encode_table", "operators.prep.encode", True),
    ("deepdb_public_spark.operators.prep", "encode_with_meta", "operators.prep.encode", True),
    ("deepdb_public_spark.spn.incremental", "encode_with_meta", "operators.prep.encode", True),
    ("deepdb_public_spark.spn.trainer", "learn_spn", "spn.learn", False),
    ("deepdb_public_spark.spn.trainer", "train_spn_model", "spn.trainer", True),
    ("deepdb_public_spark.spn.incremental", "remove_delta", "spn.incremental", True),
    ("deepdb_public_spark.spn.incremental", "absorb_delta", "spn.incremental", True),
    ("deepdb_public_spark.spn.incremental", "update_delta", "spn.incremental", True),
    # tree walks: the top-level entry points only; nodes.evaluate
    # recurses through its own module global, which stays unwrapped
    ("deepdb_public_spark.spn.model", "evaluate", "spn.nodes", False),
    ("deepdb_public_spark.spn.model", "evaluate_groupby", "spn.nodes", False),
    ("deepdb_public_spark.spn.nodes", "evaluate_with_variance", "spn.nodes", False),
    ("deepdb_public_spark.spn.nodes", "evaluate_many", "spn.nodes", False),
]
# (class module path, class name, span name, touches Spark); every
# method the class defines is wrapped
_CLASSES = [
    ("deepdb_public_spark.engine", "Engine", "engine", False),
    ("deepdb_public_spark.plans.compiler", "ExactCompiler", "plans.compiler", False),
    ("deepdb_public_spark.spn.ensemble", "SPNEnsemble", "spn.ensemble", False),
    ("deepdb_public_spark.spn.model", "SPNModel", "spn.model", False),
]


class Tracer:
    """Records spans while installed; a no-op context otherwise."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[list] = []  # [name, start, end, parent, request, group]
        self.models: dict[int, set] = defaultdict(set)  # request -> model ids
        self._local = threading.local()
        self._patches: list[tuple] = []
        self.enabled = False

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, spark: bool = False, request: bool = False) -> int | None:
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else None
        up = self.spans[parent] if parent is not None else None
        sid = len(self.spans)
        req = sid if request else (up[4] if up else None)
        group = up[5] if up else None
        if spark:
            group = sid
            self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sid}")
        self.spans.append([name, time.perf_counter(), None, parent, req, group])
        st.append(sid)
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        span = self.spans[sid]
        span[2] = time.perf_counter()
        self._stack().pop()
        if span[5] == sid:  # this span set the job group: restore the outer one
            outer = self.spans[span[3]][5] if span[3] is not None else None
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"pb{outer}" if outer is not None else None
            )

    def span(self, name: str, spark: bool = False, request: bool = False):
        return _Span(self, name, spark, request)

    # -- wrappers -------------------------------------------------------
    def _wrapper(self, fn, name: str, spark: bool, is_model: bool):
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sid = tracer.begin(name, spark)
            if is_model and args:
                req = tracer.spans[sid][4]
                if req is not None:
                    tracer.models[req].add(id(args[0]))
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sid)

        wrapped.__wrapped__ = fn
        return wrapped

    def install(self) -> None:
        import importlib

        for mod_name, attr, name, spark in _FUNCTIONS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrapper(getattr(mod, attr), name, spark, False))
        for mod_name, cls_name, name, spark in _CLASSES:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for attr, fn in list(vars(cls).items()):
                if inspect.isfunction(fn) and not attr.startswith("__"):
                    self._patch(cls, attr, self._wrapper(fn, name, spark, name == "spn.model"))
        self.enabled = True

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()


class _Span:
    __slots__ = ("tracer", "name", "spark", "request", "sid")

    def __init__(self, tracer, name, spark, request):
        self.tracer, self.name, self.spark, self.request = tracer, name, spark, request

    def __enter__(self):
        self.sid = self.tracer.begin(self.name, self.spark, self.request)
        return self

    def __exit__(self, *exc):
        self.tracer.end(self.sid)
        return False


# -- analysis -------------------------------------------------------------
def self_times(spans: list[list]) -> list[float]:
    own = [s[2] - s[1] for s in spans]
    for s in spans:
        if s[3] is not None:
            own[s[3]] -= s[2] - s[1]
    return own


def spark_events(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks, executor run
    time, scheduler delay (task wall minus run, deserialize and result
    serialize time, as the Spark UI defines it) and shuffle bytes
    written, from the event log files under ``log_dir``."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info.get("Number of Tasks") and "Completion Time" in info:
                        groups[stage_group.get(info["Stage ID"], "-")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev["Stage ID"], "-")]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["failed_tasks"] += bool(info.get("Failed"))
                    run = m.get("Executor Run Time", 0)
                    g["executor_run_ms"] += run
                    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    g["scheduler_delay_ms"] += max(
                        0, wall - run - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                    )
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return groups


def subtree_spark(spans: list[list], groups: dict[str, dict]) -> dict[int, dict]:
    """Spark counters per span, summed over the span's whole subtree."""
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for key, stats in groups.items():
        if not key.startswith("pb"):
            continue
        sid = int(key[2:])
        while sid is not None:
            for k, v in stats.items():
                out[sid][k] += v
            sid = spans[sid][3]
    return out
