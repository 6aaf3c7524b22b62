"""Per-layer tracing from outside the package.

Two sources, neither of which edits the package:

* :class:`Tracer` replaces chosen public functions with timing wrappers
  in every loaded module that holds them (modules bind some helpers at
  import time, e.g. ``operators/dedup.py``'s ``broadcast_if_small``, so
  patching the defining module alone would miss those calls). It also
  wraps the PySpark reader/writer entry points and the classic
  ``DataFrame.toPandas`` (on PySpark 4 the classic subclass overrides
  the base method, so patching ``pyspark.sql.DataFrame`` sees nothing).
* :func:`fold_event_log` folds Spark's own JSON event log per job group
  into job, stage and task counts, executor time, GC, shuffle and spill.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

PACKAGE = "mknssh_11_bigdata_spark"

#: (module, attribute) -> span name
PACKAGE_SPANS = {
    ("pipelines.imdb_features", "generate_dataset"): "features.construct",
    ("pipelines.ml", "pca_reduce"): "ml.pca",
    ("pipelines.ml", "train_model"): "ml.train",
    ("pipelines.ml", "score_model"): "ml.score",
    ("pipelines.ml", "explain_model"): "ml.explain",
    ("plans.layout", "checkpoint_with_count"): "layout.checkpoint",
    ("plans.layout", "broadcast_if_small"): "layout.broadcast",
    ("operators.dedup", "duplicate_components"): "dedup.components",
    ("operators.dedup", "min_label_propagation"): "dedup.label_prop",
}

#: spans whose Spark jobs are counted (two Py4J calls per call)
JOB_COUNTED = {"features.construct"}


class Span:
    __slots__ = ("calls", "seconds", "jobs", "armed")

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self.jobs = 0
        self.armed = 0


class Tracer:
    """Timing wrappers that record only while :attr:`active`."""

    def __init__(self) -> None:
        self.active = False
        self.spark = None  # set once the measured session exists
        self.spans: dict[str, Span] = defaultdict(Span)

    def reset(self) -> None:
        self.spans = defaultdict(Span)

    def _next_job(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            count_jobs = name in JOB_COUNTED and tracer.spark is not None
            j0 = tracer._next_job() if count_jobs else 0
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span = tracer.spans[name]
                span.calls += 1
                span.seconds += time.perf_counter() - t0
                if count_jobs:
                    span.jobs += tracer._next_job() - j0
            if name == "layout.broadcast":
                hint = out._jdf.logicalPlan().nodeName()
                tracer.spans[name].armed += hint == "ResolvedHint"
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every span target wherever it is bound."""
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        for (mod, attr), name in PACKAGE_SPANS.items():
            module = importlib.import_module(f"{PACKAGE}.{mod}")
            original = getattr(module, attr)
            wrapper = self._wrap(original, name)
            for loaded in list(sys.modules.values()):
                if not getattr(loaded, "__name__", "").startswith(PACKAGE):
                    continue
                for key, value in list(vars(loaded).items()):
                    if value is original:
                        setattr(loaded, key, wrapper)
        for owner, attr, name in (
            (DataFrameReader, "parquet", "sources.load"),
            (DataFrameReader, "csv", "sources.load"),
            (DataFrameWriter, "parquet", "sources.write"),
            (DataFrame, "toPandas", "ml.topandas"),
        ):
            setattr(owner, attr, self._wrap(getattr(owner, attr), name))


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded on ``df``'s own query
    execution, after forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# ---------------------------------------------------------------- event log

GROUP_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_wait_s",
    "python_udf_run_s",
)

#: plan-node scopes that mark a stage as running a Python UDF
PYTHON_SCOPES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "PythonUDF")


def _new_group() -> dict:
    g = {k: 0 for k in GROUP_METRICS}
    g["task_ms"] = []
    g["job_spans"] = []
    return g


def fold_event_log(path: str) -> dict[str, dict]:
    """Fold one application's event log per job group.

    Returns ``{group: metrics}`` with the :data:`GROUP_METRICS` counters,
    ``task_ms`` (every task's duration) and ``job_spans`` (each job's
    submit and completion time in epoch ms). Jobs launched outside any
    group fold under ``""``.
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    python_stages: set[int] = set()
    groups: dict[str, dict] = defaultdict(_new_group)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = group
                job_submit[jid] = ev.get("Submission Time", 0)
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    groups[job_group[jid]]["job_spans"].append(
                        (job_submit[jid], ev.get("Completion Time", 0))
                    )
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stage_submit[sid] = info.get("Submission Time", 0)
                scopes = " ".join(
                    r.get("Scope", "") for r in info.get("RDD Info", [])
                )
                if any(s in scopes for s in PYTHON_SCOPES):
                    python_stages.add(sid)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid, "")]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                launch = info.get("Launch Time", 0)
                g["tasks"] += 1
                g["task_ms"].append(info.get("Finish Time", launch) - launch)
                g["task_wait_s"] += (launch - stage_submit.get(sid, launch)) / 1e3
                run_s = m.get("Executor Run Time", 0) / 1e3
                g["executor_run_s"] += run_s
                if sid in python_stages:
                    g["python_udf_run_s"] += run_s
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                wr = m.get("Shuffle Write Metrics", {})
                g["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return dict(groups)


def covered_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
