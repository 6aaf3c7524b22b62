"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the seed
(cached under ``.benchdata/perfbench/inputs``), builds a Spark session
on ``local[<cpus>]`` and scans the inputs once, runs one untimed warm-up
pass, then times whole passes until both ``--seconds`` of operations
and the workload's minimum pass count have been measured, and last
checks the outputs. With ``--trace 1`` it times four passes instead,
two traced and two untraced. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it records
the environment and every failure by name.
"""

from __future__ import annotations

import time

#: setup_s runs from here (process start) until the session is built
#: and the inputs are scanned, just before the untimed warm-up
T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mknssh_11_bigdata_spark"

DRIVER_MEM = "2g"
#: no measured pass starts later than this after process start, so that
#: a run on a slow host still ends within its 180 s limit
MAX_MEASURE_END_S = 120

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
SPARK_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "task_p50_ms", "task_max_ms", "task_wait_s",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    from workloads import SINK_CLASSES, GraphQueries

    u = {
        "session.build_s": "s",
        "setup.data_gen_s": "s", "setup.warm_scan_s": "s",
        "sources.load_s": "s", "sources.write_s": "s",
        "sources.bytes_written": "bytes", "sources.files_written": "count",
        "features.construct_s": "s", "features.construct_jobs": "count",
        "ml.embed_python_s": "s", "ml.topandas_s": "s", "ml.pca_s": "s",
        "ml.train_s": "s", "ml.score_s": "s", "ml.explain_s": "s",
        "query.construct_s": "s", "query.construct_self_s": "s",
        "query.exec_s": "s", "query.construct_jobs": "count",
        "query.exec_jobs": "count",
    }
    for q in GraphQueries.queries:
        u[f"query.construct_s.{q}"] = "s"
        u[f"query.exec_s.{q}"] = "s"
    u.update({
        "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "layout.checkpoint_calls": "count", "layout.checkpoint_s": "s",
        "layout.broadcast_calls": "count", "layout.broadcast_armed_ratio": "ratio",
        "dedup.components_calls": "count", "dedup.components_s": "s",
        "dedup.label_prop_s": "s",
    })
    for c in SINK_CLASSES:
        u[f"sink.call_s.{c}"] = "s"
    u["sink.replay_drop_s"] = "s"
    u["sink.state_bytes"] = "bytes"
    for m in SPARK_METRICS:
        u[f"spark.{m}"] = ("count" if m in ("jobs", "stages", "tasks") else
                           "bytes" if m.endswith("bytes") else
                           "ms" if m.endswith("ms") else "s")
    u["trace.overhead_s"] = "s"
    return u


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (this
    Python process, the JVM and the Python workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def pin_environment(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the pandas_udf's Python workers import the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    tempfile.tempdir = tmp
    time.tzset()
    return cpus


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".benchdata", "perfbench")
    work = os.path.join(base, "runs", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, WORKLOADS[args.workload](), Ctx, base, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """Stop any live SparkContext, then end the JVM this process
    launched and wait for it (it exits when its stdin closes); its
    Python workers end with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, wl, Ctx, base: str, work: str) -> int:
    cpus = pin_environment(work)
    load_before = loadavg()
    sampler = RssSampler()
    sampler.start()
    traced = bool(args.trace)

    from stats import percentile
    from tracing import Tracer

    tracer = Tracer() if traced else None
    ctx = Ctx(work, os.path.join(base, "inputs"), args.seed, tracer)

    t0 = time.perf_counter()
    wl.prepare(ctx)
    data_gen_s = time.perf_counter() - t0

    # ---- set-up: launch the JVM and build the session, then scan the
    # inputs once; setup_s is the whole span from T_START
    from mknssh_11_bigdata_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}",
                      extra=spark_conf(work, traced))
    build_s = time.perf_counter() - t_setup
    wl.warm_scan(spark)
    t_warm = time.perf_counter()
    setup_s = t_warm - T_START
    warm_scan_s = t_warm - t_setup - build_s
    ctx.spark = spark
    if tracer is not None:
        tracer.spark = spark
        tracer.install()

    # ---- warm-up: one untimed pass absorbs the cold JIT and codegen
    # cost; it is also the reference an imdb_pipeline pass must match
    warmup, _ = one_pass(ctx, tracer, wl, "warmup", -1)
    t_meas = time.perf_counter()

    passes: list[dict] = []  # measured passes (traced ones in a traced run)
    plain: list[dict] = []  # a traced run's untraced passes

    if traced:
        # traced and untraced passes in the order T U U T, so that the
        # passes' JIT warming, about linear over four passes, falls on
        # both kinds alike; trace.overhead_s is the difference of their
        # pass_s
        for kind in "TUUT":
            tracer.active = kind == "T"
            bucket = passes if tracer.active else plain
            rec, ok = one_pass(ctx, tracer, wl, f"{kind.lower()}{len(bucket)}",
                               len(bucket))
            bucket.append(rec)
            if not ok:
                break
        tracer.active = False
    else:
        measured, ok = 0.0, True
        while ok and (len(passes) < wl.min_passes or measured < args.seconds):
            if passes and time.perf_counter() - T_START > MAX_MEASURE_END_S:
                break
            rec, ok = one_pass(ctx, tracer, wl, f"p{len(passes)}", len(passes))
            passes.append(rec)
            measured += rec["s"]
    t_check = time.perf_counter()
    # ---- output checks, untimed, on the last pass's outputs
    guarded(ctx, "check", wl.check, ctx)
    app_id = spark.sparkContext.applicationId
    spark_version = spark.version
    spark.stop()
    sampler.stop()
    phases = {"data_gen": data_gen_s, "session": build_s,
              "warm_scan": warm_scan_s, "warmup": t_meas - t_warm,
              "measure": t_check - t_meas,
              "check": time.perf_counter() - t_check}

    pass_s = fastest_ops(passes)
    lat = [o["latency"] for p in passes for o in p["ops"]
           if o["latency"] is not None] or [pass_s]
    info = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "driver_mem": DRIVER_MEM, "spark_version": spark_version,
        "git_sha": git_sha(),
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        # CPU time the hypervisor gave to other guests while passes ran,
        # summed over all CPUs: the main cause of slow passes on a
        # shared host
        "steal_s": [p["steal_s"] for p in passes],
        "passes": len(passes), "pass_s_all": [p["s"] for p in passes],
        "warmup_s": warmup["s"],
        # reported here, not as metrics: see README.md
        "op_p50_s": percentile(lat, 0.5), "op_p90_s": percentile(lat, 0.9),
        "measured_s": sum(p["s"] for p in passes),
        "phases_s": phases,
        "op_s": op_totals(passes),
        "fail_ratio": len(ctx.failures) / max(1, ctx.attempted),
        "failures": ctx.failures,
    }
    if traced:
        # no untraced pass if the first traced one failed
        untraced_pass_s = fastest_ops(plain) if plain else pass_s
        metrics = per_layer(wl, passes, base_info={
            "session.build_s": build_s,
            "setup.data_gen_s": data_gen_s,
            "setup.warm_scan_s": warm_scan_s,
            "trace.overhead_s": pass_s - untraced_pass_s,
        }, log=os.path.join(work, "eventlog", app_id))
        info["untraced_pass_s_all"] = [p["s"] for p in plain]
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": wl.rows_per_pass / pass_s,
            "peak_rss_mb": sampler.peak / 2**20,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps(info))
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": max(1, ctx.attempted),
        "failed": len(ctx.failures),
        "metrics": metrics,
    }))
    return 0


def guarded(ctx, step: str, fn, *a) -> bool:
    """Run a workload step; an exception (a failed output check
    included) is a failure by name, not the end of the run."""
    try:
        fn(*a)
        return True
    except Exception as exc:
        ctx.fail(f"{step}: {type(exc).__name__}: {exc}"[:300])
        return False


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def one_pass(ctx, tracer, wl, label: str, k: int) -> tuple[dict, bool]:
    """Run pass ``k`` of the workload and record its operations."""
    st0 = steal_ticks()
    ctx.pass_label = label
    ctx.ops, ctx.extra = [], {}
    if tracer is not None:
        tracer.reset()
    ok = guarded(ctx, label, wl.run_pass, ctx, k)
    rec = {
        "label": label,
        "s": sum(o["s"] for o in ctx.ops),
        "ops": ctx.ops,
        "extra": ctx.extra,
        "spans": dict(tracer.spans) if tracer is not None else {},
        "steal_s": (steal_ticks() - st0) / os.sysconf("SC_CLK_TCK"),
    }
    return rec, ok


def fastest_ops(passes) -> float:
    """A pass's time with each operation at the fastest it ran: the sum,
    over the operations of a pass, of each one's minimum over
    ``passes``. On a shared host interference only ever adds time, and
    it comes in bursts shorter than a pass, so each operation's fastest
    run is the reading least disturbed by other guests."""
    best: dict[tuple, float] = {}
    for p in passes:
        seen: dict[tuple, int] = {}
        for o in p["ops"]:
            k = (o["name"], o["kind"])
            seen[k] = seen.get(k, 0) + 1
            key = (*k, seen[k])
            best[key] = min(best.get(key, o["s"]), o["s"])
    return sum(best.values())


def op_totals(passes) -> dict[str, float]:
    """Seconds per (operation name, kind), summed over measured passes."""
    out: dict[str, float] = {}
    for p in passes:
        for o in p["ops"]:
            key = f"{o['name']}.{o['kind']}"
            out[key] = out.get(key, 0.0) + o["s"]
    return out


def per_layer(wl, passes, base_info: dict, log: str) -> dict:
    from stats import median
    from tracing import GROUP_METRICS, covered_ms, fold_event_log

    units = per_layer_units()
    n = len(passes)
    vals: dict[str, float] = dict.fromkeys(units, 0.0)
    vals.update(base_info)
    groups = fold_event_log(log)
    task_ms: list[int] = []
    for p in passes:
        for key, v in p["extra"].items():
            vals[key] += v / n
        for name, span in p["spans"].items():
            if name == "layout.broadcast":
                vals["layout.broadcast_calls"] += span.calls / n
                vals["layout.broadcast_armed_ratio"] += (
                    span.armed / span.calls / n if span.calls else 0.0)
            elif name in ("layout.checkpoint", "dedup.components"):
                vals[f"{name}_calls"] += span.calls / n
                vals[f"{name}_s"] += span.seconds / n
            elif f"{name}_s" in vals:
                vals[f"{name}_s"] += span.seconds / n
            if name == "features.construct":
                vals["features.construct_jobs"] += span.jobs / n
        for i, op in enumerate(p["ops"]):
            g = groups.get(f"{p['label']}:{i}:{op['kind']}")
            if op["kind"] == "construct":
                vals["query.construct_s"] += op["s"] / n
                covered = covered_ms(g["job_spans"]) / 1e3 if g else 0.0
                vals["query.construct_self_s"] += (op["s"] - covered) / n
            elif op["kind"] == "exec":
                vals["query.exec_s"] += op["s"] / n
            if g is None:
                continue
            for m in GROUP_METRICS:
                if m == "python_udf_run_s":
                    vals["ml.embed_python_s"] += g[m] / n
                else:
                    vals[f"spark.{m}"] += g[m] / n
            task_ms.extend(g["task_ms"])
    if task_ms:
        vals["spark.task_p50_ms"] = float(median(task_ms))
        vals["spark.task_max_ms"] = float(max(task_ms))
    return {k: {"value": vals[k], "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())
