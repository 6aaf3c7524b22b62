"""Janino compiles per pass, in one process: how much generated code a
warm pass still compiles.

    python tools/codegen_passes.py small_jobs [--seed 1] [--passes 3] [--conf k=v ...]
    python tools/codegen_passes.py registry --sf SF_DIR [--passes 2]

``small_jobs`` and ``imdb_pipeline`` run perfbench's own workload
classes, on the same seeded input cache and a session built the same
way; ``registry`` sweeps every registered query over the tables in
``SF_DIR`` to the ``noop`` sink, as ``bench.py`` does. Pass 0 is the cold
pass. Each pass prints its seconds and its compiles, which counts every
miss of Spark's compiled-code cache (whole-stage and expression code).
The cold pass's compiles are the pass's distinct sources when the cache
never evicts: ``--conf spark.sql.codegen.cache.maxEntries=100000``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("target", choices=("small_jobs", "imdb_pipeline", "registry"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", help="table directory (registry only)")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()
    if args.target == "registry" and not args.sf:
        ap.error("registry needs --sf")
    extra = dict(kv.split("=", 1) for kv in args.conf)

    import run as perfbench
    from workloads import WORKLOADS, Ctx

    from mknssh_11_bigdata_spark.session import get_spark, release_checkpoints

    base = os.path.join(ROOT, ".benchdata", "perfbench")
    work = os.path.join(base, "runs", f"codegen-{os.getpid()}")
    os.makedirs(work)
    try:
        perfbench.pin_environment(work)
        extra = {**perfbench.spark_conf(work, False), **extra}
        if args.target == "registry":
            from mknssh_11_bigdata_spark.queries import QUERIES

            spark = get_spark(app_name="codegen-passes", extra=extra)

            def one_pass(k):
                for _, spec in sorted(QUERIES.items()):
                    spec.spark(spark, args.sf).write.format("noop") \
                        .mode("overwrite").save()
                    release_checkpoints(spark)
        else:
            wl = WORKLOADS[args.target]()
            ctx = Ctx(work, os.path.join(base, "inputs"), args.seed, None)
            wl.prepare(ctx)
            spark = ctx.spark = get_spark(app_name="codegen-passes", extra=extra)
            wl.warm_scan(spark)

            def one_pass(k):
                wl.run_pass(ctx, k - 1)  # perfbench's warm-up pass is -1

        for k in range(args.passes):
            c0, t0 = compiles(spark), time.perf_counter()
            one_pass(k)
            print(f"pass {k}: {time.perf_counter() - t0:7.2f} s  "
                  f"compiles={compiles(spark) - c0}", flush=True)
        if args.target != "registry" and ctx.failures:
            print("failures:", ctx.failures)
            return 1
        return 0
    finally:
        perfbench.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
