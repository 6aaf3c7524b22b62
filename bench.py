#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output is TRUNCATION-PROOF (VERDICT r2 #2: the driver keeps only the
tail of stdout, and r2's single huge JSON line lost its head — total
included). Three layers, any one of which is enough to recover the
headline number:

1. the full JSON (metric/value/queries/sf/reps) printed first,
2. the same full JSON written to ``BENCH_LOCAL.json`` next to this file,
3. a compact summary line WITHOUT the 113-entry per-query map printed
   LAST, so it always survives a tail-capture buffer.

Execution is measured with the ``noop`` sink (full plan runs, nothing is
collected to the driver) so numbers reflect engine work, not Arrow
transfer. One untimed full sweep (after the page-cache warm scan)
absorbs per-query first-run cost (JIT, plan caches) before the timed
reps, so medians aren't skewed by cold samples (VERDICT r2 #7). It does
not absorb codegen: a sweep generates ~2.5k distinct sources (2516 at
sf0.001), ten times what the session's code cache holds
(``session.CODEGEN_CACHE_ENTRIES``), so every timed sweep recompiles
nearly all of them (3404 compiles in a warm sweep, 3443 in the cold
one; BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from mknssh_11_bigdata_spark.queries import QUERIES
from mknssh_11_bigdata_spark.session import get_spark


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else float("nan")


def _loadavg() -> float:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return float("nan")


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Per-query medians over interleaved full sweeps: the shared VM's
    # transient load spikes are the dominant error bar (±30% tails on the
    # dedup/embedding queries at every SF — see BASELINE.md), and a median
    # over interleaved passes discards a spike that hits one window without
    # letting it bias any single query's figure.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Scale-table runs (BASELINE.md 50x tables) time a SUBSET of the
    # registry at a big SF dir — sweeping all ~200 queries at 50x data
    # per rep would take hours for no extra signal. A subset run writes
    # its sidecar to BENCH_SUBSET.json so the committed full-registry
    # BENCH_LOCAL.json is never clobbered by a partial sweep.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    only = [n for n in only_env.split(",") if n] if only_env else None
    if only:
        unknown = [n for n in only if n not in QUERIES]
        if unknown:
            print(f"unknown queries in SPARK_GRAFT_BENCH_ONLY: {unknown}")
            return 2
    bench_queries = (
        {n: QUERIES[n] for n in only} if only else dict(QUERIES)
    )
    spark = get_spark(app_name="mknssh11-bench")

    # Warmup: one cheap query end-to-end to absorb JVM/codegen startup,
    # then one full scan of every table so no query's FIRST sample pays
    # the OS page-cache cold read (measured at sf5: cold first sweeps
    # ran 5-20x the warm median — BASELINE.md "sf5-fair spot-check").
    # With reps=3 the median discards one cold sample, but a load spike
    # on a second sample would then flip the median; warm inputs keep
    # all samples comparable.
    QUERIES["distinct_segments"].spark(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    from mknssh_11_bigdata_spark.sources.readers import (
        TESTDATA_TABLES,
        load_table,
    )

    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode(
            "overwrite"
        ).save()

    load_before = _loadavg()
    samples: dict[str, list[float]] = {name: [] for name in bench_queries}
    # Sweep 0 is the untimed warmup (first-run plan cost; not codegen,
    # whose working set here outgrows the code cache — see the module
    # docstring); sweeps 1..reps are recorded. Skippable for quick
    # local iteration.
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    from mknssh_11_bigdata_spark.session import release_checkpoints

    for sweep in range(reps + (1 if warmup else 0)):
        record = not (warmup and sweep == 0)
        for name, spec in sorted(bench_queries.items()):
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            if record:
                samples[name].append(time.perf_counter() - t0)
            # Outside the timed region: free the finished query's
            # localCheckpoint blocks. Left to accumulate, ~600 query
            # executions of checkpointing chains inflate later samples
            # 3-5x (GC pressure, not plan cost).
            release_checkpoints(spark)

    def median(xs: list[float]) -> float:
        xs = sorted(xs)
        n = len(xs)
        mid = xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2
        return round(mid, 3)

    timings = {name: median(vals) for name, vals in samples.items()}
    total = round(sum(timings.values()), 3)
    summary = {
        "metric": "total_registered_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": _sf_from_dir(sf_dir),
        "reps": reps,
        "warmup_sweep": warmup,
        "n_queries": len(timings),
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
    }
    full = dict(summary, queries=timings)
    full_line = json.dumps(full)
    print(full_line)
    try:
        sidecar = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_SUBSET.json" if only else "BENCH_LOCAL.json",
        )
        with open(sidecar, "w") as fh:
            fh.write(full_line + "\n")
    except OSError:
        pass  # sidecar is best-effort; stdout layers still stand
    # Compact per-query layer (VERDICT r8 #2): the full 200+-entry map
    # above does not survive the driver's ~2 KB stdout tail capture, so
    # round-over-round PERF comparison lost its per-query table. Print
    # the 25 slowest medians as ONE short line (~1.2 KB) right before
    # the final summary — both fit the tail together. The headline
    # summary stays the LAST line so the driver's "one JSON line with
    # metric/value" parse is untouched (additions-only).
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:25]
    )
    print(
        json.dumps(
            {
                "metric": "top25_slowest_query_median_seconds",
                "unit": "sec",
                "sf": summary["sf"],
                "queries_top25": slowest,
            }
        )
    )
    # Compact summary LAST: survives tail-capture truncation.
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
