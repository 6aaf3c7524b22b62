"""SparkSession factory.

Replaces the reference's hand-rolled session block
(``/root/reference/main.py:7-13``, identically ``analysis.ipynb#cell1``):
AQE on (as the reference had), plus the settings the reference was missing
for a well-behaved engine — Arrow transfer for ``toPandas``/pandas-UDFs,
a pinned UTC session timezone (so timestamp-derived group keys are
deterministic across hosts), shuffle partitions sized to the actual
parallelism instead of the 200 default, and skew-join handling.

At cluster scale the same factory applies unchanged: only ``master`` and
the memory knobs move to ``spark-defaults.conf`` / ``spark-submit``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ROCKSDB_STATE_CONF"]

#: transformWithState requires the RocksDB state store provider; set this
#: on the session (spark.conf.set) before starting such a query. Runtime-
#: settable: it is read at stream-query start, not session build.
ROCKSDB_STATE_CONF = (
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
)

#: Entries in Spark's compiled-code cache (Spark's default is 100).
#: Measured distinct sources per pass (tools/codegen_passes.py): 159 for
#: a small_jobs bench pass, 89 for an imdb_pipeline pass, so both fit
#: with room for the cache's uneven split over its 4 segments. A full
#: registry sweep (bench.py) generates 2516 at sf0.001 and does not fit;
#: sizing for it waits on a peak-RSS measurement (BASELINE.md).
CODEGEN_CACHE_ENTRIES = 256


def get_spark(
    app_name: str = "mknssh11-spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32). On a
        real cluster pass ``yarn``/``k8s://...`` or leave it to
        spark-submit.
    shuffle_partitions:
        Default: max(2 × local cores, 32) in local mode. On a 1000-executor
        cluster this should be ~2-3× total cores (set via ``extra``); AQE
        coalesces small partitions back down at runtime, so erring high is
        safe while erring low causes spill.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(32, 2 * int(cpus))
        except ValueError:
            shuffle_partitions = 64

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime re-planning — broadcast-join conversion, partition
        # coalescing, skew-join splitting (reference enabled plain AQE at
        # main.py:12; we turn on the full set).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at Spark's default
        # (true). Measured in the r8 optimization round: =false
        # (coalesce toward the advisory size, the tuning guide's
        # production suggestion) showed a -10% mix win in ONE load
        # window that did NOT reproduce across windows, while its harm
        # was reproducible — the Python-state streaming arm
        # (stateful_sessionization) lost ~40% in every interleaved A/B
        # (CPU-heavy small-byte stages get coalesced onto too few
        # partitions: advisory sizing assumes cost ∝ bytes). Advisory
        # size itself is env-tunable for cluster profiles.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for toPandas / pandas_udf — vectorized JVM<->Python.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Non-interactive runs don't need the UI; avoids port churn in tests.
        .config("spark.ui.enabled", "false")
        # Don't let tiny files create thousands of tasks at small SF, and
        # keep partitions <= 128MB at large SF (the default); both matter.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Reuse compiled code across passes that run the same plan
        # shapes (sink micro-batches, repeated pipeline calls). Spark
        # keeps compiled classes in a cache keyed by the generated
        # source, 100 entries by default; a small_jobs bench pass
        # generates 159 distinct sources, so each was evicted before its
        # next use and every warm pass recompiled 177 of them (1.0-1.2 s).
        # CODEGEN_CACHE_ENTRIES holds that working set. The cache is a
        # static conf: builder-only.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers codegen stages as it re-plans, differently from
        # pass to pass, and the number was part of the generated class
        # name, so the same stage produced a new source (and a cache
        # miss) on each pass. Without it the source depends on the plan
        # alone; the stage id stays in the source's `codegenStageId`
        # comment. Trade-off: JVM profiler frames read
        # `GeneratedIterator`, not `GeneratedIteratorForCodegenStage<N>`.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if master.startswith("local"):
        # In local mode all "executor" threads share ONE driver JVM heap;
        # the 1g spark.driver.memory default OOMs 32 threads well before
        # per-thread data reaches a realistic executor share (measured:
        # sf1-equivalent bench dies in a hash-agg spill-read). Size the
        # heap like a real executor fleet would be sized. On a cluster
        # this knob is spark-submit's, not ours. Never past half the
        # machine's RAM, though: a heap larger than physical memory lets
        # the storage pool (60% of it) hold cached and checkpointed
        # blocks the machine cannot back, and the kernel OOM-kills the
        # JVM where Spark would have spilled them to disk (measured on a
        # 4-core 15 GB VM: the test JVM killed at 15.5 GB RSS).
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(48, ram_gb // 2))}g"
            ),
        )
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_checkpoints(spark: SparkSession) -> int:
    """Unpersist every persistent RDD in the context and return how
    many were freed.

    ``localCheckpoint(eager=True)`` — used by the dedup/ANN/affinity
    chains to pin reused narrow frames — caches RDD blocks that
    nothing ever frees. A long-lived session executing many
    checkpointing queries (a bench sweep, the correctness drive)
    accumulates hundreds of orphaned blocks; measured effect: 3-5×
    inflated wall times on checkpoint-heavy queries after ~25 query
    executions in one session (GC/memory pressure, not plan cost).
    Call BETWEEN query executions: a finished query's checkpoints are
    dead weight, and fresh invocations rebuild their own. Do NOT call
    while a DataFrame backed by a truncated-lineage checkpoint is
    still live and pending re-execution — the checkpoint is its only
    copy."""
    jrdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for jrdd in jrdds:
        jrdd.unpersist(False)
    return len(jrdds)


def _checkpoint_rdds(df) -> list:
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return [
        leaves.apply(i).rdd()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    ]


def release_checkpoint(df, keep=None) -> None:
    """Free the RDD blocks pinned by every ``localCheckpoint`` under
    ``df``: a bare checkpoint frame, or a frame joined from several.
    Checkpoints that ``keep`` also reads stay pinned: pass the input a
    pipeline was built from when the caller still needs it.

    ``DataFrame.unpersist`` cannot: it drops cache-manager entries, and
    a local checkpoint is a persisted RDD under a ``LogicalRDD`` leaf
    of the logical plan, not a cached query. Each such leaf is freed
    (unpersisting a leaf that was never persisted is a no-op). Only
    the leaves are reachable: a checkpoint that fed another checkpoint
    sits behind the truncated lineage and stays pinned. The frame, and
    every frame built on the freed leaves, is unreadable afterwards."""
    kept = set() if keep is None else {r.id() for r in _checkpoint_rdds(keep)}
    for rdd in _checkpoint_rdds(df):
        if rdd.id() not in kept:
            rdd.unpersist(False)
