"""The benchmark's workloads.

Each workload is a closed loop: one client, one operation at a time.
A pass is a fixed sequence of operations over inputs generated from the
run's seed; the runner times passes until the run's measuring window is
spent. Every workload checks its outputs (see each class) and records
a failed check as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import gen_imdb
import gen_tables
from oracle import DuckOracle, spark_hash
from tracing import catalyst_phases


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, excluding checksum and marker files."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


def cached_input(ctx, kind: str, scale, make) -> str:
    """Generate an input directory once per (kind, scale, seed); later
    runs with the same seed reuse it. Returns its path."""
    path = os.path.join(ctx.inputs, f"{kind}-{scale}-{ctx.seed}")
    if not os.path.exists(os.path.join(path, ".complete")):
        shutil.rmtree(path, ignore_errors=True)
        make(path)
        open(os.path.join(path, ".complete"), "w").close()
    return path


class Ctx:
    """Per-run state shared by the runner and the workload."""

    def __init__(self, work, inputs, seed, tracer):
        self.work, self.inputs = work, inputs
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_label = "warmup"  # prefixes the job group of each op
        self.ops: list[dict] = []  # this pass's operations
        self.extra: dict[str, float] = {}  # per-pass layer readouts

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def add(self, key: str, value: float) -> None:
        self.extra[key] = self.extra.get(key, 0.0) + value

    @contextmanager
    def group(self, label: str):
        """Tag the Spark jobs launched inside with job group ``label``
        (traced passes only)."""
        if not self.tracing:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(label, label)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def op(self, name: str, kind: str, fn, *args):
        """Run one timed operation; a raised exception is a failed op.
        Returns ``(seconds, result)``; ``result`` is None on failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.group(f"{self.pass_label}:{len(self.ops)}:{kind}"):
                out = fn(*args)
        except Exception as exc:  # an op failing must not end the run
            self.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
            out = None
        dt = time.perf_counter() - t0
        self.ops.append({"name": name, "kind": kind, "s": dt, "latency": dt})
        return dt, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ImdbPipeline:
    """The paper's flow: six IMDb TSVs -> ``generate_dataset`` -> Parquet
    (with the Arrow embedding UDF) -> ``toPandas`` -> PCA -> train ->
    score -> explain, one ``run_pipeline`` call per operation.

    Checks: every measured pass reproduces the warm-up pass's metrics,
    ``n_rows`` and top factors bit for bit; ``n_rows`` equals an
    independent DuckDB count of the titles that pass the reference
    filters; the model beats chance on the planted rating signal.
    """

    name = "imdb_pipeline"
    n_titles = 20_000
    #: pass_s takes each operation's fastest run, so a run needs enough
    #: passes that one of them misses the host's interference bursts
    min_passes = 3

    def prepare(self, ctx) -> None:
        self.data = cached_input(
            ctx, "imdb", self.n_titles,
            lambda p: gen_imdb.write(p, self.n_titles, ctx.seed),
        )
        self.first = None
        self.rows_per_pass = 0
        for t in gen_imdb.HEADERS:
            with open(os.path.join(self.data, f"{t}.tsv"), "rb") as fh:
                self.rows_per_pass += sum(1 for _ in fh) - 1  # header
        self.expected_rows = self._expected_rows(self.data)

    @staticmethod
    def _expected_rows(data: str) -> int:
        import duckdb

        from mknssh_11_bigdata_spark.pipelines import imdb_features as f

        def tsv(t):
            return (f"read_csv('{data}/{t}.tsv', delim='\t', header=true, "
                    "nullstr='\\N', all_varchar=true, quote='')")

        types = ", ".join(f"'{t}'" for t in f.KEPT_TITLE_TYPES)
        con = duckdb.connect()
        try:
            return con.execute(f"""
                SELECT count(*) FROM {tsv('title_basics')} b
                JOIN {tsv('title_ratings')} r USING (tconst)
                WHERE b.startYear IS NOT NULL AND b.runtimeMinutes IS NOT NULL
                  AND b.genres IS NOT NULL AND b.isAdult = '0'
                  AND b.titleType IN ({types})
                  AND CAST(b.startYear AS INT)
                      BETWEEN {f.YEAR_RANGE[0]} AND {f.YEAR_RANGE[1]}
                  AND r.averageRating IS NOT NULL
                  AND CAST(r.numVotes AS INT) >= {f.MIN_VOTES}
            """).fetchone()[0]
        finally:
            con.close()

    def warm_scan(self, spark) -> None:
        from mknssh_11_bigdata_spark.sources.imdb import load_imdb_tables

        for df in load_imdb_tables(spark, self.data).values():
            _noop(df)

    def run_pass(self, ctx, k: int) -> None:
        from mknssh_11_bigdata_spark.pipelines.imdb_main import run_pipeline

        out = os.path.join(ctx.work, "pipeline")
        _, res = ctx.op("run_pipeline", "pipeline", run_pipeline,
                        ctx.spark, self.data, out)
        if res is not None:
            ctx.check(res["n_rows"] == self.expected_rows,
                      f"run_pipeline n_rows {res['n_rows']} "
                      f"!= {self.expected_rows}")
            b, n = dir_usage(out)
            ctx.add("sources.bytes_written", b)
            ctx.add("sources.files_written", n)
            res.pop("dataset_path")
            if k < 0:  # the warm-up pass: the reference result
                self.first = res
            else:
                ctx.check(res == self.first,
                          "run_pipeline result differs across passes")
        shutil.rmtree(out, ignore_errors=True)

    def check(self, ctx) -> None:
        if self.first is not None:
            # the planted signal is learnable: a broken feature join or
            # label shows here
            acc = self.first["metrics"]["accuracy"]
            ctx.check(acc > 0.6, f"run_pipeline accuracy {acc}")


def _table_rows(data: str, table: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(data, f"{table}.parquet")
    return pq.ParquetFile(path).metadata.num_rows


class GraphQueries:
    """Plan-bound registry queries: iterative label propagation over a
    MinHash pair graph, and dedup components over an SRP pair graph.
    Construction (Python-side planning, Catalyst, guard counts,
    checkpoints, iterative rounds) dominates each query.

    One operation constructs one query and executes it to the ``noop``
    sink. Checks: each query's result hash, taken in the warm-up pass,
    must equal its DuckDB oracle on the same files.
    """

    queries = {
        "dedup_canonical_label_propagation": ("documents",),
        "dedup_semantic_leakage_split": ("embeddings",),
    }

    def __init__(self, data: str) -> None:
        self.data = data
        self.rows_per_pass = sum(
            _table_rows(data, t) for ts in self.queries.values() for t in ts
        )
        self.tables = tuple({t for ts in self.queries.values() for t in ts})
        self.hashes: dict[str, str] = {}

    def check(self, ctx) -> None:
        from mknssh_11_bigdata_spark.queries import QUERIES

        oracle = DuckOracle(self.data, gen_tables.TABLES)
        try:
            for name in self.queries:
                spec = QUERIES[name]
                if spec.oracle is not None:
                    want = oracle.hash(spec.oracle)
                    ctx.check(self.hashes.get(name) == want,
                              f"{name}: result differs from its oracle")
        finally:
            oracle.close()

    def run_pass(self, ctx, k: int) -> None:
        from mknssh_11_bigdata_spark.queries import QUERIES
        from mknssh_11_bigdata_spark.session import release_checkpoints

        sched = ctx.spark.sparkContext._jsc.sc().dagScheduler()
        for name in self.queries:
            spec = QUERIES[name]
            j0 = sched.nextJobId() if ctx.tracing else 0
            tc, df = ctx.op(name, "construct", spec.spark, ctx.spark, self.data)
            j1 = sched.nextJobId() if ctx.tracing else 0
            if df is not None:
                te, _ = ctx.op(name, "exec", _noop, df)
                # one query's latency is its construction plus execution
                ctx.ops[-2]["latency"] = None
                ctx.ops[-1]["latency"] = tc + te
                if ctx.tracing:
                    ctx.add("query.construct_jobs", j1 - j0)
                    ctx.add("query.exec_jobs", sched.nextJobId() - j1)
                    ctx.add(f"query.construct_s.{name}", tc)
                    ctx.add(f"query.exec_s.{name}", te)
                    for phase, ms in catalyst_phases(df).items():
                        ctx.add(f"catalyst.{phase}_ms", ms)
                if k < 0:  # the warm-up pass: hash the result, untimed
                    try:
                        self.hashes[name] = spark_hash(df)
                    except Exception as exc:
                        ctx.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
            release_checkpoints(ctx.spark)


SINK_CLASSES = (
    "IdempotentParquetSink", "LatestSnapshotSink", "HllDistinctMonitorSink",
    "KmvDistinctMonitorSink", "QuantileSketchMonitorSink",
)


class StreamSinks:
    """Exactly-once ``foreachBatch`` sinks fed by direct
    ``sink(batch_df, batch_id)`` calls: the events table cut into
    ``batches`` micro-batches by ``event_id % batches``, fed to five
    sinks, then every sink handed its last batch again, a replay it must
    drop.

    One operation is one sink call. Checks on the last measured pass's
    sinks: the idempotent read-back holds exactly the events table's
    rows, the snapshot holds one row per user, and the HLL, KMV and
    quantile estimates equal ``event_hll_distinct``,
    ``event_kmv_distinct`` and ``event_value_quantile_sketch`` on the
    same events.
    """

    batches = 2

    def __init__(self, data: str) -> None:
        self.data = data
        self.n_events = _table_rows(data, "events")
        self.rows_per_pass = len(SINK_CLASSES) * self.n_events
        self.tables = ("events",)

    @staticmethod
    def _sinks(root: str) -> dict:
        from mknssh_11_bigdata_spark.queries_events import QSK_K, QSK_SALT
        from mknssh_11_bigdata_spark.streaming import sinks as s

        return {
            "IdempotentParquetSink": s.IdempotentParquetSink(f"{root}/idem"),
            "LatestSnapshotSink": s.LatestSnapshotSink(
                f"{root}/latest", ["user_id"], ["ts", "event_id"]),
            "HllDistinctMonitorSink": s.HllDistinctMonitorSink(f"{root}/hll"),
            "KmvDistinctMonitorSink": s.KmvDistinctMonitorSink(f"{root}/kmv"),
            "QuantileSketchMonitorSink": s.QuantileSketchMonitorSink(
                f"{root}/qsk", k=QSK_K, salt=QSK_SALT),
        }

    def _feed(self, ctx, root: str) -> dict:
        """Feed every micro-batch to every sink, then the replays."""
        from pyspark.sql import functions as F

        from mknssh_11_bigdata_spark.sources.readers import load_table

        sinks = self._sinks(root)
        events = load_table(ctx.spark, self.data, "events")
        for b in range(self.batches):
            batch = events.filter(F.col("event_id") % self.batches == b)
            for cls, sink in sinks.items():
                dt, _ = ctx.op(cls, "call", sink, batch, b)
                ctx.add(f"sink.call_s.{cls}", dt)
        for cls, sink in sinks.items():
            dt, _ = ctx.op(cls, "replay", sink, batch, self.batches - 1)
            ctx.add("sink.replay_drop_s", dt)
            # a dropped replay reads one marker listing and writes
            # nothing: it counts in pass_s, not in the latency sample
            ctx.ops[-1]["latency"] = None
        return sinks

    def run_pass(self, ctx, k: int) -> None:
        from mknssh_11_bigdata_spark.session import release_checkpoints

        # each pass starts from empty sinks; the last pass's are kept
        # for the checks
        root = os.path.join(ctx.work, "stream")
        shutil.rmtree(root, ignore_errors=True)
        self.sinks = sinks = self._feed(ctx, root)
        state = sum(dir_usage(sinks[c].root)[0] for c in SINK_CLASSES[1:])
        ctx.add("sink.state_bytes", state)
        b, n = dir_usage(root)
        ctx.add("sources.bytes_written", b)
        ctx.add("sources.files_written", n)
        release_checkpoints(ctx.spark)

    def check(self, ctx) -> None:
        from mknssh_11_bigdata_spark.queries import QUERIES

        spark, sinks = ctx.spark, self.sinks
        n_ev = sinks["IdempotentParquetSink"].read(spark).count()
        ctx.check(n_ev == self.n_events,
                  f"idempotent read-back has {n_ev} rows, want {self.n_events}")
        snap = sinks["LatestSnapshotSink"].read(spark)
        ctx.check(snap.count() == snap.select("user_id").distinct().count(),
                  "latest snapshot holds more than one row per user")

        def rows(df, cols):
            return {r["event_type"]: tuple(r[c] for c in cols)
                    for r in df.collect()}

        twins = (
            ("HllDistinctMonitorSink", "event_hll_distinct",
             ("hll_estimate", "n_empty_registers")),
            ("KmvDistinctMonitorSink", "event_kmv_distinct",
             ("kmv_estimate",)),
            ("QuantileSketchMonitorSink", "event_value_quantile_sketch",
             ("n_rows", "n_sample", "p50_est", "p90_est", "p99_est")),
        )
        for cls, query, cols in twins:
            got = rows(sinks[cls].estimates(spark), cols)
            want = rows(QUERIES[query].spark(spark, self.data), cols)
            ctx.check(got == want, f"{cls} estimates differ from {query}")


class SmallJobs:
    """Many small Spark jobs launched one at a time: the plan-bound
    graph queries (:class:`GraphQueries`) followed by the exactly-once
    sink calls (:class:`StreamSinks`), over one seeded table set. It is
    the mirror image of ``imdb_pipeline``: per-job overhead, Catalyst
    and Python-side work dominate, not data volume.
    """

    name = "small_jobs"
    sf = 0.01
    #: see ImdbPipeline.min_passes
    min_passes = 2

    def prepare(self, ctx) -> None:
        data = cached_input(
            ctx, "tables", self.sf,
            lambda p: gen_tables.write(p, self.sf, ctx.seed),
        )
        self.data = data
        self.parts = (GraphQueries(data), StreamSinks(data))
        self.rows_per_pass = sum(p.rows_per_pass for p in self.parts)

    def warm_scan(self, spark) -> None:
        from mknssh_11_bigdata_spark.sources.readers import load_table

        for t in sorted({t for p in self.parts for t in p.tables}):
            _noop(load_table(spark, self.data, t))

    def run_pass(self, ctx, k: int) -> None:
        for p in self.parts:
            p.run_pass(ctx, k)

    def check(self, ctx) -> None:
        for p in self.parts:
            p.check(ctx)


WORKLOADS = {w.name: w for w in (ImdbPipeline, SmallJobs)}
