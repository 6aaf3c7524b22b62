"""Streaming corpus ingest with incremental dedup — the daily-crawl
loop as a Structured Streaming job.

The batch operator (:func:`operators.dedup.incremental_dedup_status`,
certified by the ``dedup_incremental`` oracle query) answers "which of
THIS increment's docs are exact/near duplicates of the corpus so far".
This module wires it into ``foreachBatch``: each micro-batch of crawled
documents is deduped against the ACCUMULATED corpus (seed + every
earlier batch's survivors), survivors are appended, and a status ledger
records every routing decision — so the corpus parquet only ever
contains the deduped stream prefix, exactly what a crawl pipeline
feeds to training.

Every sink here is a :class:`_SliceIngestSink`: one slice-ledger
skeleton (replay drop, status and corpus slices, index slices, commit
marker, compaction cadence, checkpoint release) under the module-wide
commit-marker contract (:class:`sinks._CommitMarkerLedger`) — a
replayed batch id is dropped before any work, a crashed batch
overwrites its own partial output. A sink supplies only its columns,
its routing decision (``_status``) and the probe indexes it maintains
(``_write_index_slices``, ``_TABLES``) — the probe/scan split of
incremental top-k maintenance (EDBT 2020): per batch, the increment
probes indexes kept per slice, never a corpus pass.
Within-batch duplicates are NOT collapsed (the operator's documented
semantics — the increment probes the corpus, it does not self-join);
run the batch MinHash chain over an increment first if crawl batches
self-duplicate.

:class:`IncrementalDedupCorpusSink` recomputes the corpus-side
fingerprint and band indexes per batch (simple, correct, re-reads the
corpus); :class:`IndexedIncrementalDedupCorpusSink` MAINTAINS them as
persisted tables appended per batch — the 100 TB shape, where the
per-day cost is the increment plus index probes, never a corpus pass.
Both route every document identically (e2e batch-equivalence tested).
:class:`IncrementalEmbeddingDedupSink` is the SRP twin; the Bloom and
split variants of both families share :class:`_BloomPrefilter` and
:class:`_SplitLedger`."""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.text import fingerprint
from ..operators.dedup import (
    corpus_dedup_indexes,
    embedding_band_index,
    hyperplane_signatures,
    incremental_dedup_status,
    incremental_dedup_status_indexed,
    incremental_embedding_dedup_status,
    leakage_safe_assignments,
    melt_band_keys,
    minhash_signatures,
    semantic_leakage_safe_assignments,
)
from ..operators.sketches import (
    BLOOM_WORDS_SCHEMA,
    bloom_dense_frame,
    bloom_probe,
    bloom_word_frame,
)
from ..session import release_checkpoint
from .sinks import _CommitMarkerLedger


class _SliceIngestSink(_CommitMarkerLedger):
    """``foreachBatch`` skeleton for a deduped slice ledger.

    Layout under ``root``::

        corpus/batch_id=<n>/   survivors of batch n (seed = batch_id=-1)
        status/batch_id=<n>/   (id, status, dup_of) per increment row
        <index>/batch_id=<n>/  each probe table in ``_TABLES``, slice n
        _committed/<n>         commit marker (data first, marker after)

    Per batch, once for every sink: the geometry guard (when
    ``_geometry_fields()`` is non-empty) BEFORE the replay check; the
    replay drop; the increment and the routing decision pinned (each
    feeds two consumers); the status slice; the survivor corpus slice,
    whose index slices are built from the Parquet slice just written;
    the ``_post_route`` hook; the marker after all data, so a
    half-written batch stays invisible; then every pin of the batch is
    freed — a streaming query never calls ``release_checkpoints``, so a
    long stream would otherwise keep them all.

    ``compact_every=K`` (on the sinks that accept it) arms the cadence
    policy: after each commit, if K or more batch slices have
    accumulated past the newest compaction epoch, :meth:`compact` folds
    them — so a long-running stream keeps a BOUNDED per-table slice
    count (≤ K live slices + 1 consolidated) instead of growing one
    slice per crawl day forever. ``None`` leaves compaction to the
    operator."""

    #: slice tables compact() folds and cleans; status (and split)
    #: slices stay per batch — they are read by committed batch id, and
    #: markers survive compaction
    _TABLES: tuple[str, ...] = ("corpus",)
    compact_every: int | None = None

    def __init__(self, root: str, id_col: str, value_col: str):
        super().__init__(root)
        self.id_col = id_col
        self._cols = (id_col, value_col)
        #: slice dir -> schema of the frame this instance wrote there,
        #: every column nullable, as a Parquet read gives it back
        self._schemas: dict = {}

    def _write_slice(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)
        self._schemas[path] = StructType(
            [StructField(f.name, f.dataType) for f in df.schema]
        )

    def _read_slices(self, spark: SparkSession, paths, **options) -> DataFrame:
        """``paths`` read with the schema this instance wrote to every
        one of them, so no job infers it from a footer. A path written
        by another instance, or slices written with differing schemas,
        leave the schema to inference."""
        schema = self._schemas.get(paths[0])
        reader = spark.read.options(**options)
        if schema is not None and all(
            self._schemas.get(p) == schema for p in paths
        ):
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def _arm_compaction(self, compact_every: int | None) -> None:
        if compact_every is not None and compact_every < 1:
            raise ValueError("compact_every must be >= 1 (or None)")
        self.compact_every = compact_every

    def seed(self, corpus: DataFrame) -> None:
        """Write the pre-existing corpus and its index slices as the
        ``batch_id=-1`` slices. Call once before starting the stream
        (idempotent: overwrite)."""
        self._check_geometry()
        self._write_slices(corpus, -1)

    def _write_slices(self, docs: DataFrame, batch_id: int) -> None:
        path = f"{self.root}/corpus/batch_id={batch_id}"
        self._write_slice(docs, path)
        # the index slices read the corpus slice back: nothing is pinned
        # for the two writes, and the schema is known (no footer job)
        self._write_index_slices(
            docs.sparkSession.read.schema(docs.schema).parquet(path),
            batch_id,
        )

    def _write_index_slices(
        self, docs: DataFrame, batch_id: int
    ) -> dict[str, DataFrame]:
        """Write slice ``batch_id`` of every probe table ``docs`` feeds
        and return each table's frame as written. None here."""
        return {}

    def _status(self, spark: SparkSession, inc: DataFrame) -> DataFrame:
        """The per-batch routing decision ``(id, status, dup_of)``."""
        raise NotImplementedError

    def _post_route(
        self,
        spark: SparkSession,
        inc: DataFrame,
        status: DataFrame,
        batch_id: int,
    ) -> DataFrame | None:
        """Per-batch extension point, called after the corpus/index
        slices land and before the commit marker: any extra per-batch
        state lands here, under the same crash-safety ordering. Returns
        the frame it wrote, whose pins are freed after the marker, or
        None. No-op here."""
        return None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._check_geometry()
        if batch_id in self.committed_batches():
            return  # replay of a committed batch — exactly-once drop
        spark = batch_df.sparkSession
        # The file-source batch frame can't be reused across the two
        # consumers below (routing + survivors) without re-listing;
        # pin it once. Increment batches are crawl-day-sized.
        inc = batch_df.select(*self._cols).localCheckpoint(eager=True)
        pins = [inc]
        try:
            routing = self._status(spark, inc)
            pins.append(routing)
            status = routing.localCheckpoint(eager=True)  # ledger AND filter
            pins.append(status)
            self._write_slice(status, f"{self.root}/status/batch_id={batch_id}")
            self._write_slices(
                inc.join(
                    status.filter("status = 'new'").select(self.id_col),
                    self.id_col,
                ),
                batch_id,
            )
            pins.append(self._post_route(spark, inc, status, batch_id))
            self._mark_committed(batch_id)
        finally:
            # every pin is ours: `inc` cut the caller's lineage, so no
            # leaf of batch_df sits under these frames
            for df in pins:
                if df is not None:
                    release_checkpoint(df)
        if self.compact_every is not None:
            epoch = self._compact_epoch()
            live = [
                b
                for b in self.committed_batches()
                if epoch is None or b > epoch
            ]
            if len(live) >= self.compact_every:
                self.compact(spark)

    def _slices(self, name: str) -> list[str]:
        """Committed data paths for ``name`` — the shared compaction-
        aware read rule (``_CommitMarkerLedger._compacted_slice_paths``)
        — raising when there are none (Spark's empty-path error inside
        foreachBatch is opaque otherwise)."""
        present = self._compacted_slice_paths(name)
        if not present:
            raise RuntimeError(
                f"{type(self).__name__} has no {name} slices under "
                f"{self.root}/{name}: call seed() with the pre-existing "
                "corpus before starting the stream."
            )
        return present

    def _index(self, spark: SparkSession, name: str) -> DataFrame:
        # leaf dirs read WITHOUT basePath: no partition-column
        # inference, so batch_id= and compacted_v= dirs mix freely
        return self._read_slices(spark, self._slices(name))

    def corpus(self, spark: SparkSession) -> DataFrame:
        """The accumulated deduped corpus: seed + committed survivors,
        compaction-aware."""
        return self._index(spark, "corpus")

    def statuses(self, spark: SparkSession) -> DataFrame:
        """Every committed batch's routing ledger, with its
        ``batch_id``."""
        base = f"{self.root}/status"
        paths = [
            f"{base}/batch_id={b}" for b in sorted(self.committed_batches())
        ]
        if not paths:
            raise RuntimeError(
                f"{type(self).__name__} has no committed batches under "
                f"{base} yet — statuses() is only meaningful after at "
                "least one micro-batch commits."
            )
        return self._read_slices(spark, paths, basePath=base)

    def compact(self, spark: SparkSession) -> int:
        """Fold the seed + every committed slice of each ``_TABLES``
        table into ONE consolidated ``compacted_v=<epoch>`` slice, then
        drop the folded slice directories — bounding the per-batch read
        fan-in. One slice per table lands per crawl day; at 100 TB the
        probe join's file-listing/footer cost grows with that count,
        and periodic compaction is how every log-structured store
        bounds it (the read path is exactly an LSM level-0 merge).
        Returns the compaction epoch (the max committed batch id).

        Crash-safe by the module's marker discipline (the shared
        ``_finish_compaction`` tail): consolidated data is written
        FIRST, the epoch marker second, folded slices are deleted
        LAST — a crash before the marker leaves readers on the old
        slices (the half-written consolidation is invisible); a crash
        after the marker leaves stale slice dirs readers already
        ignore (``_slices`` reads only slices ABOVE the epoch) and the
        next ``compact()`` removes. The fold reads straight into its
        new directory: no source slice is written before the marker,
        so nothing needs pinning. Status and split slices are
        untouched, and batch COMMIT markers are kept, so the
        exactly-once replay drop still recognizes folded batch ids."""
        committed = self.committed_batches()
        if not committed:
            raise RuntimeError("nothing to compact: no committed batches yet")
        epoch = max(committed)
        prev_epoch = self._compact_epoch()
        if prev_epoch == epoch:
            # No batch committed since the last compaction: the only
            # slices are the consolidated compacted_v=<epoch> dirs
            # themselves. Re-compacting would mode('overwrite') the
            # directory it reads — a write failure in that window would
            # destroy the corpus while the marker still points at it.
            # Nothing to fold: no-op.
            return epoch
        for name in self._TABLES:
            self._write_slice(
                self._index(spark, name),
                f"{self.root}/{name}/compacted_v={epoch}",
            )
        self._finish_compaction(epoch, prev_epoch, self._TABLES)
        self._schemas = {
            p: v for p, v in self._schemas.items() if pathlib.Path(p).exists()
        }
        return epoch


class IncrementalDedupCorpusSink(_SliceIngestSink):
    """``foreachBatch`` callable maintaining a deduped text corpus,
    recomputing the corpus-side fingerprint and band indexes per batch
    (:func:`operators.dedup.incremental_dedup_status`). Layout: the
    base's ``corpus/``, ``status/`` and ``_committed/``."""

    def __init__(
        self,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        **dedup_kwargs,
    ):
        super().__init__(root, id_col, text_col)
        self.text_col = text_col
        self.dedup_kwargs = dedup_kwargs

    def _status(self, spark: SparkSession, inc: DataFrame) -> DataFrame:
        """The per-batch routing decision (id, status, dup_of) — the
        seam the indexed and Bloom sinks narrow. They MUST return the
        decisions :func:`incremental_dedup_status` returns (the
        certified semantics); only the probe COST may change."""
        return incremental_dedup_status(
            self.corpus(spark).select(*self._cols),
            inc,
            *self._cols,
            **self.dedup_kwargs,
        )


class IndexedIncrementalDedupCorpusSink(IncrementalDedupCorpusSink):
    """The sink above with PERSISTED probe-index maintenance — the
    100 TB shape the module docstring sketches: instead of
    re-fingerprinting and re-signing the ACCUMULATED corpus on every
    micro-batch (a per-day full-corpus pass), the corpus-side exact
    fingerprint index and LSH band index are materialized once per
    slice (seed, then each batch's survivors) and appended alongside
    the corpus, versioned by the same ``batch_id=`` layout and gated by
    the same commit markers — a half-written index slice from a crashed
    batch is invisible until its marker lands, and a replayed batch
    overwrites its own slices before re-marking.

    Per batch the dedup probe becomes
    :func:`operators.dedup.incremental_dedup_status_indexed`: exact
    gate joins the fp index, near probe equi-joins the band index on
    the increment's own band keys (at scale: a partition-pruned read
    of the key-partitioned index table), and verification shingles
    only candidate-touched texts. Routing decisions are IDENTICAL to
    the recomputing base class (e2e-asserted in the tests), so the
    certified ``dedup_incremental`` oracle covers this path's
    semantics too.

    Layout adds, under ``root``::

        fp_index/batch_id=<n>     (fp, doc_id) of slice n
        band_index/batch_id=<n>   (doc_id, band_idx, band_key) of slice n

    ``compact_every=K`` arms the base's compaction cadence.
    """

    _TABLES = ("corpus", "fp_index", "band_index")

    def __init__(
        self,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        compact_every: int | None = None,
        **dedup_kwargs,
    ):
        super().__init__(root, id_col, text_col, **dedup_kwargs)
        self._arm_compaction(compact_every)

    def _geometry_fields(self) -> dict:
        """The MinHash geometry the fp/band slices are a pure function
        of, validated against the root's ``_geometry.json`` on every
        seed/batch. The one place its defaults live: the index writer
        and the Bloom probe read it from here."""
        return {
            "num_hashes": self.dedup_kwargs.get("num_hashes", 12),
            "bands": self.dedup_kwargs.get("bands", 4),
            "shingle_n": self.dedup_kwargs.get("shingle_n", 3),
        }

    def _write_index_slices(
        self, docs: DataFrame, batch_id: int
    ) -> dict[str, DataFrame]:
        g = self._geometry_fields()
        fp, band = corpus_dedup_indexes(
            docs.select(*self._cols),
            *self._cols,
            g["num_hashes"],
            g["bands"],
            g["shingle_n"],
        )
        written = {"fp_index": fp, "band_index": band}
        for name, df in written.items():
            self._write_slice(df, f"{self.root}/{name}/batch_id={batch_id}")
        return written

    def _status(self, spark: SparkSession, inc: DataFrame) -> DataFrame:
        return incremental_dedup_status_indexed(
            self.corpus(spark).select(*self._cols),
            self._index(spark, "fp_index"),
            self._index(spark, "band_index"),
            inc,
            *self._cols,
            **self.dedup_kwargs,
        )


class _BloomPrefilter:
    """A BLOOM PRE-FILTER in front of a dedup sink's index probe, mixed
    in before the sink class. Each batch row first probes persisted
    bitmaps of the corpus-side keys; a row whose every probed key
    misses provably has no candidate in the corpus, so it routes
    ``new`` without the index joins, and only the suspect sliver runs
    the parent's probe. One-sided error keeps this exact: false
    positives only send extra rows to the joins that then decide
    correctly, never the reverse. A NULL flag (NULL text or vector)
    routes to the suspect arm, so the parent decides it rather than
    the row vanishing from both arms.

    Bitmap slices persist per batch as mergeable ``(__word, __bits)``
    tables built from the index slice they summarize, ride the same
    commit markers and compaction (``_TABLES``), and fold with one
    ``bit_or`` at read — total size is m_bits/8 bytes regardless of
    corpus row count. ``bloom_m_bits`` is FIXED geometry (words must
    align across slices). A saturated bitmap degrades safely to the
    parent's behavior, paying only the bitmap scan.

    A sink supplies ``_suspect_flags(spark, inc)``: one
    ``(id, __suspect)`` row per increment row."""

    def _arm_bloom(self, bloom_m_bits: int, bloom_k: int) -> None:
        if bloom_m_bits < 64 or bloom_k < 1:
            raise ValueError("bloom geometry: m_bits >= 64, k >= 1")
        self.bloom_m_bits = bloom_m_bits
        self.bloom_k = bloom_k
        #: (n_cleared, n_suspect) prefilter telemetry of the last batch
        self.last_prefilter_stats: tuple[int, int] | None = None

    def _geometry_fields(self) -> dict:
        return {
            **super()._geometry_fields(),
            "bloom_m_bits": self.bloom_m_bits,
            "bloom_k": self.bloom_k,
        }

    def _write_bloom_slice(
        self, name: str, index: DataFrame, table: str, item, batch_id: int
    ) -> None:
        """Bitmap slice ``name`` of ``item`` over slice ``batch_id`` of
        ``table``, just written from ``index``: read back with that
        frame's schema, so no job infers it from the footers."""
        words = bloom_word_frame(
            index.sparkSession.read.schema(index.schema)
            .parquet(f"{self.root}/{table}/batch_id={batch_id}")
            .select(item.alias("item")),
            "item",
            self.bloom_m_bits,
            self.bloom_k,
        )
        self._write_slice(words, f"{self.root}/{name}/batch_id={batch_id}")

    def _bloom_probe(
        self, df: DataFrame, col: str, name: str, index: str, out: str
    ) -> DataFrame:
        """``df`` with ``out`` = might-contain of ``col`` in bitmap
        ``name``, folded into the one-row DENSE-ARRAY form (positional
        ``array<long>`` probe, not a linearly-scanned map).

        Coverage check: the bitmap slices must cover exactly the slices
        of the ``index`` table they summarize — a root seeded or
        partially written by the non-Bloom parent class would silently
        UNDER-filter (rows duplicating the uncovered slices would clear
        as 'new'), so a mixed/legacy root fails loudly instead."""
        have, want = (
            {p.rsplit("/", 1)[-1] for p in self._compacted_slice_paths(t)}
            for t in (name, index)
        )
        if not have or have != want:
            raise RuntimeError(
                f"{type(self).__name__}: bloom slice dirs under "
                f"{self.root}/{name} ({sorted(have)}) do not match the "
                f"{index} slices ({sorted(want)}) — the root was seeded "
                "or written without the Bloom subclass; probing this "
                "partial bitmap would silently clear rows that "
                "duplicate the uncovered slices. Re-seed with this sink "
                "class (or compact with it) before streaming."
            )
        words = df.sparkSession.read.schema(BLOOM_WORDS_SCHEMA).parquet(
            *self._slices(name)
        )
        return bloom_probe(
            df,
            col,
            bloom_dense_frame(words, self.bloom_m_bits),
            self.bloom_m_bits,
            self.bloom_k,
            out,
        )

    def _status(self, spark: SparkSession, inc: DataFrame) -> DataFrame:
        flags = (
            self._suspect_flags(spark, inc)
            .select(
                self.id_col,
                F.coalesce("__suspect", F.lit(True)).alias("__suspect"),
            )
            .localCheckpoint(eager=True)  # feeds both arms + telemetry
        )
        # telemetry: ONE agg over the checkpointed flags (total +
        # suspect count in the same cached-block scan)
        trow = flags.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("__suspect").cast("long")).alias("__ns"),
        ).collect()[0]
        n_suspect = int(trow["__ns"] or 0)
        self.last_prefilter_stats = (int(trow["__n"]) - n_suspect, n_suspect)
        suspects = inc.join(
            flags.filter("__suspect").select(self.id_col), self.id_col
        )
        cleared = flags.filter(~F.col("__suspect")).select(
            F.col(self.id_col),
            F.lit("new").alias("status"),
            F.lit(None)
            .cast(dict(inc.dtypes)[self.id_col])
            .alias("dup_of"),
        )
        return (
            super()
            ._status(spark, suspects)
            .unionByName(cleared)
            .orderBy(self.id_col)
        )


class BloomPrefilteredIncrementalDedupSink(
    _BloomPrefilter, IndexedIncrementalDedupCorpusSink
):
    """The indexed sink with a Bloom pre-filter (:class:`_BloomPrefilter`)
    in front of both probe joins — the 100 TB shape of "most of today's
    crawl is new": each batch row probes two persisted bitmaps (corpus
    fingerprints, ``bloom_fp/``; corpus band keys, ``bloom_band/``). A
    row whose fingerprint misses AND whose every band key misses has no
    exact match and no LSH candidate, so it skips both index joins
    (equality with the unfiltered sink is e2e-asserted in tests). Size
    ``bloom_m_bits`` from the corpus forecast (~16 bits per expected
    item).

    The batch-side signature computation is NOT saved (the band probe
    needs the increment's own band keys either way); the savings is
    the corpus-side index join — file listing, pruned reads, shuffle —
    which is the term that grows with corpus size."""

    _TABLES = (
        "corpus",
        "fp_index",
        "band_index",
        "bloom_fp",
        "bloom_band",
    )

    def __init__(
        self,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        compact_every: int | None = None,
        bloom_m_bits: int = 1 << 18,
        bloom_k: int = 2,
        **dedup_kwargs,
    ):
        super().__init__(
            root, id_col, text_col, compact_every, **dedup_kwargs
        )
        self._arm_bloom(bloom_m_bits, bloom_k)

    def _write_index_slices(
        self, docs: DataFrame, batch_id: int
    ) -> dict[str, DataFrame]:
        written = super()._write_index_slices(docs, batch_id)
        for name, table, item in (
            ("bloom_fp", "fp_index", "fp"),
            ("bloom_band", "band_index", "band_key"),
        ):
            self._write_bloom_slice(
                name, written[table], table, F.col(item), batch_id
            )
        return written

    def _suspect_flags(self, spark: SparkSession, inc: DataFrame) -> DataFrame:
        g = self._geometry_fields()
        fp_probe = self._bloom_probe(
            inc.select(
                self.id_col,
                fingerprint(F.col(self.text_col)).alias("__fp"),
            ),
            "__fp",
            "bloom_fp",
            "fp_index",
            "fp_hit",
        )
        melt_i = melt_band_keys(
            minhash_signatures(
                inc, *self._cols, g["num_hashes"], g["shingle_n"]
            ),
            self.id_col,
            g["bands"],
            g["num_hashes"] // g["bands"],
        )
        band_probe = (
            self._bloom_probe(
                melt_i, "band_key", "bloom_band", "band_index", "band_hit"
            )
            .groupBy(self.id_col)
            .agg(F.max("band_hit").alias("band_hit"))
        )
        # NULL text => NULL fingerprint => NULL flag: the mixin routes
        # it to the suspect arm
        return (
            fp_probe.select(self.id_col, "fp_hit")
            .join(band_probe, self.id_col, "left")
            .select(
                self.id_col,
                (
                    F.col("fp_hit")
                    | F.coalesce(F.col("band_hit"), F.lit(False))
                ).alias("__suspect"),
            )
        )


class _SplitLedger:
    """Leakage-safe train/val/test assignment AT INGEST, mixed in before
    a dedup sink class.

    Assignment rule per routed row:

    * a dup route → INHERIT the split already assigned to ``dup_of``
      (always an assigned corpus row — disjoint id spaces guarantee
      it), carrying its group id. A row and its verified duplicate can
      therefore never straddle a split boundary. An orphaned dup route
      (``dup_of`` with no committed assignment) fails the batch loudly:
      a silently missing split row is the worst outcome for an
      immutable-assignment ledger.
    * ``new`` survivors → component-routed assignment WITHIN the batch
      (``_slice_assignments``): two new rows that duplicate each other
      but nothing in the corpus found ONE group and share a side
      (per-row hashing here would be the straddle bug in miniature).

    Assignments are IMMUTABLE once committed — split STABILITY is the
    contract a crawl pipeline needs (a doc that moves from train to
    test after a later component merge IS the leak, retroactively).
    The corollary is honest: if a later bridge row connects two
    existing groups that landed on opposite sides, the bridge inherits
    its ``dup_of``'s side and its OTHER cross-group pairs straddle;
    the right production response is detect-and-quarantine (the
    straddle audit in the tests), never rewriting history. A
    from-scratch batch recompute after such a merge may legitimately
    differ — the e2e tests assert equality exactly when no cross-batch
    merge occurred, and stability always.

    Layout adds ``splits/batch_id=<n>`` slices of
    ``(id, group_id, split)`` (seed = batch_id=-1), gated by the same
    commit markers as the corpus slices; compaction does not touch
    them. A sink supplies ``_slice_assignments(docs)``."""

    def seed(self, corpus: DataFrame) -> None:
        super().seed(corpus)
        self._write_slice(
            self._slice_assignments(corpus), f"{self.root}/splits/batch_id=-1"
        )

    def assignments(self, spark: SparkSession) -> DataFrame:
        """Every committed (id, group_id, split) assignment — seed plus
        committed batches."""
        base = f"{self.root}/splits"
        paths = [f"{base}/batch_id=-1"] + [
            f"{base}/batch_id={b}"
            for b in sorted(self.committed_batches())
        ]
        present = [p for p in paths if pathlib.Path(p).exists()]
        if not present:
            raise RuntimeError(
                f"{type(self).__name__} has no split slices under "
                f"{base}: call seed() before starting the stream."
            )
        return self._read_slices(spark, present)

    def _post_route(
        self,
        spark: SparkSession,
        inc: DataFrame,
        status: DataFrame,
        batch_id: int,
    ) -> DataFrame:
        prev = self.assignments(spark).select(
            F.col(self.id_col).alias("dup_of"),
            "group_id",
            "split",
        )
        # LEFT join + loud failure: an inner join would silently drop
        # the split row of a dup whose target has no assignment
        inherited = (
            status.filter(F.col("status") != "new")
            .select(self.id_col, "dup_of")
            .join(prev, "dup_of", "left")
            .localCheckpoint(eager=True)  # count + write read one scan
        )
        n_orphans = inherited.filter(F.col("split").isNull()).count()
        if n_orphans:
            raise RuntimeError(
                f"{type(self).__name__} batch {batch_id}: {n_orphans} "
                "dup-routed row(s) point at a dup_of with no committed "
                "split assignment — the disjoint-id ingest contract is "
                "violated or a split slice is missing; refusing to "
                "write a silent gap."
            )
        fresh = self._slice_assignments(
            inc.join(
                status.filter(F.col("status") == "new").select(self.id_col),
                self.id_col,
            )
        )
        out = inherited.select(self.id_col, "group_id", "split").unionByName(
            fresh
        )
        self._write_slice(out, f"{self.root}/splits/batch_id={batch_id}")
        return out


class LeakageSafeSplitDedupSink(
    _SplitLedger, IndexedIncrementalDedupCorpusSink
):
    """The indexed daily-crawl sink PLUS leakage-safe train/val/test
    assignment AT INGEST (:class:`_SplitLedger`) — the incremental form
    of the batch ``dedup_leakage_safe_split`` query: ``exact_dup`` /
    ``near_dup`` docs inherit their ``dup_of``'s split, ``new``
    survivors are component-routed within the batch by
    :func:`operators.dedup.leakage_safe_assignments`."""

    def _slice_assignments(self, docs: DataFrame) -> DataFrame:
        return leakage_safe_assignments(
            docs.select(*self._cols), *self._cols, **self.dedup_kwargs
        )


class IncrementalEmbeddingDedupSink(_SliceIngestSink):
    """The EMBEDDING ingest loop — daily re-embedded crawl batches
    deduped against the accumulated vector corpus, the SRP twin of
    :class:`IndexedIncrementalDedupCorpusSink`: each micro-batch of
    ``(id, vector)`` rows probes the MAINTAINED corpus band index
    (:func:`operators.dedup.embedding_band_index` slices appended per
    committed batch), exact cosine verifies candidates only, 'new'
    survivors append to the corpus and the index, and a status ledger
    records every decision — commit-marker exactly-once throughout.

    Geometry is pinned at construction (``n_bits``/``bands``): a
    persisted index cannot n-scale per read. Production re-indexes
    when the corpus count crosses an ``srp_rows_per_band`` ladder step
    — one rebuild per ~256× corpus growth at the default target load.

    Layout adds ``band_index/batch_id=<n>`` — ``(id, band_idx,
    band_key)`` of slice n — to the base's; ``compact_every=K`` arms
    the base's compaction cadence.
    """

    _TABLES = ("corpus", "band_index")

    def __init__(
        self,
        root: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        threshold: float = 0.9,
        n_bits: int = 32,
        bands: int = 4,
        max_bucket_size: int | None = None,
        compact_every: int | None = None,
    ):
        super().__init__(root, id_col, vec_col)
        self._arm_compaction(compact_every)
        self.vec_col = vec_col
        self.dim = dim
        self.threshold = threshold
        self.n_bits = n_bits
        self.bands = bands
        self.max_bucket_size = max_bucket_size

    def _geometry_fields(self) -> dict:
        """The SRP geometry the persisted band index is a pure function
        of (threshold only shapes decisions, not the layout)."""
        return {
            "dim": self.dim,
            "n_bits": self.n_bits,
            "bands": self.bands,
        }

    def _write_index_slices(
        self, docs: DataFrame, batch_id: int
    ) -> dict[str, DataFrame]:
        band = embedding_band_index(
            docs.select(*self._cols),
            *self._cols,
            dim=self.dim,
            n_bits=self.n_bits,
            bands=self.bands,
        )
        self._write_slice(band, f"{self.root}/band_index/batch_id={batch_id}")
        return {"band_index": band}

    def _status(self, spark: SparkSession, inc: DataFrame) -> DataFrame:
        """The per-batch routing decision (id, status, dup_of) — the
        seam the Bloom-prefiltered sink narrows (decisions must be
        identical, only the probe COST may change)."""
        return incremental_embedding_dedup_status(
            self.corpus(spark).select(*self._cols),
            inc,
            *self._cols,
            dim=self.dim,
            threshold=self.threshold,
            n_bits=self.n_bits,
            bands=self.bands,
            max_bucket_size=self.max_bucket_size,
            corpus_band_index=self._index(spark, "band_index"),
        )


class BloomPrefilteredEmbeddingDedupSink(
    _BloomPrefilter, IncrementalEmbeddingDedupSink
):
    """The embedding ingest loop with an SRP band-key Bloom pre-filter
    (:class:`_BloomPrefilter`) — the semantic twin of
    :class:`BloomPrefilteredIncrementalDedupSink`: a vector whose EVERY
    positioned band key misses the ``bloom_band/`` bitmap has no LSH
    candidate in the corpus (the near probe is the only gate —
    embedding dedup has no exact arm) and skips the index join. The
    increment's signatures are computed for the probe and again inside
    the parent status for the suspect sliver — the signature cost is
    plan-compile dominated locally (BASELINE.md r4) and batch-sized at
    scale; the savings is the corpus-side index read + join, the term
    that grows with corpus size.

    The prefilter's yield tracks BAND WIDTH, exactly like bucket load:
    8-bit bands (2^8 keys) saturate at a few hundred corpus vectors —
    measured 0/100 cleared — while the 16-bit large-corpus geometry
    (`srp_rows_per_band` ladder) cleared 97/100 on the same batch.
    Pair this sink with the wide-band geometry the corpus size calls
    for; narrow bands degrade it to the parent's behavior (safely)."""

    _TABLES = ("corpus", "band_index", "bloom_band")

    def __init__(
        self,
        root: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        threshold: float = 0.9,
        n_bits: int = 32,
        bands: int = 4,
        max_bucket_size: int | None = None,
        compact_every: int | None = None,
        bloom_m_bits: int = 1 << 18,
        bloom_k: int = 2,
    ):
        super().__init__(
            root,
            id_col,
            vec_col,
            dim,
            threshold,
            n_bits,
            bands,
            max_bucket_size,
            compact_every,
        )
        self._arm_bloom(bloom_m_bits, bloom_k)

    def _write_index_slices(
        self, docs: DataFrame, batch_id: int
    ) -> dict[str, DataFrame]:
        written = super()._write_index_slices(docs, batch_id)
        # item = band_idx|band_key: the raw SRP band key is a sig
        # substring whose meaning depends on its position, so the
        # bitmap item must carry the position (the text-side keys embed
        # it in the md5 already)
        self._write_bloom_slice(
            "bloom_band",
            written["band_index"],
            "band_index",
            F.concat_ws("|", F.col("band_idx"), F.col("band_key")),
            batch_id,
        )
        return written

    def _suspect_flags(self, spark: SparkSession, inc: DataFrame) -> DataFrame:
        rows = self.n_bits // self.bands
        sig_i = hyperplane_signatures(inc, *self._cols, self.dim, self.n_bits)
        melt_i = sig_i.select(
            F.col(self.id_col),
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            "|",
                            F.lit(j),
                            F.substring(F.col("sig"), j * rows + 1, rows),
                        )
                        for j in range(self.bands)
                    ]
                )
            ).alias("band_key"),
        )
        return (
            self._bloom_probe(
                melt_i, "band_key", "bloom_band", "band_index", "band_hit"
            )
            .groupBy(self.id_col)
            .agg(F.max("band_hit").alias("__suspect"))
        )


class SemanticLeakageSplitDedupSink(
    _SplitLedger, IncrementalEmbeddingDedupSink
):
    """The embedding ingest loop PLUS leakage-safe train/val/test
    assignment AT INGEST (:class:`_SplitLedger`) — the incremental form
    of the batch ``dedup_semantic_leakage_split`` query and the
    semantic twin of :class:`LeakageSafeSplitDedupSink`: a real crawl
    pipeline re-embeds every day's batch and needs the SEMANTIC split
    (paraphrases, re-encodings) maintained incrementally, not
    recomputed corpus-wide per day. ``near_dup`` vectors inherit their
    ``dup_of``'s split; ``new`` survivors are component-routed within
    the batch by
    :func:`operators.dedup.semantic_leakage_safe_assignments`."""

    def _slice_assignments(self, vecs: DataFrame) -> DataFrame:
        return semantic_leakage_safe_assignments(
            vecs.select(*self._cols),
            *self._cols,
            self.dim,
            threshold=self.threshold,
            n_bits=self.n_bits,
            bands=self.bands,
            max_bucket_size=self.max_bucket_size,
        )
