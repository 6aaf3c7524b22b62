"""Streaming corpus ingest with incremental dedup: the foreachBatch
loop must route every streamed document exactly as the (oracle-
certified) batch operator does when replayed sequentially over the
same increments, and the accumulated corpus must contain exactly the
seed plus the 'new'-status survivors."""

from __future__ import annotations

import pathlib

import pytest

from mknssh_11_bigdata_spark.operators.dedup import (
    incremental_dedup_status,
)
from mknssh_11_bigdata_spark.sources.readers import load_table
from mknssh_11_bigdata_spark.streaming.incremental import (
    IncrementalDedupCorpusSink,
)

from conftest import SF_SMOKE

#: batch boundaries over doc_id: seed [0,20), then increments
#: [20,40) [40,70) [70,100) — small enough to stream in seconds,
#: large enough that every status arm fires at sf0.001.
_SEED_HI = 20
_CUTS = [(20, 40), (40, 70), (70, 100)]


#: planted exact clone of a seed doc (fresh id) so the exact_dup arm
#: fires at sf0.001 (its organic duplicates are all near-dups)
_PLANT_ID = 1_000_000


def _slices(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    seed = docs.filter(f"doc_id < {_SEED_HI}")
    incs = [
        docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")
        for lo, hi in _CUTS
    ]
    from pyspark.sql import functions as F

    clone = seed.filter("doc_id = 0").select(
        F.lit(_PLANT_ID).alias("doc_id"), "text"
    )
    incs[1] = incs[1].unionByName(clone)
    return seed, incs


def test_streaming_incremental_dedup_matches_batch_replay(
    spark, tmp_path
):
    seed, incs = _slices(spark)

    # --- feed: one file per increment, named in processing order ---
    feed = tmp_path / "feed"
    feed.mkdir()
    schema = None
    for i, inc in enumerate(incs):
        inc.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        part = next(
            pathlib.Path(tmp_path / f"stage{i}").glob("part-*.parquet")
        )
        part.rename(feed / f"{i:04d}.parquet")
        schema = inc.schema

    sink = IncrementalDedupCorpusSink(str(tmp_path / "out"))
    sink.seed(seed)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(feed))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert sink.committed_batches() == {0, 1, 2}

    # --- batch replay: the same operator applied sequentially ---
    corpus = seed
    expected = {}
    for inc in incs:
        st = incremental_dedup_status(corpus, inc, "doc_id", "text")
        for r in st.collect():
            expected[r["doc_id"]] = (r["status"], r["dup_of"])
        corpus = corpus.unionByName(
            inc.join(
                st.filter("status = 'new'").select("doc_id"), "doc_id"
            )
        )

    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    assert got == expected
    assert len(got) == sum(hi - lo for lo, hi in _CUTS) + 1
    # every routing arm certified: the planted clone is exact_dup of
    # doc 0, organic near-dups exist in these ranges, most docs are new
    assert {s for s, _ in got.values()} == {"exact_dup", "near_dup", "new"}
    assert got[_PLANT_ID] == ("exact_dup", 0)

    # corpus = seed + 'new' survivors, nothing else
    got_ids = {r["doc_id"] for r in sink.corpus(spark).collect()}
    want_ids = {r["doc_id"] for r in corpus.collect()}
    assert got_ids == want_ids

    # --- exactly-once: replaying a committed batch id is a no-op ---
    before = got_ids
    fake = incs[0]
    sink(fake, 0)  # committed marker present -> dropped
    assert {
        r["doc_id"] for r in sink.corpus(spark).collect()
    } == before


def test_unseeded_sink_raises_clear_error(spark, tmp_path):
    """ADVICE r3: corpus()/statuses() before seed()/any commit used to
    hand Spark an empty path list — an opaque internal error raised from
    inside foreachBatch. Both must fail with a message that names the
    fix (call seed() first / wait for a commit)."""
    import pytest

    sink = IncrementalDedupCorpusSink(str(tmp_path / "unseeded"))
    with pytest.raises(RuntimeError, match="seed\\(\\)"):
        sink.corpus(spark)
    with pytest.raises(RuntimeError, match="no committed batches"):
        sink.statuses(spark)


def test_indexed_sink_matches_recomputing_sink(spark, tmp_path):
    """VERDICT r3 #7: the persisted-index sink must route every
    streamed document EXACTLY as the recomputing sink does (statuses
    and final corpus identical), while maintaining fp/band index
    slices per committed batch — and the maintained index must equal
    what recomputing over the accumulated corpus would build."""
    from mknssh_11_bigdata_spark.operators.dedup import (
        corpus_dedup_indexes,
    )
    from mknssh_11_bigdata_spark.streaming.incremental import (
        IndexedIncrementalDedupCorpusSink,
    )

    seed, incs = _slices(spark)

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = None
    for i, inc in enumerate(incs):
        inc.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        part = next(
            pathlib.Path(tmp_path / f"stage{i}").glob("part-*.parquet")
        )
        part.rename(feed / f"{i:04d}.parquet")
        schema = inc.schema

    sink = IndexedIncrementalDedupCorpusSink(str(tmp_path / "out"))
    sink.seed(seed)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(feed))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sink.committed_batches() == {0, 1, 2}

    # --- equivalence vs the recomputing operator replayed in batch ---
    corpus = seed
    expected = {}
    for inc in incs:
        st = incremental_dedup_status(corpus, inc, "doc_id", "text")
        for r in st.collect():
            expected[r["doc_id"]] = (r["status"], r["dup_of"])
        corpus = corpus.unionByName(
            inc.join(
                st.filter("status = 'new'").select("doc_id"), "doc_id"
            )
        )
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    assert got == expected
    assert {s for s, _ in got.values()} == {"exact_dup", "near_dup", "new"}
    got_ids = {r["doc_id"] for r in sink.corpus(spark).collect()}
    assert got_ids == {r["doc_id"] for r in corpus.collect()}

    # --- the maintained index equals a from-scratch rebuild over the
    # accumulated corpus (slice-append introduces no drift) ---
    fp_want, band_want = corpus_dedup_indexes(
        sink.corpus(spark), "doc_id", "text"
    )
    assert {tuple(r) for r in sink._index(spark, "fp_index").collect()} == {
        tuple(r) for r in fp_want.collect()
    }
    assert {
        tuple(r) for r in sink._index(spark, "band_index").collect()
    } == {tuple(r) for r in band_want.collect()}

    # index slices are versioned per commit, marker-gated
    for b in (-1, 0, 1, 2):
        assert pathlib.Path(
            f"{sink.root}/fp_index/batch_id={b}"
        ).exists()
        assert pathlib.Path(
            f"{sink.root}/band_index/batch_id={b}"
        ).exists()


def test_indexed_sink_compaction(spark, tmp_path):
    """compact() must fold seed + committed slices into one
    consolidated slice per table without changing ANY read result,
    keep routing batches correctly afterwards, keep the exactly-once
    replay drop for folded batch ids, and supersede prior
    consolidations on re-compaction."""
    import pytest

    from mknssh_11_bigdata_spark.streaming.incremental import (
        IndexedIncrementalDedupCorpusSink,
    )

    seed, incs = _slices(spark)
    sink = IndexedIncrementalDedupCorpusSink(str(tmp_path / "out"))
    with pytest.raises(RuntimeError, match="nothing to compact"):
        sink.compact(spark)
    sink.seed(seed)
    sink(incs[0], 0)
    sink(incs[1], 1)

    def snap():
        return (
            {tuple(r) for r in sink.corpus(spark).collect()},
            {tuple(r) for r in sink._index(spark, "fp_index").collect()},
            {tuple(r) for r in sink._index(spark, "band_index").collect()},
        )

    before = snap()
    assert sink.compact(spark) == 1
    assert snap() == before  # consolidation is a pure re-layout
    for name in ("corpus", "fp_index", "band_index"):
        base = pathlib.Path(sink.root) / name
        assert (base / "compacted_v=1").exists()
        for b in (-1, 0, 1):  # folded slice dirs are gone
            assert not (base / f"batch_id={b}").exists()

    # a batch AFTER compaction routes exactly as the batch operator
    # replayed over the accumulated corpus
    corpus_before = sink.corpus(spark)
    sink(incs[2], 2)
    want = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup_status(
            corpus_before, incs[2], "doc_id", "text"
        ).collect()
    }
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.parquet(
            f"{sink.root}/status/batch_id=2"
        ).collect()
    }
    assert got == want

    # folded batch ids still replay as no-ops (markers were kept)
    before_ids = {r["doc_id"] for r in sink.corpus(spark).collect()}
    sink(incs[0], 0)
    assert {r["doc_id"] for r in sink.corpus(spark).collect()} == before_ids

    # re-compaction supersedes the old consolidation
    before2 = snap()
    assert sink.compact(spark) == 2
    assert snap() == before2
    for name in ("corpus", "fp_index", "band_index"):
        base = pathlib.Path(sink.root) / name
        assert (base / "compacted_v=2").exists()
        assert not (base / "compacted_v=1").exists()
        assert not (base / "batch_id=2").exists()


def test_embedding_ingest_loop_matches_batch_replay(spark, tmp_path):
    """The embedding ingest loop (maintained SRP band index) must
    route every streamed vector exactly as the batch operator replayed
    sequentially with INLINE corpus signing — certifying both the sink
    plumbing and the corpus_band_index probe path against the inline
    path in one pass — and the corpus must accumulate exactly the
    'new' survivors."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        incremental_embedding_dedup_status,
    )
    from mknssh_11_bigdata_spark.streaming.incremental import (
        IncrementalEmbeddingDedupSink,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    seed = emb.filter("vec_id < 200")
    cuts = [(200, 300), (300, 400), (400, 500)]
    incs = [
        emb.filter(f"vec_id >= {lo} AND vec_id < {hi}") for lo, hi in cuts
    ]
    # planted verbatim re-embedding of a seed vector (cosine 1.0) so
    # the near_dup arm fires even if organic pairs are scarce
    clone = seed.filter("vec_id = 0").select(
        F.lit(1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    incs[1] = incs[1].unionByName(clone)

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = None
    for i, inc in enumerate(incs):
        inc.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        part = next(
            pathlib.Path(tmp_path / f"stage{i}").glob("part-*.parquet")
        )
        part.rename(feed / f"{i:04d}.parquet")
        schema = inc.schema

    kw = dict(dim=64, threshold=0.4, n_bits=32, bands=4)
    sink = IncrementalEmbeddingDedupSink(
        str(tmp_path / "out"), "vec_id", "embedding", **kw
    )
    sink.seed(seed)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(feed))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sink.committed_batches() == {0, 1, 2}

    corpus = seed
    expected = {}
    for inc in incs:
        st = incremental_embedding_dedup_status(
            corpus, inc, "vec_id", "embedding", **kw
        )
        for r in st.collect():
            expected[r["vec_id"]] = (r["status"], r["dup_of"])
        corpus = corpus.unionByName(
            inc.join(
                st.filter("status = 'new'").select("vec_id"), "vec_id"
            )
        )
    got = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    assert got == expected
    assert len(got) == sum(hi - lo for lo, hi in cuts) + 1
    # both arms fired: the planted clone is a near-dup of vec 0
    assert got[1_000_000] == ("near_dup", 0)
    assert {s for s, _ in got.values()} == {"near_dup", "new"}

    got_ids = {r["vec_id"] for r in sink.corpus(spark).collect()}
    assert got_ids == {r["vec_id"] for r in corpus.collect()}

    # exactly-once: replaying a committed batch id is a no-op
    sink(incs[0], 0)
    assert {
        r["vec_id"] for r in sink.corpus(spark).collect()
    } == got_ids


def test_compact_equal_epoch_is_noop(spark, tmp_path):
    """ADVICE r4 (medium): compact() with no batch committed since the
    last compaction must NOT rewrite the live consolidation in place —
    the old path read compacted_v=<epoch> (the only persisted copy),
    pinned it only in non-fault-tolerant localCheckpoint storage, then
    mode('overwrite') deleted and rewrote that same directory; a write
    failure in the window destroyed the corpus. Equal epoch = no-op:
    same return value, and the consolidated files untouched on disk."""
    from mknssh_11_bigdata_spark.streaming.incremental import (
        IndexedIncrementalDedupCorpusSink,
    )

    seed, incs = _slices(spark)
    sink = IndexedIncrementalDedupCorpusSink(str(tmp_path / "out"))
    sink.seed(seed)
    sink(incs[0], 0)
    assert sink.compact(spark) == 0

    def listing():
        out = {}
        for name in ("corpus", "fp_index", "band_index"):
            d = pathlib.Path(sink.root) / name / "compacted_v=0"
            out[name] = sorted(
                (p.name, p.stat().st_mtime_ns, p.stat().st_size)
                for p in d.iterdir()
            )
        return out

    before = listing()
    assert sink.compact(spark) == 0  # equal-epoch: must be a no-op
    assert listing() == before  # nothing rewritten, byte-for-byte inert
    # and the read path is still intact
    assert sink.corpus(spark).count() > 0


def test_compact_cadence_bounds_slice_count(spark, tmp_path):
    """VERDICT r4 #6: with compact_every=K armed, a long replay keeps
    a BOUNDED per-table slice count (≤ K live + 1 consolidated dirs)
    after every commit, while reads stay identical to an unbounded
    (never-compacting) twin of the same stream."""
    from mknssh_11_bigdata_spark.streaming.incremental import (
        IndexedIncrementalDedupCorpusSink,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    seed = docs.filter("doc_id < 20")
    batches = [
        docs.filter(f"doc_id >= {lo} AND doc_id < {lo + 10}")
        for lo in range(20, 100, 10)
    ]  # 8 batches >> K=2

    k = 2
    auto = IndexedIncrementalDedupCorpusSink(
        str(tmp_path / "auto"), compact_every=k
    )
    plain = IndexedIncrementalDedupCorpusSink(str(tmp_path / "plain"))
    auto.seed(seed)
    plain.seed(seed)
    jsc = spark.sparkContext._jsc
    for i, b in enumerate(batches):
        pinned = set(jsc.getPersistentRDDs().keys())
        auto(b, i)
        plain(b, i)
        # each sink frees its own pins, the status operator frees its
        # signature checkpoint, and compaction pins nothing
        assert len(set(jsc.getPersistentRDDs().keys()) - pinned) == 0
        for name in ("corpus", "fp_index", "band_index"):
            dirs = [
                p.name
                for p in (pathlib.Path(auto.root) / name).iterdir()
                if p.is_dir()
            ]
            assert len(dirs) <= k + 1, (
                f"slice count unbounded after batch {i}: {name} has "
                f"{sorted(dirs)}"
            )
    # cadence actually fired: an epoch exists and it is recent
    assert auto._compact_epoch() is not None
    assert auto._compact_epoch() >= len(batches) - k - 1
    # reads are invariant vs the never-compacted twin
    assert {tuple(r) for r in auto.corpus(spark).collect()} == {
        tuple(r) for r in plain.corpus(spark).collect()
    }
    for name in ("fp_index", "band_index"):
        assert {tuple(r) for r in auto._index(spark, name).collect()} == {
            tuple(r) for r in plain._index(spark, name).collect()
        }


def test_leakage_safe_split_sink_invariants(spark, tmp_path):
    """The incremental split sink's three contracts: (1) STABILITY —
    an assignment never changes once committed (incl. under replay);
    (2) NO LOCAL STRADDLE — every routed dup shares its dup_of's
    split; (3) BATCH EQUIVALENCE when no cross-batch component merge
    occurred — the incremental assignments equal a from-scratch
    component-routed split of the accumulated corpus+increments.
    Also: intra-batch duplicates that match nothing in the corpus
    must found ONE group (per-doc hashing here would straddle)."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        leakage_safe_assignments,
    )
    from mknssh_11_bigdata_spark.streaming.incremental import (
        LeakageSafeSplitDedupSink,
    )

    seed, incs = _slices(spark)
    # plant an intra-batch near-dup pair into batch 2: two fresh ids
    # sharing one long text that matches nothing in the corpus
    novel = (
        "zanzibar quokka flotilla "
        + " ".join(f"novel{i}" for i in range(40))
    )
    plant = spark.createDataFrame(
        [(2_000_000, novel), (2_000_001, novel + " tail")],
        ["doc_id", "text"],
    )
    incs[2] = incs[2].unionByName(plant)

    sink = LeakageSafeSplitDedupSink(str(tmp_path / "out"))
    sink.seed(seed)
    snapshots = []
    jsc = spark.sparkContext._jsc
    for i, b in enumerate(incs):
        pinned = set(jsc.getPersistentRDDs().keys())
        sink(b, i)
        # nothing left pinned per batch (3 while the split left the LSH
        # candidates, the Jaccard shingle counts and the rep component
        # map behind its checkpointed group map)
        assert len(set(jsc.getPersistentRDDs().keys()) - pinned) == 0
        snapshots.append(
            {r["doc_id"]: (r["group_id"], r["split"])
             for r in sink.assignments(spark).collect()}
        )

    final = snapshots[-1]
    # (1) stability: every earlier snapshot is a subset of the final
    for snap in snapshots:
        assert all(final[d] == gs for d, gs in snap.items())
    # ...including under replay of a committed batch
    sink(incs[0], 0)
    assert {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in sink.assignments(spark).collect()
    } == final

    # (2) no local straddle: dup routes share their target's split
    statuses = sink.statuses(spark)
    dup = statuses.filter("status <> 'new'").select("doc_id", "dup_of")
    a = sink.assignments(spark)
    pair_splits = (
        dup.join(a.select("doc_id", F.col("split").alias("s_doc")), "doc_id")
        .join(
            a.select(
                F.col("doc_id").alias("dup_of"),
                F.col("split").alias("s_tgt"),
            ),
            "dup_of",
        )
    )
    assert pair_splits.count() > 0  # the dup arms actually fired
    assert pair_splits.filter("s_doc <> s_tgt").count() == 0

    # planted intra-batch pair: one group, one side
    assert final[2_000_000] == final[2_000_001]

    # (3) batch equivalence (no cross-batch merges in this stream):
    # from-scratch component-routed split over everything ever seen
    all_docs = seed
    for b in incs:
        all_docs = all_docs.unionByName(b)
    want = {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in leakage_safe_assignments(
            all_docs, "doc_id", "text"
        ).collect()
    }
    # compare on survivor-founded groups: for docs routed as dups the
    # incremental group is the dup TARGET's group (stability), while a
    # from-scratch pass may relabel a merged group by a later min id —
    # equality of the SPLIT (the user-facing contract) must still hold
    # for every doc whose batch introduced no cross-batch merge; in
    # this stream there are none, so splits agree everywhere
    assert set(final) == set(want)
    mismatches = {d for d in final if final[d][1] != want[d][1]}
    assert mismatches == set(), sorted(mismatches)[:10]


def test_leakage_safe_split_sink_survives_compaction(spark, tmp_path):
    """Split slices are NOT part of compact()'s fold set — they must
    survive compaction verbatim (markers are kept, so assignments()
    keeps resolving every committed slice) and the auto-cadence path
    must compose with split assignment."""
    seed, incs = _slices(spark)
    from mknssh_11_bigdata_spark.streaming.incremental import (
        LeakageSafeSplitDedupSink,
    )

    auto = LeakageSafeSplitDedupSink(
        str(tmp_path / "auto"), compact_every=2
    )
    plain = LeakageSafeSplitDedupSink(str(tmp_path / "plain"))
    auto.seed(seed)
    plain.seed(seed)
    for i, b in enumerate(incs):
        auto(b, i)
        plain(b, i)
    assert auto._compact_epoch() is not None  # cadence fired
    got = {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in auto.assignments(spark).collect()
    }
    want = {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in plain.assignments(spark).collect()
    }
    assert got == want
    # routing after compaction still assigns (split slices + markers
    # intact): replaying a folded batch stays a no-op
    auto(incs[0], 0)
    assert {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in auto.assignments(spark).collect()
    } == got


def test_split_sink_orphan_dup_route_fails_loudly(spark, tmp_path):
    """ADVICE r5: a dup-routed doc whose dup_of has no committed split
    assignment (broken disjoint-id contract / missing slice) must fail
    the batch loudly, never write a silent gap in the assignment
    ledger."""
    import pytest

    from mknssh_11_bigdata_spark.streaming.incremental import (
        LeakageSafeSplitDedupSink,
    )

    seed, incs = _slices(spark)
    sink = LeakageSafeSplitDedupSink(str(tmp_path / "out"))
    sink.seed(seed)
    # corrupt the ledger: drop doc 0's split row — the planted clone in
    # incs[1] dup-routes to doc 0 and now has nothing to inherit
    path = str(tmp_path / "out" / "splits" / "batch_id=-1")
    rest = (
        spark.read.parquet(path)
        .filter("doc_id <> 0")
        .localCheckpoint(eager=True)  # materialize before overwrite
    )
    rest.write.mode("overwrite").parquet(path)
    sink(incs[0], 0)  # clean batch still routes fine
    with pytest.raises(RuntimeError, match="no committed split"):
        sink(incs[1], 1)


def test_semantic_split_sink_contracts(spark, tmp_path):
    """The incremental SEMANTIC split sink's contracts, mirroring the
    text sink (VERDICT r5 missing #3): (1) STABILITY — an assignment
    never changes once committed (incl. under replay); (2) NO LOCAL
    STRADDLE — every routed dup shares its dup_of's split; (3) BATCH
    EQUIVALENCE when no cross-batch component merge occurred — the
    incremental assignments equal a from-scratch component-routed
    split of the accumulated corpus+increments. Intra-batch duplicates
    that match nothing in the corpus must found ONE group."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        semantic_leakage_safe_assignments,
    )
    from mknssh_11_bigdata_spark.streaming.incremental import (
        SemanticLeakageSplitDedupSink,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    seed = emb.filter("vec_id < 200")
    cuts = [(200, 300), (300, 400), (400, 500)]
    incs = [
        emb.filter(f"vec_id >= {lo} AND vec_id < {hi}") for lo, hi in cuts
    ]
    # planted re-embedding of a seed vector: the inherit arm must fire
    clone = seed.filter("vec_id = 0").select(
        F.lit(1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    incs[1] = incs[1].unionByName(clone)
    # planted intra-batch pair matching nothing in the corpus: two
    # fresh ids sharing one novel direction (exact copies of each
    # other) — they must found ONE group and share a side
    novel = incs[2].limit(0)
    base_vec = [float((i * 37 + 11) % 101 - 50) for i in range(64)]
    novel = spark.createDataFrame(
        [(2_000_000, base_vec), (2_000_001, base_vec)],
        schema=incs[2].schema,
    )
    incs[2] = incs[2].unionByName(novel)

    kw = dict(dim=64, threshold=0.9, n_bits=32, bands=4)
    sink = SemanticLeakageSplitDedupSink(
        str(tmp_path / "out"), "vec_id", "embedding", **kw
    )
    sink.seed(seed)
    snapshots = []
    jsc = spark.sparkContext._jsc
    for i, b in enumerate(incs):
        pinned = set(jsc.getPersistentRDDs().keys())
        sink(b, i)
        # nothing left pinned per batch (1 while the split left the SRP
        # candidates behind the materialized component edges)
        assert len(set(jsc.getPersistentRDDs().keys()) - pinned) == 0
        snapshots.append(
            {r["vec_id"]: (r["group_id"], r["split"])
             for r in sink.assignments(spark).collect()}
        )

    final = snapshots[-1]
    # (1) stability: every earlier snapshot is a subset of the final
    for snap in snapshots:
        assert all(final[d] == gs for d, gs in snap.items())
    # ...including under replay of a committed batch
    sink(incs[0], 0)
    assert {
        r["vec_id"]: (r["group_id"], r["split"])
        for r in sink.assignments(spark).collect()
    } == final

    # (2) no local straddle: dup routes share their target's split
    statuses = sink.statuses(spark)
    dup = statuses.filter("status <> 'new'").select("vec_id", "dup_of")
    a = sink.assignments(spark)
    pair_splits = dup.join(
        a.select("vec_id", F.col("split").alias("s_doc")), "vec_id"
    ).join(
        a.select(
            F.col("vec_id").alias("dup_of"),
            F.col("split").alias("s_tgt"),
        ),
        "dup_of",
    )
    assert pair_splits.count() > 0  # the inherit arm actually fired
    assert pair_splits.filter("s_doc <> s_tgt").count() == 0
    # the planted clone inherited vec 0's side
    seed_assign = {
        r["vec_id"]: (r["group_id"], r["split"])
        for r in sink.assignments(spark)
        .filter("vec_id IN (0, 1000000)")
        .collect()
    }
    assert seed_assign[1_000_000][1] == seed_assign[0][1]

    # planted intra-batch pair: one group, one side
    assert final[2_000_000] == final[2_000_001]

    # (3) batch equivalence (no cross-batch merges in this stream)
    all_vecs = seed
    for b in incs:
        all_vecs = all_vecs.unionByName(b)
    want = {
        r["vec_id"]: (r["group_id"], r["split"])
        for r in semantic_leakage_safe_assignments(
            all_vecs, "vec_id", "embedding", 64,
            threshold=0.9, n_bits=32, bands=4,
        ).collect()
    }
    assert set(final) == set(want)
    mismatches = {d for d in final if final[d][1] != want[d][1]}
    assert mismatches == set(), sorted(mismatches)[:10]


def test_semantic_split_sink_orphan_dup_route_fails_loudly(
    spark, tmp_path
):
    """Same broken-contract policy as the text sink: a dup-routed
    vector whose dup_of has no committed split assignment must fail
    the batch loudly."""
    import pytest
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.streaming.incremental import (
        SemanticLeakageSplitDedupSink,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    seed = emb.filter("vec_id < 200")
    sink = SemanticLeakageSplitDedupSink(
        str(tmp_path / "out"), "vec_id", "embedding",
        dim=64, threshold=0.9, n_bits=32, bands=4,
    )
    sink.seed(seed)
    path = str(tmp_path / "out" / "splits" / "batch_id=-1")
    rest = (
        spark.read.parquet(path)
        .filter("vec_id <> 0")
        .localCheckpoint(eager=True)
    )
    rest.write.mode("overwrite").parquet(path)
    clone = seed.filter("vec_id = 0").select(
        F.lit(1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    with pytest.raises(RuntimeError, match="no committed split"):
        sink(clone, 0)


def test_bloom_prefiltered_sink_matches_indexed_sink(spark, tmp_path):
    """Round 6: the Bloom-prefiltered sink must route every streamed
    document EXACTLY as the unfiltered indexed sink (= the certified
    batch-replay semantics): one-sided bloom error may only send extra
    rows through the index joins, never skip a real duplicate. The
    prefilter must also actually clear rows (novel docs skip both
    probe joins), and the bitmap slices must ride commit markers and
    compaction like every other index table."""
    from mknssh_11_bigdata_spark.streaming.incremental import (
        BloomPrefilteredIncrementalDedupSink,
    )

    seed, incs = _slices(spark)

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = None
    for i, inc in enumerate(incs):
        inc.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        part = next(
            pathlib.Path(tmp_path / f"stage{i}").glob("part-*.parquet")
        )
        part.rename(feed / f"{i:04d}.parquet")
        schema = inc.schema

    sink = BloomPrefilteredIncrementalDedupSink(str(tmp_path / "out"))
    sink.seed(seed)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(feed))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sink.committed_batches() == {0, 1, 2}

    # routing identical to the certified batch replay
    corpus = seed
    expected = {}
    for inc in incs:
        st = incremental_dedup_status(corpus, inc, "doc_id", "text")
        for r in st.collect():
            expected[r["doc_id"]] = (r["status"], r["dup_of"])
        corpus = corpus.unionByName(
            inc.join(
                st.filter("status = 'new'").select("doc_id"), "doc_id"
            )
        )
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    assert got == expected
    assert got[_PLANT_ID] == ("exact_dup", 0)
    got_ids = {r["doc_id"] for r in sink.corpus(spark).collect()}
    assert got_ids == {r["doc_id"] for r in corpus.collect()}

    # the prefilter did real work on the last batch: some rows cleared
    # (skipped both index joins), and suspects cover at least every
    # actual duplicate
    cleared, suspect = sink.last_prefilter_stats
    n_dups_last = sum(
        1
        for d, (s, _) in expected.items()
        if s != "new" and _CUTS[-1][0] <= d < _CUTS[-1][1]
    )
    assert cleared > 0
    assert suspect >= n_dups_last

    # bitmap slices exist per commit, marker-gated
    for b in (-1, 0, 1, 2):
        assert pathlib.Path(
            f"{sink.root}/bloom_fp/batch_id={b}"
        ).exists()
        assert pathlib.Path(
            f"{sink.root}/bloom_band/batch_id={b}"
        ).exists()

    # compaction folds bloom tables too, and reads are unchanged
    pre = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    epoch = sink.compact(spark)
    assert pathlib.Path(
        f"{sink.root}/bloom_fp/compacted_v={epoch}"
    ).exists()
    assert not pathlib.Path(f"{sink.root}/bloom_fp/batch_id=0").exists()
    post = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    assert post == pre

    # a saturated bitmap degrades safely: a tiny-m sink still routes
    # correctly (everything suspect => parent behavior)
    tiny = BloomPrefilteredIncrementalDedupSink(
        str(tmp_path / "tiny"), bloom_m_bits=64
    )
    tiny.seed(seed)
    tiny(incs[0].localCheckpoint(eager=True), 0)
    st0 = incremental_dedup_status(seed, incs[0], "doc_id", "text")
    want0 = {
        r["doc_id"]: (r["status"], r["dup_of"]) for r in st0.collect()
    }
    got0 = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in tiny.statuses(spark).collect()
    }
    assert got0 == want0


def test_bloom_prefiltered_embedding_sink_matches_parent(spark, tmp_path):
    """Round 6: the SRP band-key bloom prefilter must route every
    streamed vector EXACTLY as the unfiltered embedding sink (one-sided
    error only over-probes), clear a nonzero sliver (vectors whose
    every positioned band key misses the corpus bitmap skip the index
    join), persist bitmap slices per commit, and degrade safely when
    the bitmap saturates."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        incremental_embedding_dedup_status,
    )
    from mknssh_11_bigdata_spark.streaming.incremental import (
        BloomPrefilteredEmbeddingDedupSink,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    seed = emb.filter("vec_id < 200")
    cuts = [(200, 300), (300, 400), (400, 500)]
    incs = [
        emb.filter(f"vec_id >= {lo} AND vec_id < {hi}") for lo, hi in cuts
    ]
    clone = seed.filter("vec_id = 0").select(
        F.lit(1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    incs[1] = incs[1].unionByName(clone)

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = None
    for i, inc in enumerate(incs):
        inc.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        part = next(
            pathlib.Path(tmp_path / f"stage{i}").glob("part-*.parquet")
        )
        part.rename(feed / f"{i:04d}.parquet")
        schema = inc.schema

    kw = dict(dim=64, threshold=0.4, n_bits=32, bands=4)
    sink = BloomPrefilteredEmbeddingDedupSink(
        str(tmp_path / "out"), "vec_id", "embedding", **kw
    )
    sink.seed(seed)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(feed))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sink.committed_batches() == {0, 1, 2}

    corpus = seed
    expected = {}
    for inc in incs:
        st = incremental_embedding_dedup_status(
            corpus, inc, "vec_id", "embedding", **kw
        )
        for r in st.collect():
            expected[r["vec_id"]] = (r["status"], r["dup_of"])
        corpus = corpus.unionByName(
            inc.join(
                st.filter("status = 'new'").select("vec_id"), "vec_id"
            )
        )
    got = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    assert got == expected
    assert got[1_000_000] == ("near_dup", 0)
    got_ids = {r["vec_id"] for r in sink.corpus(spark).collect()}
    assert got_ids == {r["vec_id"] for r in corpus.collect()}

    # prefilter telemetry: total adds up; suspects cover all near-dups
    cleared, suspect = sink.last_prefilter_stats
    last = [
        d for d in expected if 400 <= d < 500 or d == 1_000_000
    ]
    n_last = sum(1 for d in last if 400 <= d < 500)
    assert cleared + suspect == n_last
    n_dups_last = sum(
        1 for d in expected if 400 <= d < 500
        and expected[d][0] == "near_dup"
    )
    assert suspect >= n_dups_last

    # bitmap slices per commit
    for b in (-1, 0, 1, 2):
        assert pathlib.Path(
            f"{sink.root}/bloom_band/batch_id={b}"
        ).exists()

    # saturated bitmap (tiny m): still exact vs the batch operator
    tiny = BloomPrefilteredEmbeddingDedupSink(
        str(tmp_path / "tiny"), "vec_id", "embedding",
        bloom_m_bits=64, **kw
    )
    tiny.seed(seed)
    jsc = spark.sparkContext._jsc
    pinned = set(jsc.getPersistentRDDs().keys())
    tiny(incs[0].localCheckpoint(eager=True), 0)
    # only the input's own checkpoint: the sink frees its pins and the
    # operator its signature checkpoint
    assert len(set(jsc.getPersistentRDDs().keys()) - pinned) <= 1
    st0 = incremental_embedding_dedup_status(
        seed, incs[0], "vec_id", "embedding", **kw
    )
    want0 = {
        r["vec_id"]: (r["status"], r["dup_of"]) for r in st0.collect()
    }
    got0 = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in tiny.statuses(spark).collect()
    }
    assert got0 == want0

    # the wide-band (16-bit) large-corpus geometry actually CLEARS:
    # same batch, bands=2 -> most of the batch skips the index join,
    # and routing still matches the batch operator at that geometry
    kw2 = dict(dim=64, threshold=0.4, n_bits=32, bands=2)
    wide = BloomPrefilteredEmbeddingDedupSink(
        str(tmp_path / "wide"), "vec_id", "embedding", **kw2
    )
    wide.seed(seed)
    wide(incs[0].localCheckpoint(eager=True), 0)
    cleared2, suspect2 = wide.last_prefilter_stats
    assert cleared2 > suspect2  # the prefilter does real work here
    stw = incremental_embedding_dedup_status(
        seed, incs[0], "vec_id", "embedding", **kw2
    )
    assert {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in wide.statuses(spark).collect()
    } == {
        r["vec_id"]: (r["status"], r["dup_of"]) for r in stw.collect()
    }


def test_embedding_sink_compaction(spark, tmp_path):
    """Round 6: embedding-sink compaction must fold corpus + band index
    (+ bloom_band on the prefiltered subclass) into one consolidated
    slice per table without changing ANY read result, keep routing
    correctly afterwards, keep the exactly-once drop for folded batch
    ids, and no-op on an equal epoch."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        incremental_embedding_dedup_status,
    )
    from mknssh_11_bigdata_spark.streaming.incremental import (
        BloomPrefilteredEmbeddingDedupSink,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    seed = emb.filter("vec_id < 200")
    cuts = [(200, 300), (300, 400), (400, 500)]
    incs = [
        emb.filter(f"vec_id >= {lo} AND vec_id < {hi}").localCheckpoint(
            eager=True
        )
        for lo, hi in cuts
    ]
    kw = dict(dim=64, threshold=0.4, n_bits=32, bands=2)
    sink = BloomPrefilteredEmbeddingDedupSink(
        str(tmp_path / "out"), "vec_id", "embedding",
        compact_every=2, **kw
    )
    sink.seed(seed)
    for i, inc in enumerate(incs):
        sink(inc, i)
    # cadence fired at least once: an epoch exists and folded batch
    # dirs are gone for every table incl. the bitmap
    epoch = sink._compact_epoch()
    assert epoch is not None
    for name in ("corpus", "band_index", "bloom_band"):
        assert pathlib.Path(
            f"{sink.root}/{name}/compacted_v={epoch}"
        ).exists()
        assert not pathlib.Path(
            f"{sink.root}/{name}/batch_id=-1"
        ).exists()

    # routing across compaction matches the batch operator replay
    corpus = seed
    expected = {}
    for inc in incs:
        st = incremental_embedding_dedup_status(
            corpus, inc, "vec_id", "embedding", **kw
        )
        for r in st.collect():
            expected[r["vec_id"]] = (r["status"], r["dup_of"])
        corpus = corpus.unionByName(
            inc.join(
                st.filter("status = 'new'").select("vec_id"), "vec_id"
            )
        )
    got = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    assert got == expected
    assert {r["vec_id"] for r in sink.corpus(spark).collect()} == {
        r["vec_id"] for r in corpus.collect()
    }

    # replay of a FOLDED batch id is still a no-op (markers survive)
    before = {r["vec_id"] for r in sink.corpus(spark).collect()}
    sink(incs[0], 0)
    assert {
        r["vec_id"] for r in sink.corpus(spark).collect()
    } == before

    # fold the remaining post-epoch slice up to the top epoch, then an
    # equal-epoch recompact must be a no-op: same epoch, files untouched
    top = sink.compact(spark)
    assert top == max(sink.committed_batches())
    files_before = sorted(
        str(p)
        for p in pathlib.Path(
            f"{sink.root}/corpus/compacted_v={top}"
        ).iterdir()
    )
    assert sink.compact(spark) == top
    files_after = sorted(
        str(p)
        for p in pathlib.Path(
            f"{sink.root}/corpus/compacted_v={top}"
        ).iterdir()
    )
    assert files_after == files_before

    # a further batch after compaction still routes correctly
    extra = emb.filter("vec_id >= 0 AND vec_id < 50").select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    ).localCheckpoint(eager=True)
    sink(extra, 3)
    st3 = incremental_embedding_dedup_status(
        corpus, extra, "vec_id", "embedding", **kw
    )
    want3 = {
        r["vec_id"]: (r["status"], r["dup_of"]) for r in st3.collect()
    }
    got_all = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in sink.statuses(spark).collect()
    }
    assert {k: v for k, v in got_all.items() if k >= 2_000_000} == want3


def test_bloom_prefiltered_sink_null_text_routes_like_parent(
    spark, tmp_path
):
    """ADVICE r6 (medium): a NULL text row yields a NULL fingerprint,
    so the bloom probe's hit expression is NULL — before the coalesce
    fix the row failed BOTH filter(__suspect) and filter(~__suspect)
    and silently vanished from status and corpus, while the parent
    sink emitted a status for it. The contract is IDENTICAL decisions:
    unknown-probe rows must fall through to the parent's index probe."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.streaming.incremental import (
        BloomPrefilteredIncrementalDedupSink,
        IndexedIncrementalDedupCorpusSink,
    )

    seed, incs = _slices(spark)
    nulled = incs[0].unionByName(
        spark.createDataFrame(
            [(2_000_000,)], "doc_id long"
        ).select("doc_id", F.lit(None).cast("string").alias("text"))
    ).localCheckpoint(eager=True)

    parent = IndexedIncrementalDedupCorpusSink(str(tmp_path / "p"))
    parent.seed(seed)
    parent(nulled, 0)
    bloom = BloomPrefilteredIncrementalDedupSink(str(tmp_path / "b"))
    bloom.seed(seed)
    bloom(nulled, 0)

    want = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in parent.statuses(spark).collect()
    }
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in bloom.statuses(spark).collect()
    }
    assert 2_000_000 in got  # the row must not vanish
    assert got == want  # and every decision matches the parent


def test_bloom_sink_rejects_mixed_root_missing_bloom_slices(
    spark, tmp_path
):
    """ADVICE r6 (low): a root seeded by the NON-bloom parent class has
    fp/band index slices but no bitmap slices; probing the partial
    bitmap would silently clear rows duplicating the uncovered slices
    (missed duplicates). The coverage check must fail loudly instead."""
    import pytest

    from mknssh_11_bigdata_spark.streaming.incremental import (
        BloomPrefilteredIncrementalDedupSink,
        IndexedIncrementalDedupCorpusSink,
    )

    seed, incs = _slices(spark)
    root = str(tmp_path / "mixed")
    parent = IndexedIncrementalDedupCorpusSink(root)
    parent.seed(seed)
    parent(incs[0].localCheckpoint(eager=True), 0)

    # same root re-opened with the Bloom subclass: slices exist for
    # fp_index/band_index (seed + batch 0) but bloom_* has none. Two
    # independent tripwires now cover this: the geometry ledger (the
    # parent recorded no bloom fields — fires first) and the bloom
    # slice-coverage check; either way the failure is LOUD ("not
    # match" appears in both messages), never silent under-filtering.
    mixed = BloomPrefilteredIncrementalDedupSink(root)
    with pytest.raises(RuntimeError, match="not match"):
        mixed(incs[1].localCheckpoint(eager=True), 1)


def test_dedup_sink_geometry_guard(spark, tmp_path):
    """Review finding (r7): the persisted fp/band/bloom slices are pure
    functions of the sink's geometry — a reopen with different band or
    bitmap parameters must fail loudly (silently mis-probing an index
    built under other parameters is the missed-duplicates bug class the
    ADVICE r6 coverage check already targets)."""
    import pytest

    from mknssh_11_bigdata_spark.streaming.incremental import (
        BloomPrefilteredIncrementalDedupSink,
        IndexedIncrementalDedupCorpusSink,
    )

    seed, incs = _slices(spark)
    root = str(tmp_path / "g")
    sink = BloomPrefilteredIncrementalDedupSink(root, bloom_m_bits=1 << 18)
    sink.seed(seed)
    sink(incs[0].localCheckpoint(eager=True), 0)

    # different bloom geometry
    with pytest.raises(RuntimeError, match="geometry"):
        BloomPrefilteredIncrementalDedupSink(root, bloom_m_bits=1 << 20)(
            incs[1].localCheckpoint(eager=True), 1
        )
    # different band geometry (the non-bloom fields)
    with pytest.raises(RuntimeError, match="geometry"):
        BloomPrefilteredIncrementalDedupSink(
            root, bloom_m_bits=1 << 18, bands=6, num_hashes=12
        )(incs[1].localCheckpoint(eager=True), 1)
    # the parent class on a bloom root records different fields
    with pytest.raises(RuntimeError, match="geometry"):
        IndexedIncrementalDedupCorpusSink(root)(
            incs[1].localCheckpoint(eager=True), 1
        )
    # identical geometry reopens fine
    again = BloomPrefilteredIncrementalDedupSink(root, bloom_m_bits=1 << 18)
    again(incs[1].localCheckpoint(eager=True), 1)
    assert again.committed_batches() == {0, 1}


@pytest.mark.parametrize("kind", ["indexed_text", "embedding"])
def test_crash_before_marker_is_invisible_and_replays_clean(
    spark, tmp_path, monkeypatch, kind
):
    """A crash after a batch's data writes but before its commit marker
    must leave nothing visible: corpus() and statuses() read committed
    slices only. Replaying the batch id then overwrites the partial
    slices, and the ledger equals a run that never crashed."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.streaming.incremental import (
        IncrementalEmbeddingDedupSink,
        IndexedIncrementalDedupCorpusSink,
    )

    if kind == "indexed_text":
        seed, incs = _slices(spark)
        inc = incs[0]

        def make(name):
            return IndexedIncrementalDedupCorpusSink(str(tmp_path / name))
    else:
        emb = load_table(spark, SF_SMOKE, "embeddings").select(
            "vec_id", "embedding"
        )
        seed = emb.filter("vec_id < 200")
        inc = emb.filter("vec_id >= 200 AND vec_id < 300").unionByName(
            seed.filter("vec_id = 0").select(
                F.lit(1_000_000).cast("long").alias("vec_id"), "embedding"
            )
        )

        def make(name):
            return IncrementalEmbeddingDedupSink(
                str(tmp_path / name), "vec_id", "embedding",
                dim=64, threshold=0.4, n_bits=32, bands=4,
            )

    def ids(df):
        return {r[0] for r in df.select(df.columns[0]).collect()}

    def ledger(sink):
        return (
            sink.committed_batches(),
            {tuple(r) for r in sink.statuses(spark).collect()},
            ids(sink.corpus(spark)),
        )

    clean = make("clean")
    clean.seed(seed)
    clean(inc, 0)

    crashed = make("crashed")
    crashed.seed(seed)
    seed_ids = ids(crashed.corpus(spark))

    def crash(batch_id):
        raise OSError("crash before the commit marker")

    monkeypatch.setattr(crashed, "_mark_committed", crash)
    with pytest.raises(OSError, match="crash"):
        crashed(inc, 0)
    # the data slices landed, yet no reader sees them
    assert pathlib.Path(f"{crashed.root}/status/batch_id=0").exists()
    assert pathlib.Path(f"{crashed.root}/corpus/batch_id=0").exists()
    assert ids(crashed.corpus(spark)) == seed_ids
    with pytest.raises(RuntimeError, match="no committed batches"):
        crashed.statuses(spark)

    monkeypatch.undo()
    crashed(inc, 0)  # the replay overwrites the half-written batch
    assert ledger(crashed) == ledger(clean)
