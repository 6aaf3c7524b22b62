"""Semantic tests for the dedup family: planted exact/near duplicates
must be found; unrelated documents must not pair."""

from __future__ import annotations

import pytest

from mknssh_11_bigdata_spark.operators.dedup import (
    exact_duplicate_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill in the afternoon sun near the garden"
)
NEAR = BASE + " today"  # one appended word => very high 3-gram jaccard
OTHER = (
    "completely different content about spark query engines and "
    "distributed columnar storage with adaptive execution plans"
)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, "  THE  quick brown fox jumps over the lazy dog while the cat sleeps on the warm windowsill in the afternoon sun near the garden "),
            (3, NEAR),
            (4, OTHER),
        ],
        ["doc_id", "text"],
    )


def test_exact_duplicate_groups_normalizes_case_and_whitespace(spark, docs):
    groups = {
        r.fp: (r.n_docs, r.keeper)
        for r in exact_duplicate_groups(docs, "text", "doc_id").collect()
    }
    # doc 1 and doc 2 differ only in case/extra whitespace => same group
    assert (2, 1) in groups.values()
    sizes = sorted(n for n, _ in groups.values())
    assert sizes == [1, 1, 2]


def test_jaccard_pairs_finds_near_dup_only(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.5
        ).collect()
    }
    assert (1, 3) in pairs
    assert pairs[(1, 3)] > 0.9
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_pipeline_finds_planted_pair(spark, docs):
    out = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    # exact dup pair (1,2) differs in normalization => tokens differ;
    # near-dup (1,3) and (2-vs-3 via shared shingles) must be caught.
    assert (1, 3) in out
    assert not any(a == 4 or b == 4 for a, b in out)


def test_lsh_candidates_superset_of_verified_pairs(spark, docs):
    sigs = minhash_signatures(docs, "doc_id", "text")
    cands = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id").collect()
    }
    verified = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert verified <= cands


def test_exact_collapse_reps_and_mapping(spark, docs):
    from mknssh_11_bigdata_spark.operators.dedup import exact_collapse

    reps, mapping = exact_collapse(docs, "doc_id", "text")
    # docs 1+2 collapse (case/whitespace variants) => reps are 1, 3, 4
    assert sorted(r.doc_id for r in reps.select("doc_id").collect()) == [1, 3, 4]
    assert reps.columns == docs.columns  # payload columns preserved
    m = {r.doc_id: (r.rep_id, r.group_n) for r in mapping.collect()}
    assert m == {1: (1, 2), 2: (1, 2), 3: (3, 1), 4: (4, 1)}


def test_near_dup_components_merges_exact_and_near(spark, docs):
    from mknssh_11_bigdata_spark.operators.dedup import near_dup_components

    out = {
        r.doc_id: r.component
        for r in near_dup_components(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    # exact pair (1,2) and near pair (1,3) merge into one group keyed by
    # the global min id; unrelated doc 4 is absent.
    assert out == {1: 1, 2: 1, 3: 1}


def test_near_dup_components_exact_only_group(spark):
    from mknssh_11_bigdata_spark.operators.dedup import near_dup_components

    df = spark.createDataFrame(
        [(5, OTHER), (6, OTHER), (7, BASE)], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.component
        for r in near_dup_components(
            df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    # a verbatim-copy group with no near-dup neighbors is still a
    # duplicate group; the singleton doc 7 is not.
    assert out == {5: 5, 6: 5}


def test_simhash_identical_docs_equal_near_dups_close(spark, docs):
    fps = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}

    def hamming(a, b):
        return sum(x != y for x, y in zip(a, b))

    assert len(fps[1]) == 32
    # near-dup: small hamming distance; unrelated: larger
    assert hamming(fps[1], fps[3]) <= 6
    assert hamming(fps[1], fps[4]) > hamming(fps[1], fps[3])


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup family
# ---------------------------------------------------------------------------


@pytest.fixture()
def vecs(spark):
    """8-dim embeddings: 1≈2 (tiny perturbation), 3 = scaled copy of 1
    (cosine 1.0), 4/5 unrelated directions."""
    rows = [
        (1, [1.0, 0.5, -0.2, 0.8, 0.0, 0.3, -0.7, 0.1]),
        (2, [1.01, 0.49, -0.21, 0.8, 0.01, 0.3, -0.69, 0.1]),
        (3, [2.0, 1.0, -0.4, 1.6, 0.0, 0.6, -1.4, 0.2]),
        (4, [-0.9, 0.1, 0.8, -0.3, 0.5, -0.6, 0.2, 0.9]),
        (5, [0.0, -1.0, 0.0, 0.2, -0.8, 0.1, 0.9, -0.4]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_cosine_pairs_exact(spark, vecs):
    from mknssh_11_bigdata_spark.operators.dedup import embedding_cosine_pairs

    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_cosine_pairs(
            vecs, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    assert pairs[(1, 2)] > 0.99
    assert pairs[(1, 3)] == 1.0  # scaled copy: cosine exactly 1
    assert (2, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_embedding_lsh_recall_on_planted_near_dups(spark, vecs):
    from mknssh_11_bigdata_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_near_dup_pairs,
    )

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            vecs, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            vecs,
            "vec_id",
            "embedding",
            dim=8,
            threshold=0.95,
            n_bits=16,
            bands=8,
        ).collect()
    }
    # verified candidates are a subset of the exact result…
    assert approx <= exact
    # …and cosine≈1 planted dups agree on nearly every sign bit, so the
    # banded buckets must recover them (recall 1.0 on this fixture).
    assert approx == exact


def test_srp_rows_per_band_n_scaled_geometry():
    """VERDICT r2 #3: band width derives from corpus size — smallest r
    from the {8,16,32} ladder keeping expected random bucket load
    n/2^r ≤ 64 — so the 8-bit demo geometry never runs on the ≥100k
    corpora where BASELINE measured it saturating (100.6M pairs)."""
    from mknssh_11_bigdata_spark.operators.dedup import srp_rows_per_band

    assert srp_rows_per_band(0) == 8
    assert srp_rows_per_band(500) == 8
    assert srp_rows_per_band(64 * 256) == 8  # boundary: load exactly 64
    assert srp_rows_per_band(64 * 256 + 1) == 16
    assert srp_rows_per_band(100_000) == 16  # the measured saturation n
    assert srp_rows_per_band(64 * 65536) == 16
    assert srp_rows_per_band(64 * 65536 + 1) == 32
    assert srp_rows_per_band(10**9) == 32  # clamped at n_bits
    # narrower signature clamps earlier
    assert srp_rows_per_band(10**9, n_bits=16) == 16
    # the returned width must DIVIDE n_bits, or the caller's
    # bands/rows recomputation silently runs a different geometry
    for n_bits in (16, 24, 32, 40, 48, 64):
        for n in (0, 10_000, 100_000, 10**7, 10**9):
            r = srp_rows_per_band(n, n_bits)
            assert n_bits % r == 0, (n, n_bits, r)
    assert srp_rows_per_band(100_000, n_bits=24) == 12  # not a 24-bit band


def test_embedding_near_dup_auto_bands_matches_pinned(spark, vecs):
    """bands=None on a small corpus resolves to the same 8-bit-band
    output as the pinned geometry (the oracle-compatibility contract)."""
    from mknssh_11_bigdata_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    kw = dict(dim=8, threshold=0.95, n_bits=16)
    pinned = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            vecs, "vec_id", "embedding", bands=2, **kw
        ).collect()
    }
    auto = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            vecs, "vec_id", "embedding", bands=None, **kw
        ).collect()
    }
    assert auto == pinned


def test_hyperplane_signatures_shape_and_determinism(spark, vecs):
    from mknssh_11_bigdata_spark.operators.dedup import hyperplane_signatures

    s1 = {
        r.vec_id: r.sig
        for r in hyperplane_signatures(
            vecs, "vec_id", "embedding", dim=8, n_bits=16
        ).collect()
    }
    s2 = {
        r.vec_id: r.sig
        for r in hyperplane_signatures(
            vecs, "vec_id", "embedding", dim=8, n_bits=16
        ).collect()
    }
    assert s1 == s2
    assert all(len(s) == 16 and set(s) <= {"0", "1"} for s in s1.values())
    # scaled copy has identical signs
    assert s1[1] == s1[3]


def test_rolling_fingerprint_order_sensitive(spark):
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.functions.text import rolling_fingerprint

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha  beta   gamma"),  # whitespace-insensitive
            (3, "gamma beta alpha"),  # order-sensitive
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    fps = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", rolling_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    assert fps[4] == 0


def test_duplicate_components_transitive_closure(spark):
    from mknssh_11_bigdata_spark.operators.dedup import duplicate_components

    # chain 1-2-3 (1≈2, 2≈3 but NOT 1≈3), separate pair 7-9, pair 4-8
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (8, 4)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.component for r in duplicate_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 4: 4, 8: 4}


def test_duplicate_components_long_chain_log_rounds(spark):
    """A planted 64-node path is the worst case for diameter-bound
    label propagation (63 rounds); the large-star/small-star algorithm
    must collapse it in O(log n) rounds — the property that makes
    connected components viable on a 100 TB boilerplate chain."""
    from mknssh_11_bigdata_spark.operators.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"]
    )
    stats: dict = {}
    out = {
        r.doc_id: r.component
        # driver_threshold=0 pins the DISTRIBUTED star loop — this test
        # certifies its round bound, which the r9 driver union-find arm
        # would otherwise bypass on a 63-edge graph.
        for r in duplicate_components(
            pairs, _stats=stats, driver_threshold=0
        ).collect()
    }
    assert set(out.values()) == {0}
    assert len(out) == 64
    assert stats["converged"]
    assert stats["rounds"] <= 8, stats  # log₂(64)=6 + slack, ≪ 63


def test_duplicate_components_driver_arm_matches_distributed(spark):
    """The measured-count-guarded driver union-find (r9 optimization)
    must produce EXACTLY the distributed star loop's labels — min doc
    id per component, one row per node that appears in any edge."""
    from mknssh_11_bigdata_spark.operators.dedup import (
        duplicate_components,
    )

    # chains, a cycle, a star, singleton pairs, duplicate + reversed
    # edges and self-loops (canonicalization must collapse them)
    raw = (
        [(i, i + 1) for i in range(10, 20)]
        + [(30, 31), (31, 32), (32, 30)]
        + [(40, 41), (40, 42), (40, 43)]
        + [(50, 51), (51, 50), (7, 7), (60, 61), (61, 60), (60, 61)]
    )
    pairs = spark.createDataFrame(raw, ["id_a", "id_b"])
    stats_drv: dict = {}
    drv = {
        (r.doc_id, r.component)
        for r in duplicate_components(pairs, _stats=stats_drv).collect()
    }
    dist = {
        (r.doc_id, r.component)
        for r in duplicate_components(
            pairs, driver_threshold=0
        ).collect()
    }
    assert stats_drv.get("driver_collapse") is True
    assert stats_drv["converged"] and stats_drv["rounds"] == 0
    assert drv == dist
    # self-loop node 7 must NOT appear (no real edge)
    assert all(d != 7 for d, _ in drv)


def test_hot_bucket_guard_drops_pathological_bucket(spark):
    """A boilerplate cluster (many identical docs) floods one LSH bucket;
    with max_bucket_size set, its O(k²) pairs are excluded while a small
    distinct near-dup pair elsewhere still comes through."""
    boiler = [(i, "identical boilerplate text repeated verbatim " * 3)
              for i in range(100, 140)]
    docs = spark.createDataFrame(
        boiler + [(1, BASE), (3, NEAR)], ["doc_id", "text"]
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    uncapped = lsh_candidate_pairs(sigs, "doc_id").collect()
    capped = lsh_candidate_pairs(
        sigs, "doc_id", max_bucket_size=10
    ).collect()
    boiler_ids = {i for i, _ in boiler}
    assert any(r.id_a in boiler_ids for r in uncapped)  # flood present
    assert not any(
        r.id_a in boiler_ids or r.id_b in boiler_ids for r in capped
    )
    assert {(r.id_a, r.id_b) for r in capped} == {(1, 3)}  # planted pair kept


def test_chunk_dedup_removes_repeats_and_rebuilds(spark):
    from mknssh_11_bigdata_spark.operators.dedup import chunk_dedup

    c1 = " ".join(f"a{i}" for i in range(4))
    c2 = " ".join(f"b{i}" for i in range(4))
    c3 = " ".join(f"c{i}" for i in range(4))
    df = spark.createDataFrame(
        [
            # doc 1: two distinct chunks + 2-token tail
            (1, f"{c1} {c2} t1 t2"),
            # doc 2: repeats doc 1's first chunk, adds one new chunk
            (2, f"{c1} {c3}"),
            # doc 3: exact repeat of doc 2 -> loses both chunks
            (3, f"{c1} {c3}"),
            # doc 4: shorter than one chunk -> untouched tail only
            (4, "x y z"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in chunk_dedup(df, "doc_id", "text", chunk_size=4).collect()
    }
    assert out[1].n_chunks == 2 and out[1].n_removed == 0
    assert out[1].clean_n_tokens == 10  # everything kept
    assert out[2].n_chunks == 2 and out[2].n_removed == 1
    assert out[2].clean_n_tokens == 4  # c1 deduped away, c3 kept
    assert out[3].n_chunks == 2 and out[3].n_removed == 2
    assert out[3].clean_n_tokens == 0  # all chunks were repeats
    assert out[4].n_chunks == 0 and out[4].n_removed == 0
    assert out[4].clean_n_tokens == 3  # sub-chunk tail never removed
    # identical clean text hashes for identical survivors
    import hashlib

    assert (
        out[2].clean_md5 == hashlib.md5(c3.encode()).hexdigest()
    )


def test_fine_band_srp_finds_planted_high_cosine_pairs(spark):
    """16-bit-band SRP geometry: planted perturbed copies (cosine
    ≈ 0.9987) must be recovered at high rate, with zero pairs among
    the original corpus (max organic cosine ≈ 0.51 < threshold)."""
    from mknssh_11_bigdata_spark.queries_llm import (
        N_PLANTED,
        PLANT_COS_THRESHOLD,
        PLANT_ID_OFFSET,
        _planted_corpus,
    )
    from mknssh_11_bigdata_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from mknssh_11_bigdata_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = embedding_near_dup_pairs(
        _planted_corpus(emb),
        "vec_id",
        "v",
        dim=64,
        threshold=PLANT_COS_THRESHOLD,
        n_bits=32,
        bands=2,
    ).collect()
    n_avail = min(N_PLANTED, emb.count())
    planted_hits = {
        r["id_a"]
        for r in pairs
        if r["id_b"] == r["id_a"] + PLANT_ID_OFFSET
    }
    # SRP recall at cosine 0.9987 with 2x16-bit bands is ~0.95
    assert len(planted_hits) >= int(0.8 * n_avail)
    # no original-vs-original pair clears the 0.99 verification bar
    assert all(r["id_b"] >= PLANT_ID_OFFSET for r in pairs)
    assert all(r["cosine"] >= PLANT_COS_THRESHOLD for r in pairs)


def test_incremental_dedup_statuses(spark):
    from mknssh_11_bigdata_spark.operators.dedup import (
        incremental_dedup_status,
    )

    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, base),
            (5, "totally unrelated corpus text about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [
            # verbatim copy of corpus doc 1 -> exact_dup (note the
            # fingerprint NORMALIZES case/whitespace)
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            # one-token append to corpus doc 3 -> Jaccard 28/29 ≈ 0.97,
            # comfortably above both the LSH catch probability knee and
            # the 0.5 verify threshold -> near_dup
            (102, base + " extra"),
            # nothing like the corpus -> new
            (104, "completely fresh document with novel content here"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup_status(
            corpus, increment, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert rows[100] == ("exact_dup", 1)
    assert rows[102] == ("near_dup", 3)
    assert rows[104] == ("new", None)


def test_containment_catches_excerpt_lsh_misses_it(spark):
    """A 10-token excerpt of a long document: containment 1.0 at low
    Jaccard — rare-shingle blocking + containment finds it; the
    MinHash-LSH near-dup pipeline does not (by design)."""
    from mknssh_11_bigdata_spark.operators.dedup import (
        containment_pairs,
        minhash_dedup_pairs,
        rare_shingle_candidates,
    )

    long_doc = " ".join(f"tok{i}" for i in range(60))
    excerpt = " ".join(f"tok{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, long_doc), (2, excerpt), (3, OTHER)], ["doc_id", "text"]
    )
    cands = rare_shingle_candidates(df, "doc_id", "text", max_df=4)
    got = {
        (r.id_a, r.id_b): (r.containment, r.jaccard)
        for r in containment_pairs(
            df, "doc_id", "text", threshold=0.9, candidates=cands
        ).collect()
    }
    assert (1, 2) in got
    cont, jac = got[(1, 2)]
    assert cont == 1.0
    assert jac < 0.2
    assert not any(3 in p for p in got)
    # the Jaccard pipeline must NOT report this pair at its threshold
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            df, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert (1, 2) not in lsh


def test_tfidf_rescore_lsh_contained_in_exact_arm(spark):
    """Semantic link between the two registered tf-idf arms: the
    composed LSH→re-score path may only MISS pairs (LSH recall), never
    invent or mis-score one — its output must be a subset of the exact
    inverted-index arm's pairs with bit-equal rounded cosines on the
    intersection, at identical thresholds."""
    from mknssh_11_bigdata_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["id_a"], r["id_b"]): (r["cosine"], r["n_shared"])
        for r in QUERIES["dedup_tfidf_cosine"].spark(spark, sf).collect()
    }
    rescored = {
        (r["id_a"], r["id_b"]): (r["cosine"], r["n_shared"])
        for r in QUERIES["dedup_tfidf_rescore_lsh"]
        .spark(spark, sf)
        .collect()
    }
    assert rescored, "planted duplicates must survive LSH at sf0.001"
    missing = set(rescored) - set(exact)
    assert missing == set(), f"rescore invented pairs: {missing}"
    for pair, (cos, n) in rescored.items():
        assert exact[pair] == (cos, n), (pair, exact[pair], (cos, n))


def test_kcore_peel_planted_graph(spark):
    """A pendant chain peels away entirely; a triangle and a 4-clique
    survive with their full degrees; a chain longer than max_rounds
    does NOT fully peel (the documented bounded-round semantics)."""
    from mknssh_11_bigdata_spark.operators.dedup import kcore_peel

    # triangle 1-2-3, 4-clique 10-13, chain 20-24 hanging off node 1
    tri = [(1, 2), (2, 3), (1, 3)]
    clique = [
        (a, b) for a in range(10, 14) for b in range(a + 1, 14)
    ]
    chain = [(1, 20), (20, 21), (21, 22), (22, 23), (23, 24)]
    edges = spark.createDataFrame(
        tri + clique + chain, ["id_a", "id_b"]
    )
    core = kcore_peel(edges, k=2, max_rounds=8)
    got = {tuple(r) for r in core.collect()}
    assert got == set(tri) | set(clique)

    # 3-core: the triangle dies too, only the 4-clique survives
    core3 = {tuple(r) for r in kcore_peel(edges, k=3, max_rounds=8).collect()}
    assert core3 == set(clique)

    # bounded rounds: a 12-edge path needs 6 peel rounds end-in;
    # max_rounds=2 must leave the middle intact (capped, not fixpoint)
    path = [(i, i + 1) for i in range(100, 112)]
    pdf = spark.createDataFrame(path, ["id_a", "id_b"])
    partial = kcore_peel(pdf, k=2, max_rounds=2)
    assert partial.count() > 0
    full = kcore_peel(pdf, k=2, max_rounds=8)
    assert full.count() == 0


def test_minhash_pair_graph_artifact_semantics(spark, tmp_path):
    """The persisted pair graph must (a) be bit-identical to the
    inline chain, (b) serve the SECOND call from the artifact without
    rebuilding it, and (c) rebuild when the source data changes (the
    fingerprint key), rather than serving a stale graph."""
    import pathlib
    import shutil

    from mknssh_11_bigdata_spark.queries_llm import (
        BANDS,
        JACCARD_THRESHOLD,
        LSH_MAX_BUCKET,
        NUM_HASHES,
        minhash_dedup_pairs,
        minhash_pair_graph,
    )
    from mknssh_11_bigdata_spark.sources.readers import load_table

    warehouse_dir = (
        pathlib.Path(minhash_pair_graph.__code__.co_filename)
        .resolve()
        .parent.parent
        / "spark-warehouse"
    )
    pre_existing = set(warehouse_dir.glob("minhash_pairs_*"))

    src = tmp_path / "corpus"
    src.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        src / "documents.parquet",
    )
    sf_dir = str(src)

    got = {tuple(r) for r in minhash_pair_graph(spark, sf_dir).collect()}
    inline = {
        tuple(r)
        for r in minhash_dedup_pairs(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            num_hashes=NUM_HASHES,
            bands=BANDS,
            shingle_n=3,
            threshold=JACCARD_THRESHOLD,
            max_bucket_size=LSH_MAX_BUCKET,
        ).collect()
    }
    assert got == inline and got  # (a) bit-identical, non-empty

    arts = sorted(
        p for p in warehouse_dir.glob("minhash_pairs_*") if p.is_dir()
    )
    mtimes = {p: (p / "_SUCCESS").stat().st_mtime_ns for p in arts}
    again = {tuple(r) for r in minhash_pair_graph(spark, sf_dir).collect()}
    assert again == got
    for p, m in mtimes.items():  # (b) no rebuild on the second call
        assert (p / "_SUCCESS").stat().st_mtime_ns == m

    # (c) regenerate the source: halve the corpus IN PLACE — the
    # fingerprint (file stats) changes, so a NEW artifact is built and
    # the served graph reflects the new data, not the old cache
    half = (
        spark.read.parquet(str(src / "documents.parquet"))
        .filter("doc_id % 2 = 0")
        .collect()
    )
    shutil.rmtree(src / "documents.parquet", ignore_errors=True)
    (src / "documents.parquet").unlink(missing_ok=True)
    spark.createDataFrame(half).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "documents.parquet"))
    refreshed = {
        tuple(r) for r in minhash_pair_graph(spark, sf_dir).collect()
    }
    ids = {r[0] for r in refreshed} | {r[1] for r in refreshed}
    assert all(i % 2 == 0 for i in ids)  # no stale odd-doc pairs

    # tidy: drop the artifacts this test's throwaway corpora created
    for p in set(warehouse_dir.glob("minhash_pairs_*")) - pre_existing:
        shutil.rmtree(p, ignore_errors=True)


def test_pair_graph_declared_schemas_match_the_artifacts(spark):
    """The persisted pair graphs are read with DECLARED schemas, so the
    read runs no footer-inference job. Each declared schema must equal
    the one in the artifact's files, or a change to the chain's output
    types would be read back wrongly without anyone noticing."""
    from mknssh_11_bigdata_spark.queries_llm import (
        MINHASH_PAIRS_SCHEMA,
        SRP_PAIRS_SCHEMA,
        minhash_pair_graph,
        srp_pair_graph,
    )

    sf = "/root/testdata/sf0.001"
    for graph, declared in (
        (minhash_pair_graph, MINHASH_PAIRS_SCHEMA),
        (srp_pair_graph, SRP_PAIRS_SCHEMA),
    ):
        files = graph(spark, sf).inputFiles()
        assert (
            spark.read.schema(declared).parquet(*files).schema
            == spark.read.parquet(*files).schema
        )


def test_hash_family_digest_keys_the_artifact(monkeypatch):
    """ADVICE r3: the pair-graph cache key must change when the
    code-level hash-family constants change (seed stream, modulus,
    SRP target load) — not just when the geometry params or the source
    fingerprint do. The digest is the key's hash-family segment."""
    from mknssh_11_bigdata_spark.operators import dedup as D

    base = D.hash_family_digest()
    assert len(base) == 8 and base == D.hash_family_digest()  # stable

    # a modulus edit is the canonical "silent stale graph" hazard
    monkeypatch.setattr(D, "MINHASH_P", D.MINHASH_P - 4)
    assert D.hash_family_digest() != base
    monkeypatch.undo()

    # the SRP band-ladder target load is also family-defining
    monkeypatch.setattr(
        D, "SRP_AUTO_TARGET_BUCKET_ROWS", D.SRP_AUTO_TARGET_BUCKET_ROWS * 2
    )
    assert D.hash_family_digest() != base
    monkeypatch.undo()
    assert D.hash_family_digest() == base

    # ADVICE r4: the digest must probe the PRODUCTION geometry, not a
    # fixed prefix — a change visible only in later stream draws (e.g.
    # a larger hash count, a different embedding dim) must re-key
    from mknssh_11_bigdata_spark.queries_llm import (
        EMB_DIM,
        NUM_HASHES,
        SRP_BITS,
    )

    prod = D.hash_family_digest(NUM_HASHES, SRP_BITS, EMB_DIM)
    assert prod == D.hash_family_digest(NUM_HASHES, SRP_BITS, EMB_DIM)
    assert prod != D.hash_family_digest(NUM_HASHES + 1, SRP_BITS, EMB_DIM)
    assert prod != D.hash_family_digest(NUM_HASHES, SRP_BITS + 1, EMB_DIM)
    assert prod != D.hash_family_digest(NUM_HASHES, SRP_BITS, EMB_DIM * 2)

    # an index-dependent edit BEYOND the old fixed 32/4×8 probe prefix:
    # production-geometry probing sees it, the old prefix would not
    orig = D.hyperplane_coefficients

    def tweaked(n_bits, dim, seed=42):
        planes = orig(n_bits, dim, seed)
        if n_bits > 4 and dim > 8:  # past the old probe window
            planes[-1][-1] += 1.0
        return planes

    monkeypatch.setattr(D, "hyperplane_coefficients", tweaked)
    assert D.hash_family_digest(NUM_HASHES, SRP_BITS, EMB_DIM) != prod
    monkeypatch.undo()
    assert D.hash_family_digest(NUM_HASHES, SRP_BITS, EMB_DIM) == prod


def test_min_label_propagation_fixpoint_and_rounds(spark):
    """The Pregel superstep loop must (a) elect each component's
    minimum label at fixpoint, (b) prove fixpoint within a round count
    bounded by the component eccentricity + 1 (the no-change round),
    and (c) abort loudly past max_rounds on a high-diameter chain
    instead of returning a partial labeling."""
    import pytest
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        min_label_propagation,
    )

    # two components: a triangle {1,2,3} and an edge {10,11}; labels
    # encode priority (lower = better) — 3 is the triangle's best
    edges_ud = [(1, 2), (2, 3), (1, 3), (10, 11)]
    edges = spark.createDataFrame(
        edges_ud + [(b, a) for a, b in edges_ud], ["src", "dst"]
    )
    labels = spark.createDataFrame(
        [(1, 30), (2, 20), (3, 10), (10, 50), (11, 40)],
        ["node", "lbl"],
    ).withColumn("lbl", F.col("lbl").cast("long"))
    out, rounds, sizes = min_label_propagation(labels, edges, max_rounds=12)
    got = {r["node"]: r["lbl"] for r in out.collect()}
    assert got == {1: 10, 2: 10, 3: 10, 10: 40, 11: 40}
    # triangle eccentricity from node 3 is 1, edge's is 1 → one
    # improving round + the proving round
    assert rounds == 2
    # telemetry: round 1 saw all 5 labels; round 2 re-propagated the 3
    # that improved (1, 2 took the triangle min; 10 took the edge min)
    assert sizes == [5, 3]

    # a 20-node path whose best label sits at one end needs 19
    # improving rounds — must abort at max_rounds=12, loudly
    path = [(i, i + 1) for i in range(100, 119)]
    pedges = spark.createDataFrame(
        path + [(b, a) for a, b in path], ["src", "dst"]
    )
    plabels = spark.createDataFrame(
        [(n, n) for n in range(100, 120)], ["node", "lbl"]
    ).withColumn("lbl", F.col("lbl").cast("long"))
    with pytest.raises(RuntimeError, match="duplicate_components"):
        min_label_propagation(plabels, pedges, max_rounds=12)

    # ...and converge (in exactly diameter+1 rounds) when allowed to
    out2, rounds2, sizes2 = min_label_propagation(
        plabels, pedges, max_rounds=25
    )
    assert {r["lbl"] for r in out2.collect()} == {100}
    assert rounds2 == 20
    # telemetry: round 1's frontier is the full label set, then the
    # improving wave shrinks monotonically as the path saturates
    assert sizes2[0] == 20 and len(sizes2) == 20
    assert all(a >= b for a, b in zip(sizes2, sizes2[1:]))


def test_min_label_propagation_driver_arm_matches_distributed(spark):
    """The measured-count-armed driver superstep loop (r9) must return
    the SAME labels, round count, sizes telemetry — and the same
    non-convergence error — as the distributed loop."""
    import pytest
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        min_label_propagation,
    )

    edges_ud = [(1, 2), (2, 3), (1, 3), (10, 11), (4, 5), (5, 6)]
    edges = spark.createDataFrame(
        edges_ud + [(b, a) for a, b in edges_ud], ["src", "dst"]
    )
    labels = spark.createDataFrame(
        [(1, 30), (2, 20), (3, 10), (10, 50), (11, 40), (4, 9), (5, 8), (6, 7)],
        ["node", "lbl"],
    ).withColumn("lbl", F.col("lbl").cast("long"))
    dist = min_label_propagation(labels, edges, max_rounds=12)
    drv = min_label_propagation(
        labels,
        edges,
        max_rounds=12,
        n_labels=8,
        n_edges=12,
    )
    assert {tuple(r) for r in drv[0].collect()} == {
        tuple(r) for r in dist[0].collect()
    }
    assert drv[1] == dist[1] and drv[2] == dist[2]
    # schema parity: consumers join on these columns/types
    assert drv[0].schema == dist[0].schema

    # non-convergence must raise identically on the driver arm
    path = [(i, i + 1) for i in range(100, 119)]
    pedges = spark.createDataFrame(
        path + [(b, a) for a, b in path], ["src", "dst"]
    )
    plabels = spark.createDataFrame(
        [(n, n) for n in range(100, 120)], ["node", "lbl"]
    ).withColumn("lbl", F.col("lbl").cast("long"))
    with pytest.raises(RuntimeError, match="duplicate_components"):
        min_label_propagation(
            plabels, pedges, max_rounds=12, n_labels=20, n_edges=38
        )


def test_incremental_embedding_dedup_status_arms_and_cap(spark):
    """Planted certification of every routing arm of the SRP
    incremental probe — verbatim copy (cosine 1.0), perturbed near-dup
    above threshold, orthogonal new vector — plus the hot-bucket
    guard: a boilerplate cluster larger than max_bucket_size must be
    capped out of candidacy (its prober exits 'new'), exactly like the
    batch chain's guard."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        incremental_embedding_dedup_status,
    )

    dim = 8
    base = [1.0, 2.0, 3.0, 4.0, -1.0, -2.0, -3.0, -4.0]
    near = [x + (0.01 if i == 0 else 0.0) for i, x in enumerate(base)]
    ortho = [4.0, -3.0, 2.0, -1.0, 4.0, -3.0, 2.0, -1.0]
    hot = [5.0] * dim
    corpus_rows = [(0, base), (1, [2 * x for x in base])] + [
        (10 + i, hot) for i in range(6)  # boilerplate cluster, size 6
    ]
    inc_rows = [
        (100, list(base)),  # verbatim -> near_dup of 0
        (101, near),  # perturbed -> near_dup (cos ~ 0.9999)
        (102, ortho),  # orthogonal to base -> new
        (103, list(hot)),  # probes ONLY the capped cluster
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, v array<double>"
    )
    inc = spark.createDataFrame(inc_rows, "vec_id long, v array<double>")

    got = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in incremental_embedding_dedup_status(
            corpus, inc, "vec_id", "v", dim=dim, threshold=0.95,
            n_bits=32, bands=4,
        ).collect()
    }
    assert got[100] == ("near_dup", 0)
    assert got[101][0] == "near_dup"
    assert got[102] == ("new", None)
    assert got[103][0] == "near_dup"  # uncapped: the cluster matches

    # arm the cap below the cluster size: the hot bucket is dropped
    # from candidacy and its prober must exit 'new'
    capped = {
        r["vec_id"]: r["status"]
        for r in incremental_embedding_dedup_status(
            corpus, inc, "vec_id", "v", dim=dim, threshold=0.95,
            n_bits=32, bands=4, max_bucket_size=5,
        ).collect()
    }
    assert capped[103] == "new"
    assert capped[100] == "near_dup"  # small buckets unaffected


def test_embedding_index_probe_requires_pinned_geometry(spark):
    """A maintained band index pins its geometry; bands=None with an
    index would n-scale the INCREMENT's band widths independently and
    silently probe the wrong keys — must refuse loudly instead."""
    import pytest

    from mknssh_11_bigdata_spark.operators.dedup import (
        incremental_embedding_dedup_status,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])], "vec_id long, v array<double>"
    )
    idx = spark.createDataFrame(
        [(0, 0, "01")], "vec_id long, band_idx int, band_key string"
    )
    with pytest.raises(ValueError, match="pins the band geometry"):
        incremental_embedding_dedup_status(
            df, df, "vec_id", "v", dim=2, corpus_band_index=idx
        )


def test_leakage_safe_split_components_never_straddle(spark):
    """The no-leakage guarantee: every verified near-dup PAIR's two
    endpoints must land in the SAME split (split is a pure function of
    the component id), and the assignment must be deterministic across
    runs. The naive per-doc hash split demonstrably violates this on
    the same graph — asserted too, so the test proves the query adds
    a real property, not a vacuous one."""
    from mknssh_11_bigdata_spark.operators.relational import (
        deterministic_split,
    )
    from mknssh_11_bigdata_spark.queries_llm import (
        leakage_safe_split_assignments,
        minhash_pair_graph,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    a = leakage_safe_split_assignments(spark, sf)
    pairs = minhash_pair_graph(spark, sf)
    assert pairs.count() > 0  # the property must be exercised
    sa = a.select(F.col("doc_id").alias("id_a"), F.col("split").alias("s_a"))
    sb = a.select(F.col("doc_id").alias("id_b"), F.col("split").alias("s_b"))
    straddles = (
        pairs.join(sa, "id_a").join(sb, "id_b").filter("s_a <> s_b")
    )
    assert straddles.count() == 0

    # determinism across runs
    m1 = {r["doc_id"]: r["split"] for r in a.collect()}
    m2 = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split_assignments(spark, sf).collect()
    }
    assert m1 == m2

    # the naive per-doc split DOES straddle components on this graph —
    # i.e. the group routing is load-bearing, not vacuously true
    naive = deterministic_split(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id"),
        "doc_id",
    )
    na = naive.select(F.col("doc_id").alias("id_a"), F.col("split").alias("s_a"))
    nb = naive.select(F.col("doc_id").alias("id_b"), F.col("split").alias("s_b"))
    naive_straddles = (
        pairs.join(na, "id_a").join(nb, "id_b").filter("s_a <> s_b").count()
    )
    assert naive_straddles > 0


def test_semantic_leakage_split_components_never_straddle(spark):
    """Embedding-side no-leakage guarantee: every verified semantic
    near-dup pair's endpoints land in the same split (split is a pure
    function of the SRP component id)."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        duplicate_components,
    )
    from mknssh_11_bigdata_spark.operators.relational import (
        deterministic_split,
    )
    from mknssh_11_bigdata_spark.queries_llm import srp_pair_graph
    from mknssh_11_bigdata_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    pairs = srp_pair_graph(spark, sf)
    assert pairs.count() > 0  # the property must be exercised
    comp = duplicate_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "component"
    )
    e = load_table(spark, sf, "embeddings").select("vec_id")
    a = deterministic_split(
        e.join(F.broadcast(comp), "vec_id", "left").select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("group_id"),
        ),
        "group_id",
    )
    sa = a.select(F.col("vec_id").alias("id_a"), F.col("split").alias("s_a"))
    sb = a.select(F.col("vec_id").alias("id_b"), F.col("split").alias("s_b"))
    assert (
        pairs.join(sa, "id_a").join(sb, "id_b").filter("s_a <> s_b").count()
        == 0
    )


def test_hash_family_digest_defaults_track_production_geometry():
    """ADVICE r5: omitted geometry args must resolve to the production
    constants THEMSELVES, so a default-args caller can never compute a
    digest at stale geometry after a production bump."""
    from mknssh_11_bigdata_spark.operators import dedup as D
    from mknssh_11_bigdata_spark.queries_llm import (
        EMB_DIM,
        NUM_HASHES,
        SRP_BITS,
    )

    assert D.hash_family_digest() == D.hash_family_digest(
        NUM_HASHES, SRP_BITS, EMB_DIM
    )


def test_decontaminated_split_quarantines_every_hard_hit(spark):
    """VERDICT r5 missing #4: the decontamination-aware split must ACT
    on hard hits — (1) no doc with >= _QUARANTINE_HITS distinct eval
    n-grams lands on train (or val/test); (2) quarantine is
    group-level, so the no-straddle invariant survives the rerouting
    (every near-dup pair still shares one side); (3) the quarantine
    arm actually fires at this SF (non-vacuous); (4) soft hits keep
    their hash side (drop-hard / keep-soft, not drop-everything)."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.queries_analytics import (
        _QUARANTINE_HITS,
        decontaminated_split_assignments,
    )
    from mknssh_11_bigdata_spark.queries_llm import minhash_pair_graph

    sf = "/root/testdata/sf0.001"
    a = decontaminated_split_assignments(spark, sf).localCheckpoint(
        eager=True
    )

    # (1) every hard-hit doc is quarantined — none trains
    hard = a.filter(F.col("nhit") >= _QUARANTINE_HITS)
    assert hard.count() > 0  # (3) non-vacuous
    assert hard.filter("split <> 'quarantine'").count() == 0

    # (2) no straddle, quarantine included: group routing preserved
    pairs = minhash_pair_graph(spark, sf)
    sa = a.select(F.col("doc_id").alias("id_a"), F.col("split").alias("s_a"))
    sb = a.select(F.col("doc_id").alias("id_b"), F.col("split").alias("s_b"))
    # pairs touching the eval slice drop out (assignments cover the
    # non-eval corpus only) — the inner joins handle that
    assert (
        pairs.join(sa, "id_a").join(sb, "id_b").filter("s_a <> s_b").count()
        == 0
    )

    # (4) touched-but-not-hard docs in clean groups keep hash sides
    soft = a.filter(
        (F.col("nhit") > 0)
        & (F.col("nhit") < _QUARANTINE_HITS)
        & (F.col("split") != "quarantine")
    )
    assert soft.count() > 0
    assert {
        r["split"] for r in soft.select("split").distinct().collect()
    } <= {"train", "val", "test"}


def test_curation_decontaminated_split_composes_all_three_stages(spark):
    """VERDICT r6 next-round #4: the funnel-composed quarantine split
    must (1) cover EXACTLY the non-eval funnel survivors; (2) put no
    hard-hit doc outside quarantine (non-vacuously); (3) keep the
    split a pure function of the group (no-straddle survives the
    override, measured on the survivor-induced pair graph); (4) keep
    soft hits on their hash side."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.queries_analytics import (
        _CONTAM_EVAL_MOD,
        _CONTAM_EVAL_REM,
        _QUARANTINE_HITS,
        curation_decontaminated_assignments,
    )
    from mknssh_11_bigdata_spark.queries_curation import funnel_pass
    from mknssh_11_bigdata_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    a = curation_decontaminated_assignments(spark, sf).localCheckpoint(
        eager=True
    )

    # (1) coverage = non-eval funnel survivors, exactly
    d = load_table(spark, sf, "documents")
    want_ids = {
        r["doc_id"]
        for r in d.filter(
            (F.col("doc_id") % _CONTAM_EVAL_MOD) != _CONTAM_EVAL_REM
        )
        .filter(funnel_pass(F.col("text")))
        .select("doc_id")
        .collect()
    }
    got_ids = {r["doc_id"] for r in a.select("doc_id").collect()}
    assert got_ids == want_ids and want_ids

    # (2) every hard hit quarantined, non-vacuously
    hard = a.filter(F.col("nhit") >= _QUARANTINE_HITS)
    assert hard.count() > 0
    assert hard.filter("split <> 'quarantine'").count() == 0

    # (3) split is a pure function of group_id (no-straddle at group
    # granularity — pairs are a subset of groups by construction)
    assert (
        a.groupBy("group_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter("ns > 1")
        .count()
        == 0
    )

    # (4) soft hits in clean groups keep hash sides
    soft = a.filter(
        (F.col("nhit") > 0)
        & (F.col("nhit") < _QUARANTINE_HITS)
        & (F.col("split") != "quarantine")
    )
    assert soft.count() > 0
    assert {
        r["split"] for r in soft.select("split").distinct().collect()
    } <= {"train", "val", "test"}


def test_pair_source_crosstab_counts_unordered_pairs_once(spark):
    """Contract pins for the source cross-tab: every verified pair
    contributes exactly one row-count to exactly one NORMALIZED
    (source_a <= source_b) cell; totals across cells equal the pair
    count whose docs resolve to sources; jaccard mass sums in exact
    integer micro-units."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.queries_curation import (
        dedup_pair_source_crosstab,
    )
    from mknssh_11_bigdata_spark.queries_llm import minhash_pair_graph

    sf = "/root/testdata/sf0.001"
    out = dedup_pair_source_crosstab(spark, sf).collect()
    assert out  # non-vacuous at this SF
    for r in out:
        assert r["source_a"] <= r["source_b"]  # normalized exactly once
        assert r["n_pairs"] >= 1
        # per-pair jaccard is in [threshold, 1] -> micro sums bounded
        assert (
            700000 * r["n_pairs"]
            <= r["sum_jaccard_micro"]
            <= 1000000 * r["n_pairs"]
        )
    assert sum(r["n_pairs"] for r in out) == minhash_pair_graph(
        spark, sf
    ).count()


def test_driver_threshold_zero_disables_even_on_empty_graph(spark):
    """driver_threshold=0 is documented as 'disables the driver arm';
    an EMPTY edge list must still take the distributed path (0 <= 0
    previously slipped through the guard — post-r9-review pin)."""
    from mknssh_11_bigdata_spark.operators.dedup import (
        duplicate_components,
        min_label_propagation,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    stats: dict = {}
    out = duplicate_components(
        empty, _stats=stats, driver_threshold=0
    ).collect()
    assert out == []
    assert stats.get("driver_collapse") is None, stats
    assert stats["rounds"] >= 1  # the distributed loop actually ran

    labels = spark.createDataFrame([], "node long, lbl long")
    edges = spark.createDataFrame([], "src long, dst long")
    _, rounds, _ = min_label_propagation(
        labels, edges, n_labels=0, n_edges=0, driver_threshold=0
    )
    assert rounds >= 1  # distributed superstep, not the driver sim
