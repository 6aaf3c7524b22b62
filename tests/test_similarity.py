"""Similarity-search tests: brute force is the oracle; IVF must trade
recall for scan reduction sanely."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mknssh_11_bigdata_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    kmeans_centroids,
)
from mknssh_11_bigdata_spark.sources.readers import load_table

from conftest import SF_SMOKE

K = 5
N_QUERIES = 10


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


def test_brute_force_contract(spark, emb):
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = brute_force_topk(emb, queries, "vec_id", "embedding", k=K)
    rows = out.collect()
    assert len(rows) == N_QUERIES * K
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, K + 1))
        # self excluded, cosine non-increasing
        assert all(r.neighbor_id != q for r in rs)
        sims = [r.cosine for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=K)
    approx = ivf_topk(
        emb, queries, "vec_id", "embedding", k=K, n_centroids=16, n_probe=8
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing half the cells: decent-but-not-perfect recall expected
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
    # every approx hit must be a real corpus row with rank sanity
    for r in approx.collect():
        assert r.rank <= K and r.neighbor_id != r.query_id


def test_kmeans_centroids_deterministic_and_shaped(spark, emb):
    c1 = kmeans_centroids(emb, "vec_id", "embedding", n_centroids=8, iters=2)
    c2 = kmeans_centroids(emb, "vec_id", "embedding", n_centroids=8, iters=2)
    r1 = sorted(c1.collect(), key=lambda r: r.centroid_id)
    r2 = sorted(c2.collect(), key=lambda r: r.centroid_id)
    # bit-identical across runs (fixed init, iterations, rounding)
    assert [(r.centroid_id, r["__cent"]) for r in r1] == [
        (r.centroid_id, r["__cent"]) for r in r2
    ]
    assert [r.centroid_id for r in r1] == list(range(8))
    dim = len(r1[0]["__cent"])
    assert all(len(r["__cent"]) == dim for r in r1)


def test_ivf_kmeans_recall_at_least_min_id_centroids(spark, emb):
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=K)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    def recall(approx_df):
        s = {(r.query_id, r.neighbor_id) for r in approx_df.collect()}
        return len(exact_set & s) / len(exact_set)

    cents = kmeans_centroids(
        emb, "vec_id", "embedding", n_centroids=16, iters=2
    )
    km = recall(
        ivf_topk(
            emb, queries, "vec_id", "embedding", k=K, n_probe=8,
            centroids=cents,
        )
    )
    assert km >= 0.5, f"k-means IVF recall {km:.2f} too low"


def test_quantized_topk_contract_and_recall(spark, emb):
    from mknssh_11_bigdata_spark.operators.similarity import quantized_topk

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=K)
    quant = quantized_topk(emb, queries, "vec_id", "embedding", k=K)
    rows = quant.collect()
    assert len(rows) == N_QUERIES * K
    # integer dot products are exact int64, cosine within [-1, 1]
    for r in rows:
        assert isinstance(r.qdot, int)
        assert -1.0 <= r.qcos <= 1.0
        assert r.neighbor_id != r.query_id
    # int8 keeps most of the true neighborhood: recall@K vs brute force
    truth = {
        (r.query_id, r.neighbor_id) for r in exact.collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"int8 recall@{K} too low: {recall}"


def test_quantize_int8_roundtrip_error_bound(spark, emb):
    from mknssh_11_bigdata_spark.functions.vectors import (
        max_abs,
        quantize_int8,
    )

    q8 = (
        emb.withColumn("__amax", max_abs(F.col("embedding")))
        .filter(F.col("__amax") > 0)
        .withColumn(
            "__qv", quantize_int8(F.col("embedding"), F.col("__amax"))
        )
    )
    checked = q8.select(
        F.array_max(
            F.transform(F.col("__qv"), lambda q: F.abs(q))
        ).alias("qmax"),
        F.array_max(
            F.zip_with(
                F.col("embedding"),
                F.col("__qv"),
                lambda x, q: F.abs(
                    x.cast("double") - q * F.col("__amax") / 127.0
                ),
            )
        ).alias("err"),
        (F.col("__amax") / 254.0).alias("half_step"),
    ).collect()
    assert len(checked) > 0
    for r in checked:
        assert r.qmax <= 127
        # half-up rounding error is at most half a quantization step
        assert r.err <= r.half_step + 1e-12


def test_nearest_centroid_expr_matches_crossjoin_argmax(spark):
    """The literal-model projection must reproduce the reference
    crossJoin + max_by(struct(sim, -cid)) assignment exactly —
    including ties (equal rounded cosine → smaller centroid id) and
    unsorted centroid input (the expr sorts by id internally)."""
    import random

    from mknssh_11_bigdata_spark.functions.vectors import cosine_similarity
    from mknssh_11_bigdata_spark.operators.similarity import (
        nearest_centroid_expr,
    )

    rng = random.Random(7)
    dim = 8
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(200)
    ]
    # zero-norm vector: every cosine is NULL (denom guard) — assignment
    # must fall back to the smallest centroid id, matching the numpy
    # argmax-over--inf arm and the oracles' NULLS LAST, cid ASC order
    rows.append((200, [0.0] * dim))
    # plant exact ties: duplicate centroid vectors under different ids
    base = [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
    cents = [
        (3, list(base)),
        (1, list(base)),  # tie with cid 3 → must pick 1
        (2, [round(rng.uniform(-1, 1), 3) for _ in range(dim)]),
        (0, [round(rng.uniform(-1, 1), 3) for _ in range(dim)]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {
        r["id"]: r["cid"]
        for r in df.select(
            "id",
            nearest_centroid_expr(F.col("v"), cents, "int").alias("cid"),
        ).collect()
    }
    cdf = spark.createDataFrame(cents, "cid int, cent array<double>")
    want = {
        r["id"]: r["cid"]
        for r in df.crossJoin(F.broadcast(cdf))
        .withColumn(
            "s",
            F.round(cosine_similarity(F.col("v"), F.col("cent")), 6),
        )
        .groupBy("id")
        .agg(
            F.max_by(
                F.col("cid"), F.struct(F.col("s"), -F.col("cid"))
            ).alias("cid")
        )
        .collect()
    }
    # the zero-norm row resolves to the smallest centroid id in the expr
    # form; the max_by reference leaves it engine-defined under all-NULL
    # ordering structs, so pin the expr and compare the rest pointwise
    assert got.pop(200) == 0
    want.pop(200, None)
    assert got == want
    # the planted tie must break toward the smaller id somewhere
    assert 1 in set(got.values())


def test_kmeans_sample_mod_is_deterministic_subset_fit(spark):
    """sample_mod fits on the id-slice only: fitting on the full frame
    vs pre-filtered slice must give identical centroids."""
    import random

    from mknssh_11_bigdata_spark.operators.similarity import (
        kmeans_centroids,
    )

    rng = random.Random(11)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(6)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    sliced = df.filter(F.col("id") % 3 == 0)
    a = kmeans_centroids(df, "id", "v", n_centroids=4, iters=2, sample_mod=3)
    b = kmeans_centroids(sliced, "id", "v", n_centroids=4, iters=2)
    ca = {r["centroid_id"]: r["__cent"] for r in a.collect()}
    cb = {r["centroid_id"]: r["__cent"] for r in b.collect()}
    assert ca == cb


def test_kmeans_fit_numpy_matches_jvm_fit(spark):
    """The driver-side numpy Lloyd fit must reproduce kmeans_centroids
    exactly (same init, tie-break, rounded means)."""
    import random

    import numpy as np

    from mknssh_11_bigdata_spark.operators.similarity import (
        kmeans_centroids,
        kmeans_fit_numpy,
    )

    rng = random.Random(23)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(6)])
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    jvm = {
        r["centroid_id"]: list(r["__cent"])
        for r in kmeans_centroids(df, "id", "v", n_centroids=5, iters=3).collect()
    }
    ids = [i for i, _ in rows]
    vecs = np.array([v for _, v in rows])
    np_fit = kmeans_fit_numpy(ids, vecs, n_centroids=5, iters=3)
    for cid in range(5):
        assert jvm[cid] == list(np_fit[cid]), f"centroid {cid} differs"


def test_semdedup_fit_mod_absolute_cap():
    """The fit stride must (a) bound the collected sample to an
    ABSOLUTE size at any corpus scale (the driver-OOM class VERDICT r3
    flagged: a fixed 1-in-4 fraction of 100 TB is not a sample), and
    (b) mirror the oracle's integer-arithmetic choice exactly."""
    import duckdb

    from mknssh_11_bigdata_spark.queries_llm import (
        SEMDEDUP_FIT_CAP,
        SEMDEDUP_FIT_MOD,
        _semdedup_fit_mod,
    )

    probe = [
        1,
        4,
        SEMDEDUP_FIT_CAP - 1,
        SEMDEDUP_FIT_CAP,
        SEMDEDUP_FIT_MOD * SEMDEDUP_FIT_CAP - 1,
        SEMDEDUP_FIT_MOD * SEMDEDUP_FIT_CAP,
        SEMDEDUP_FIT_MOD * SEMDEDUP_FIT_CAP + 1,
        10**8,
        10**8 + 7,
        10**12,  # ~100 TB of 1 KB rows
    ]
    con = duckdb.connect()
    for n in probe:
        mod = _semdedup_fit_mod(n)
        # dense ids 0..n-1 → slice size ceil(n/mod) ≤ CAP whenever the
        # cap term won (and ≤ n/FIT_MOD + 1 otherwise)
        slice_sz = -(-n // mod)
        assert slice_sz <= max(
            SEMDEDUP_FIT_CAP, -(-n // SEMDEDUP_FIT_MOD)
        )
        if n > SEMDEDUP_FIT_MOD * SEMDEDUP_FIT_CAP:
            assert slice_sz <= SEMDEDUP_FIT_CAP, (n, mod, slice_sz)
        sql_mod = con.execute(
            f"SELECT GREATEST({SEMDEDUP_FIT_MOD}, "
            f"({n} + {SEMDEDUP_FIT_CAP - 1}) // {SEMDEDUP_FIT_CAP})"
        ).fetchone()[0]
        assert mod == sql_mod, (n, mod, sql_mod)
    # at the test SFs the stride floor keeps behavior identical to the
    # pre-cap registry (mod stays FIT_MOD ⇒ no oracle-value churn)
    assert _semdedup_fit_mod(60_000) == SEMDEDUP_FIT_MOD


def test_semdedup_arms_agree(spark):
    """The interpreted-HOF arm and the Arrow/numpy arm must produce
    identical rows (same oracle, same semantics, different execution
    strategy)."""
    from mknssh_11_bigdata_spark.queries import QUERIES

    a = {
        tuple(r)
        for r in QUERIES["dedup_semdedup_prune"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    b = {
        tuple(r)
        for r in QUERIES["dedup_semdedup_prune_fast"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    assert a == b and len(a) > 0


def test_ivf_arrow_arm_matches_jvm_arm(spark):
    """The Arrow/numpy IVF arm must reproduce the JVM arm EXACTLY —
    same assignment ties (duplicate vectors), same probe order, same
    ranked output — including the zero-norm edge: NULL cosines (never
    NaN, which Spark would rank FIRST), so a zero vector never enters
    a top-k."""
    import random

    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_arrow,
    )

    rng = random.Random(11)
    dim = 16
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(300)
    ]
    rows[250] = (250, list(rows[7][1]))  # exact duplicate → cosine tie
    rows.append((300, [0.0] * dim))  # zero-norm corpus vector
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    queries = corpus.filter(F.col("vec_id") < 8).unionByName(
        corpus.filter(F.col("vec_id") == 300)  # zero-norm QUERY too
    )
    jvm = {
        tuple(r)
        for r in ivf_topk(
            corpus, queries, "vec_id", "v", k=5
        ).collect()
    }
    arrow = {
        tuple(r)
        for r in ivf_topk_arrow(
            corpus, queries, "vec_id", "v", k=5
        ).collect()
    }
    assert arrow == jvm and arrow
    # the zero-norm corpus vector must appear in NO result row
    assert all(r[2] != 300 for r in arrow)


def test_ivf_arrow_arm_corpus_smaller_than_n_probe(spark):
    """ADVICE r4: when the corpus yields fewer centroids than n_probe,
    the Arrow probe must clamp its width (the JVM arm just emits fewer
    probe rows) instead of crashing on a repeat/reshape length
    mismatch — and the two arms must still agree exactly."""
    import random

    from mknssh_11_bigdata_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_arrow,
    )

    rng = random.Random(5)
    dim = 8
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(3)  # 3 vectors < n_probe=4 (and < n_centroids)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    jvm = {
        tuple(r)
        for r in ivf_topk(
            corpus, corpus, "vec_id", "v", k=2, n_centroids=16, n_probe=4
        ).collect()
    }
    arrow = {
        tuple(r)
        for r in ivf_topk_arrow(
            corpus, corpus, "vec_id", "v", k=2, n_centroids=16, n_probe=4
        ).collect()
    }
    assert arrow == jvm and arrow


def test_pq_topk_contract_recall_and_compression(spark, emb):
    """Round 8: product-quantization ANN — (1) output contract (k rows
    per query, no self-match, rank sanity); (2) recall vs brute force
    must clear a floor sane for a 4x16 geometry on near-orthogonal
    synthetic vectors; (3) determinism: two runs are bit-identical
    (fit, encode, and score are all fixed-order); (4) the codebook
    model is geometry-sized (n_sub x n_codes entries of dim/n_sub)."""
    from mknssh_11_bigdata_spark.operators.similarity import (
        brute_force_topk,
        pq_codebooks,
        pq_topk,
    )

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=K)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    kwargs = dict(
        corpus=emb,
        queries=queries,
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        k=K,
        n_sub=4,
        n_codes=8,
        iters=2,
    )
    out1 = pq_topk(**kwargs).collect()
    out2 = pq_topk(**kwargs).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    per_query: dict[int, int] = {}
    for r in out1:
        assert r.neighbor_id != r.query_id
        assert 1 <= r.rank <= K
        per_query[r.query_id] = per_query.get(r.query_id, 0) + 1
    assert all(v == K for v in per_query.values())
    assert len(per_query) == N_QUERIES

    approx_set = {(r.query_id, r.neighbor_id) for r in out1}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 8 codes x 4 subspaces over near-orthogonal vectors is a coarse
    # quantizer; the floor pins "wired correctly", not "lossless"
    assert recall >= 0.2, f"PQ recall {recall:.2f} too low"

    books = pq_codebooks(emb, "vec_id", "embedding", 64, 4, 8, iters=2)
    assert len(books) == 4
    assert all(len(b) == 8 for b in books)
    assert all(len(c) == 16 for b in books for c in b)


def test_ivf_pq_contract_and_recall_vs_parents(spark, emb):
    """Round 8: the composed IVF-PQ index — output contract holds, runs
    are bit-identical, and recall is measured against BOTH parents:
    composing scan-pruning on top of quantization can only drop
    candidates, so IVF-PQ recall <= PQ recall must hold structurally;
    the floor pins the composition still finds signal."""
    from mknssh_11_bigdata_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        pq_topk,
    )

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=K)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    def recall(rows):
        s = {(r.query_id, r.neighbor_id) for r in rows}
        return len(exact_set & s) / len(exact_set)

    kwargs = dict(
        corpus=emb,
        queries=queries,
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        k=K,
        n_sub=4,
        n_codes=8,
        iters=2,
    )
    pq_rows = pq_topk(**kwargs).collect()
    out1 = ivf_pq_topk(n_centroids=8, n_probe=4, **kwargs).collect()
    out2 = ivf_pq_topk(n_centroids=8, n_probe=4, **kwargs).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    for r in out1:
        assert r.neighbor_id != r.query_id
        assert 1 <= r.rank <= K
    r_pq, r_ivfpq = recall(pq_rows), recall(out1)
    assert r_ivfpq >= 0.15, f"IVF-PQ recall {r_ivfpq:.2f} too low"
    # probing 4/8 cells of a PQ-scored corpus cannot beat full-scan PQ
    # on the same codes by more than rank-tie noise
    assert r_ivfpq <= r_pq + 1e-9, (r_ivfpq, r_pq)


def test_pq_distortion_flags_collapsed_corpus(spark, tmp_path):
    """Round 8: the PQ quality audit on a PLANTED collapsed corpus —
    every vector identical => each subspace must quantize onto exactly
    ONE code with full-corpus share and perfect reconstruction; and on
    the normal fixture corpus the audit must show spread codebooks
    (>1 code used, dominant share < 1e6 ppm). Pins that the
    utilization columns actually move with fit quality."""
    import math

    from mknssh_11_bigdata_spark.queries_llm import (
        EMB_DIM,
        embedding_pq_distortion,
    )

    base = [math.sin(i + 1) for i in range(EMB_DIM)]
    d = spark.createDataFrame(
        [(i, [float(x) for x in base]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    d.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = embedding_pq_distortion(spark, str(tmp_path)).collect()
    assert [r["subspace"] for r in out] == [0, 1, 2, 3]
    for r in out:
        assert r["n_codes_used"] == 1
        assert r["max_code_share_ppm"] == 10**6
        assert r["mean_cosine_ppm"] == 10**6  # identical => cos = 1
        assert r["min_cosine_ppm"] == 10**6

    healthy = embedding_pq_distortion(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert all(r["n_codes_used"] > 1 for r in healthy)
    assert all(r["max_code_share_ppm"] < 10**6 for r in healthy)


def test_ivf_probe_ranks_zero_norm_centroid_last(spark):
    """The literal array_sort probe must rank a NULL-cosine (zero-norm)
    centroid LAST — the window form's ``desc()`` NULLS-LAST semantics.
    Struct comparison orders a NULL field FIRST, so without the
    coalesce-to-+Inf the degenerate cell would be probed ahead of every
    real cell (post-r9-review regression pin: with n_probe=1 the query
    must probe the true nearest cell, not the empty one)."""
    from mknssh_11_bigdata_spark.operators.similarity import ivf_topk

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "centroid_id long, __cent array<double>",
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.05]), (20, [0.05, 1.0])],
        "vec_id long, v array<double>",
    )
    queries = spark.createDataFrame(
        [(99, [1.0, 0.1])], "vec_id long, v array<double>"
    )
    got = ivf_topk(
        corpus,
        queries,
        "vec_id",
        "v",
        k=1,
        n_centroids=3,
        n_probe=1,
        centroids=cents,
    ).collect()
    # probing cell 1 (nearest) finds corpus vec 10; probing the
    # zero-norm cell 0 would find nothing at all
    assert [(r["query_id"], r["neighbor_id"]) for r in got] == [(99, 10)]


def test_ivf_int8_probe_is_windowless_and_ranks_zero_norm_cell_last(spark):
    """``ivf_int8_topk`` probes through the same literal array_sort as
    ``ivf_topk``: its executed plan keeps only the ranking Window (the
    probe's row_number window and its exchange are gone), it has no
    more exchanges than ``ivf_topk`` on the same input, and a
    NULL-cosine centroid sorts LAST in both. Vector 0 is that centroid
    candidate: its amax is nonzero, so the int8 arm keeps it, but its
    squared norm underflows to 0, so every cosine against it is NULL.
    With n_probe=1 the query must probe cell 1 (vectors 1 and 10); the
    degenerate cell 0 holds only vector 0."""
    import re

    from mknssh_11_bigdata_spark.operators.similarity import ivf_int8_topk

    corpus = spark.createDataFrame(
        [
            (0, [1e-200, 1e-200]),
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (10, [1.0, 0.05]),
            (20, [0.05, 1.0]),
        ],
        "vec_id long, v array<double>",
    )
    queries = spark.createDataFrame(
        [(99, [1.0, 0.1])], "vec_id long, v array<double>"
    )
    kw = dict(k=2, n_centroids=3, n_probe=1)
    plans = {}
    for op in (ivf_topk, ivf_int8_topk):
        df = op(corpus, queries, "vec_id", "v", **kw)
        rows = [tuple(r) for r in df.collect()]
        assert [r[:3] for r in rows] == [(99, 1, 10), (99, 2, 1)], op
        plans[op] = df._jdf.queryExecution().executedPlan().toString()
    assert rows == [(99, 1, 10, 16207, 0.998499), (99, 2, 1, 16129, 0.994802)]
    windows = [
        ln for ln in plans[ivf_int8_topk].splitlines()
        if re.search(r"\bWindow \[", ln)
    ]
    assert windows and all("qcos" in ln for ln in windows), windows
    assert plans[ivf_int8_topk].count("Exchange") <= plans[
        ivf_topk
    ].count("Exchange")
