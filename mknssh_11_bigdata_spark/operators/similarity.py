"""Similarity search over embedding columns (``array<float>``).

North-star extension (BASELINE.json): approximate-nearest-neighbor over
an embedding column. Two strategies behind one output contract
``(query_id, rank, neighbor_id, cosine)``:

* ``brute_force_topk`` — exact: broadcast the query set, score every
  corpus row, rank per query. Linear in corpus size; the right baseline
  and the correctness oracle for recall tests.
* ``ivf_topk`` — IVF-style: deterministically pick centroids, assign
  corpus rows to their nearest centroid (one broadcast pass), probe only
  the ``n_probe`` nearest cells per query. Scan cost drops to
  ~n_probe/n_centroids of the corpus — the 100 TB path (a real system
  would k-means the centroids; deterministic pick keeps tests stable and
  the plumbing identical).

All math is JVM-side (``zip_with``/``aggregate`` fold in doubles,
left-to-right — deterministic and oracle-reproducible). No UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..functions.vectors import (
    cosine_similarity,
    dot,
    int_dot,
    l2_norm,
    lit_double_array,
    lit_double_matrix,
    lit_int_array,
    max_abs,
    quantize_int8,
)
from ..plans.layout import spread

__all__ = [
    "brute_force_topk",
    "ivf_topk",
    "ivf_topk_arrow",
    "kmeans_centroids",
    "quantized_topk",
    "ivf_int8_topk",
    "kcenter_coreset",
    "pq_codebooks",
    "pq_topk",
    "ivf_pq_topk",
]


def nearest_centroid_expr(
    vec: F.Column,
    cents: list[tuple[int, list[float]]],
    id_type: str = "int",
) -> F.Column:
    """Argmax-cosine centroid id as a single PROJECTION over a literal
    centroid table — the scan-shaped assignment plan.

    The centroid model is driver-side (k × dim floats — model-sized by
    construction, like any broadcast ML model), so assignment needs no
    join at all: per row, evaluate the k rounded cosines and take the
    max via lexicographic ``array_max`` over ``(sim, -centroid_id)``
    structs — identical values and tie-break (toward the smaller id) to
    the previous ``crossJoin + groupBy(max_by(struct(sim, -cid)))``
    form, which shuffled the ENTIRE corpus (vectors included) through a
    hash aggregate just to pick each row's best centroid. At 100 TB the
    corpus-side shuffle is the difference between a map-only stage and
    moving the whole embedding payload across the cluster.

    Sims are rounded to 6 digits first (repo float policy), so the SQL
    oracles reproduce the argmax bit-for-bit. ``id_type`` pins the
    returned id's type to what the caller's schema contract expects
    (``int`` for dense 0..k-1 model ids, ``long`` for corpus-row ids).
    """
    ordered = sorted(cents, key=lambda t: t[0])
    ids = [int(cid) for cid, _ in ordered]
    matrix = [[float(x) for x in cvec] for _, cvec in ordered]
    # ONE parsed-SQL literal (a single Py4J call): even F.lit(matrix)
    # costs one driver round-trip per ELEMENT (~0.4 s per 8x64 model —
    # measured r8), which dominated every literal-model query's wall.
    mat = lit_double_matrix(matrix)
    sims = F.transform(mat, lambda c: F.round(cosine_similarity(vec, c), 6))
    # First occurrence of the max = smallest position; with centroids
    # sorted by id, that reproduces max_by(struct(sim, -cid))'s
    # smaller-id tie-break exactly. A zero-norm vector yields all-NULL
    # sims (cosine's denom guard), so array_max/array_position are NULL
    # — coalesce to position 1 (the smallest centroid id), which is what
    # the max_by form, the numpy argmax-over--inf arm, and the oracles'
    # ORDER BY cos DESC NULLS LAST, cid ASC all resolve to.
    pos = F.coalesce(
        F.array_position(sims, F.array_max(sims)).cast("int"), F.lit(1)
    )
    return F.element_at(lit_int_array(ids), pos).cast(id_type)


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: score = cosine(query, corpus) for every pair.

    ``queries`` is broadcast (query sets are small by construction); the
    corpus is scanned once with no shuffle until the per-query ranking,
    which moves only scored rows. Cosine is rounded to 6 digits BEFORE
    ranking so rank order is reproducible across engines.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        )
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine",
        F.round(cosine_similarity(F.col("__qv"), F.col("__cv")), 6),
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    return _ranked(scored, k)


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    iters: int = 2,
    sample_mod: int = 1,
    round_to: int = 9,
) -> DataFrame:
    """Deterministic Lloyd k-means fit over the embedding column →
    ``(centroid_id, __cent)`` DataFrame consumable by :func:`ivf_topk`.

    Determinism contract (what makes this oracle-reproducible, unlike
    MLlib's randomized KMeans): init = the ``n_centroids`` smallest-id
    vectors; a FIXED number of iterations (no convergence test);
    assignment by cosine rounded to 6 digits with smaller-centroid-id
    tie-break; new centroids = per-dimension means rounded to
    ``round_to`` digits (so Spark's partial-agg summation order and any
    other engine's agree); empty clusters keep their previous centroid.

    Scale: each iteration is one broadcast-literal assignment pass +
    one (cid, dim) partial-agg shuffle; only k×dim means cross the
    driver per iteration — model-sized, like any distributed ML fit.
    At 100 TB fit on a deterministic slice via ``sample_mod`` (keep row
    iff ``id % sample_mod == 0``); assignment quality needs a sample,
    not the corpus.
    """
    spark = corpus.sparkSession
    fit = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if sample_mod > 1:
        fit = fit.filter(F.col(id_col) % sample_mod == 0)
    # Spread before the heavy per-row assignment expression: a compact
    # one-file fit input otherwise evaluates every interpreted-HOF
    # argmax on one core (see _pq_fit; no-op at real scale).
    fit = spread(fit)
    # The fit frame is consumed once for init and once per Lloyd
    # iteration; checkpoint so the scan+cast+shuffle runs once (lazy —
    # the init collect below materializes it, saving a separate job).
    # At 100 TB the fit input is the sample_mod slice — sized to be
    # materializable.
    fit = fit.localCheckpoint(eager=False)
    schema = StructType(
        [
            StructField("centroid_id", IntegerType()),
            StructField("__cent", ArrayType(DoubleType())),
        ]
    )
    init = fit.orderBy(F.col(id_col).asc()).limit(n_centroids).collect()
    cents: list[list[float]] = [list(r["__v"]) for r in init]
    for _ in range(iters):
        # Assignment is a PROJECTION against the literal centroid model
        # (nearest_centroid_expr) — each Lloyd iteration is exactly one
        # job: map-side argmax + one (cid, dim) partial-agg shuffle.
        # (The previous crossJoin + groupBy(id) form ran three shuffles
        # per iteration and moved every fit vector through a hash agg.)
        cid = nearest_centroid_expr(
            F.col("__v"), list(enumerate(cents)), id_type="int"
        )
        # (cid is computed in its own projection: a generator in the
        # same select forces Catalyst's generator extraction, which
        # renames the argmax struct's fields before resolution.)
        means = (
            fit.withColumn("cid", cid)
            .select("cid", F.posexplode("__v").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.round(F.avg("x"), round_to).alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["dim"]] = r["m"]
        cents = [
            [by_cid[i][d] for d in sorted(by_cid[i])]
            if i in by_cid
            else cents[i]
            for i in range(n_centroids)
        ]
    return spark.createDataFrame(list(enumerate(cents)), schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k.

    1. centroids := ``centroids`` if given (``(centroid_id, __cent)``,
       e.g. from :func:`kmeans_centroids`), else the ``n_centroids``
       corpus vectors with the smallest ids (deterministic stand-in —
       same plan either way).
    2. corpus rows → nearest centroid (broadcast centroids, row_number).
    3. queries → ``n_probe`` nearest centroids.
    4. score only corpus rows in probed cells; rank per query.

    Probing fraction n_probe/n_centroids bounds the scan. Recall is
    tested against ``brute_force_topk`` (tests/test_similarity.py).
    """
    # The centroid model is collected ONCE (k rows — model-sized) and
    # serves both consumers — corpus assignment AND query probing — as
    # literal matrices. One action total; float→double widening through
    # collect is exact, so the literals reproduce the in-plan cast
    # bit-for-bit.
    if centroids is not None:
        cent_rows = centroids.collect()
    else:
        cent_rows = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .orderBy(F.col(id_col).asc())
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("__cent"),
            )
            .collect()
        )
    cent_model = [
        (r["centroid_id"], list(r["__cent"])) for r in cent_rows
    ]
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        )
    )
    # Corpus assignment is a map-only projection against the literal
    # centroid model. Ties break toward the smaller centroid id
    # (matching the probe order). The previous crossJoin + groupBy form
    # shuffled every corpus VECTOR through a hash agg just to label it
    # with a cell id.
    assigned = c.select(
        "neighbor_id",
        "__cv",
        nearest_centroid_expr(
            F.col("__cv"), cent_model, id_type="long"
        ).alias("centroid_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    # Probe = top n_probe cells by (rounded cosine desc, id asc), as a
    # literal array_sort + slice + explode over the SAME centroid model
    # the assignment uses — ``ivf_pq_topk``'s probe shape (r8 "not yet"
    # list). The previous crossJoin(broadcast(cent)) + row_number form
    # paid a window Exchange on query_id plus a driver-built broadcast
    # frame; this one is a map-only projection over the query scan —
    # one fewer Exchange, no broadcast build. Values are identical:
    # rounded-6 cosine, ties toward the smaller centroid id (the
    # (-sim, cid) struct sort ≡ ORDER BY sim DESC, cid ASC). A NULL
    # cosine (zero-norm query or centroid) coalesces to +Inf so the
    # degenerate cell sorts LAST — struct comparison orders a NULL
    # field FIRST, which would otherwise invert the window form's
    # `desc()` NULLS-LAST and burn probe slots on empty cells
    # (post-round review finding; no certified dataset hits it).
    ordered = sorted(cent_model, key=lambda t: t[0])
    cent_mat = lit_double_matrix([list(cv) for _, cv in ordered])
    cent_ids = lit_int_array([cid for cid, _ in ordered])
    sims = F.transform(
        cent_mat,
        lambda cv: F.round(cosine_similarity(F.col("__qv"), cv), 6),
    )
    ranked_cells = F.slice(
        F.array_sort(
            F.zip_with(
                sims,
                cent_ids,
                lambda s_, i: F.struct(
                    F.coalesce(-s_, F.lit(float("inf"))).alias("neg"),
                    i.alias("cid"),
                ),
            )
        ),
        1,
        n_probe,
    )
    probed = q.select(
        "query_id",
        "__qv",
        F.explode(ranked_cells).alias("__pc"),
    ).select(
        "query_id", "__qv", F.col("__pc.cid").alias("centroid_id")
    )
    scored = assigned.join(probed, "centroid_id").withColumn(
        "cosine",
        F.round(cosine_similarity(F.col("__qv"), F.col("__cv")), 6),
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    return _ranked(scored, k)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Int8-quantized cosine top-k — the bandwidth/storage scale path.

    Symmetric per-vector max-abs quantization (``functions.vectors.
    quantize_int8``) shrinks a float32 embedding 4x; candidate scoring
    is then an EXACT int64 dot product, ranked by the quantized cosine
    ``qdot / (|q| · |n|)`` (norms also integer, so the only float ops
    are two sqrts and one divide — bit-reproducible cross-engine).

    Output: ``(query_id, rank, neighbor_id, qdot, qcos)``.

    Why it matters at 100 TB: a 1e9-vector corpus of 768-dim float32 is
    ~3 TB of embedding payload per scan; int8 cuts the scan (and every
    shuffle that carries vectors) to ~0.77 TB, and integer
    multiply-adds vectorize wider than float on every CPU. Plan shape
    is identical to ``brute_force_topk``: broadcast the (quantized)
    query set, scan-score the corpus, per-query ranking moves only
    scored rows. Zero vectors (amax == 0) are unquantizable and are
    dropped from both sides, mirrored by the oracle.
    """
    def q8(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        amax = max_abs(F.col(vec_col))
        return (
            df.withColumn("__amax", amax)
            .filter(F.col("__amax") > 0)
            .select(
                F.col(id_col).alias(out_id),
                quantize_int8(F.col(vec_col), F.col("__amax")).alias(
                    out_vec
                ),
            )
        )

    q = q8(queries, "query_id", "__qv")
    c = spread(q8(corpus, "neighbor_id", "__nv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("qdot", int_dot(F.col("__qv"), F.col("__nv")))
        .withColumn(
            "qcos",
            F.round(
                F.col("qdot")
                / (
                    F.sqrt(int_dot(F.col("__qv"), F.col("__qv")))
                    * F.sqrt(int_dot(F.col("__nv"), F.col("__nv")))
                ),
                6,
            ),
        )
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "qdot", "qcos")
    )


def ivf_int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """The production ANN composition: IVF cell pruning + int8 scoring.

    Cell assignment and probing use FLOAT cosine against the (min-id)
    centroids — centroid geometry should not inherit quantization
    error — while candidate scoring inside the probed cells is the
    exact-int64 quantized dot of :func:`quantized_topk`. Scan cost is
    bounded by n_probe/n_centroids AND every scanned vector is 4x
    smaller: the two levers compose. Unquantizable (zero) vectors are
    dropped from corpus, queries, and centroid election alike, so the
    deterministic contract (and the SQL oracle) is unchanged.

    Output: ``(query_id, rank, neighbor_id, qdot, qcos)``.
    """
    def q8(df: DataFrame, out_id: str) -> DataFrame:
        amax = max_abs(F.col(vec_col))
        return (
            df.withColumn("__amax", amax)
            .filter(F.col("__amax") > 0)
            .select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).cast("array<double>").alias("__v"),
                quantize_int8(F.col(vec_col), F.col("__amax")).alias(
                    "__q"
                ),
            )
        )

    # Same single-collect centroid model as ivf_topk: one action feeds
    # the literal assignment matrix AND the driver-built probe frame.
    cent_rows = (
        q8(corpus, "centroid_id")
        .orderBy(F.col("centroid_id").asc())
        .limit(n_centroids)
        .select("centroid_id", F.col("__v").alias("__cent"))
        .collect()
    )
    cent_model = [
        (r["centroid_id"], list(r["__cent"])) for r in cent_rows
    ]
    cent = corpus.sparkSession.createDataFrame(
        cent_model, "centroid_id long, __cent array<double>"
    )
    c = spread(q8(corpus, "neighbor_id"))
    # Map-only cell assignment against the literal centroid model —
    # same scan-shaped plan as ivf_topk: the quantized corpus payload
    # never shuffles for labeling.
    assigned = c.select(
        "neighbor_id",
        F.col("__q").alias("__nq"),
        nearest_centroid_expr(
            F.col("__v"), cent_model, id_type="long"
        ).alias("centroid_id"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__qsim").desc(), F.col("centroid_id").asc()
    )
    probed = (
        q8(queries, "query_id")
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "__qsim",
            F.round(cosine_similarity(F.col("__v"), F.col("__cent")), 6),
        )
        .withColumn("__rn", F.row_number().over(probe_w))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", F.col("__q").alias("__qq"), "centroid_id")
    )
    scored = (
        assigned.join(probed, "centroid_id")
        .withColumn("qdot", int_dot(F.col("__qq"), F.col("__nq")))
        .withColumn(
            "qcos",
            F.round(
                F.col("qdot")
                / (
                    F.sqrt(int_dot(F.col("__qq"), F.col("__qq")))
                    * F.sqrt(int_dot(F.col("__nq"), F.col("__nq")))
                ),
                6,
            ),
        )
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "qdot", "qcos")
    )


def round_half_away(x, digits: int):
    """NumPy round matching SQL ROUND (half AWAY from zero; ``np.round``
    is half-to-even). Vectorized; used by the Arrow/numpy scoring arms
    so their rounded values land in the same equivalence class as the
    JVM/DuckDB expressions."""
    import numpy as np

    s = 10.0**digits
    return np.copysign(np.floor(np.abs(x) * s + 0.5), x) / s


def kmeans_fit_numpy(ids, vecs, n_centroids: int, iters: int):
    """Driver-side deterministic Lloyd fit on a COLLECTED sample —
    the numpy twin of :func:`kmeans_centroids` under the identical
    determinism contract (smallest-id init, fixed iterations, rounded-6
    cosine assignment with first-max ⇒ smaller-cid ties, per-dimension
    means rounded to 9, empty clusters keep their centroid).

    The sample is bounded by the ``sample_mod`` contract (sized to be
    materializable), so fitting it driver-side is the standard
    distributed-ML pattern: model-sized data, model-sized output, zero
    cluster round-trips per iteration. Mean summation order differs
    from Spark's partial agg and DuckDB's — absorbed by the same
    round-to-9 the JVM fit already relies on (its docstring's
    cross-engine argument).

    Returns the centroid matrix as ``np.ndarray`` (k × dim), row index
    = centroid id.
    """
    import numpy as np

    ids = np.asarray(ids)
    order = np.argsort(ids, kind="stable")
    v = np.asarray(vecs, dtype=np.float64)[order]
    cents = v[:n_centroids].copy()
    for _ in range(iters):
        g = v @ cents.T
        nv = np.linalg.norm(v, axis=1, keepdims=True)
        nc = np.linalg.norm(cents, axis=1, keepdims=True)
        denom = nv @ nc.T
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, g / denom, -np.inf)
        sims = round_half_away(sims, 6)
        cid = sims.argmax(axis=1)  # first max ⇒ smaller centroid id
        for i in range(n_centroids):
            members = v[cid == i]
            if len(members):
                cents[i] = round_half_away(members.mean(axis=0), 9)
    return cents


def ivf_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """:func:`ivf_topk`, the Arrow/numpy production arm — IDENTICAL
    stage semantics (min-id centroid model, rounded-6 cosine argmax
    assignment with smaller-id ties, n_probe probing with the same
    ordering, candidate-sliver scoring, per-query ranking) but every
    dense-vector stage is a batch matmul over Arrow batches instead of
    Catalyst's interpreted higher-order-function folds — the identical
    swap :func:`queries_llm.dedup_semdedup_prune_fast` makes for
    SemDeDup, and the compute lever that complements int8's bandwidth
    lever: at 16 centroids × 64 dims the HOF assignment costs ~1000
    interpreted closure calls per ROW, the matmul ~1 BLAS call per
    ARROW BATCH.

    Float contract (the SemDeDup-arm acceptance class): cosines are
    rounded half-away to 6 digits (:func:`round_half_away`) before
    every compare/rank; BLAS vs left-to-right summation differs below
    the rounding scale. Zero-norm vectors score -inf everywhere, so
    assignment falls back to the smallest centroid id (the JVM/oracle
    NULLS-LAST behavior) and their candidate cosines surface as NULL
    (never NaN — Spark sorts NaN ABOVE every number, which would rank
    a zero vector first instead of last).

    Plan shape: two map-only Arrow stages (corpus assignment, query
    probe) + the centroid-id equi-join + one Arrow scoring stage + the
    per-query ranking window. The corpus moves through exactly one
    shuffle (the join), same as the JVM arm.
    """
    import numpy as np
    import pandas as pd

    cent_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .collect()
    )
    cent_ids = np.array([r[id_col] for r in cent_rows], dtype=np.int64)
    order = np.argsort(cent_ids, kind="stable")
    cent_ids = cent_ids[order]
    cmat = np.array(
        [list(cent_rows[i][vec_col]) for i in order], dtype=np.float64
    )
    bc = corpus.sparkSession.sparkContext.broadcast((cent_ids, cmat))

    def _sims(v: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
        nv = np.linalg.norm(v, axis=1, keepdims=True)
        nc = np.linalg.norm(c, axis=1, keepdims=True)
        denom = nv @ nc.T
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, (v @ c.T) / denom, -np.inf)
        return round_half_away(sims, 6)

    def assign(batches):
        ids, c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # first max ⇒ smallest position ⇒ smallest centroid id
            pos = _sims(v, c).argmax(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "centroid_id": ids[pos],
                    "__cv": list(v),
                }
            )

    assigned = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign, "neighbor_id long, centroid_id long, __cv array<double>"
    )

    def probe(batches):
        ids, c = bc.value
        # a corpus smaller than n_probe has fewer centroids than the
        # requested probe width — clamp, like the JVM arm's rank filter
        # just emits fewer probe rows (ADVICE r4: unclamped repeat vs
        # top's min(n_probe, n_centroids) columns crashed the reshape)
        p = min(n_probe, len(ids))
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = _sims(v, c)
            # stable argsort of -sims over the id-ASC-sorted matrix =
            # (sim DESC, centroid_id ASC) — the JVM probe_w ordering;
            # -inf (zero-norm query) ranks last = NULLS LAST
            top = np.argsort(-sims, axis=1, kind="stable")[:, :p]
            nq = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), p),
                    "centroid_id": ids[top].reshape(nq * p),
                    "__qv": [
                        list(row) for row in np.repeat(v, p, axis=0)
                    ],
                }
            )

    probed = queries.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        probe, "query_id long, centroid_id long, __qv array<double>"
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.stack(pdf["__qv"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["__cv"].to_numpy()).astype(np.float64)
            na = np.linalg.norm(a, axis=1)
            nb = np.linalg.norm(b, axis=1)
            denom = na * nb
            dot = np.einsum("ij,ij->i", a, b)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = round_half_away(dot / denom, 6)
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cosine": cos,
                }
            )
            # zero-norm pair → NULL (the JVM denom guard), NOT NaN:
            # Spark sorts NaN above every double, which would rank a
            # zero vector FIRST in the top-k window instead of last
            out.loc[denom <= 0, "cosine"] = None
            yield out

    scored = assigned.join(probed, "centroid_id").mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    return _ranked(scored, k)


def kcenter_coreset(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    scale: int = 1_000_000,
) -> DataFrame:
    """Greedy farthest-point k-center coreset over the embedding
    column — the classic 2-approximation (Gonzalez '85) that diversity-
    sampling curation passes use to pick a maximally-spread subset
    (coreset seeds, eval-panel selection, cluster-init that beats
    random). Returns the k selected rows as a small local frame
    ``(round, vec_id, dist_micro)`` where ``dist_micro`` is the
    selected point's squared-L2 distance to its nearest PRIOR center in
    integer micro-units — the non-increasing k-center radius sequence,
    selection order preserved.

    Determinism contract: seed = smallest ``id_col``; per-center
    squared-L2 distances fold left-to-right in doubles and are rounded
    to micro-units BEFORE the running min (so min/argmax compare exact
    integers); each round picks max distance with min-id tie-break,
    among rows at distance > 0 (centers and their verbatim duplicates
    never re-selected — a diversity pick skips exact copies); stops
    early if no row remains at distance > 0.

    Scale shape: the selected-center model is driver-side (k x dim
    doubles — model-sized, same contract as :func:`kmeans_centroids`),
    so each round is ONE map-shaped job over the once-checkpointed
    corpus: a LEAST-of-literal-distances projection plus a
    (max, min-id) argmax aggregation. No per-round corpus state is
    materialized and no join ever touches the vectors; total work is
    k scans of cached blocks with <= k distance evals per row. At
    100 TB, k passes over the embedding column is the floor for greedy
    k-center — and each pass here is exchange-free up to the scalar
    argmax."""
    base = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).localCheckpoint(eager=False)

    def dist_q(center: list[float]) -> F.Column:
        lit_v = lit_double_array([float(x) for x in center])
        d2 = F.aggregate(
            F.zip_with(
                F.col("__v"), lit_v, lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        return F.round(d2 * scale, 0).cast("long")

    seed = base.orderBy(F.col("vec_id").asc()).limit(1).collect()
    if not seed:
        return base.sparkSession.createDataFrame(
            [], "round int, vec_id long, dist_micro long"
        )
    centers: list[list[float]] = [list(seed[0]["__v"])]
    picked: list[tuple[int, int, int]] = [(0, int(seed[0]["vec_id"]), 0)]
    for rnd in range(1, k):
        mind = F.least(*[dist_q(c) for c in centers]) if len(
            centers
        ) > 1 else dist_q(centers[0])
        far = (
            base.select("vec_id", "__v", mind.alias("__d"))
            .where(F.col("__d") > 0)
            .orderBy(F.col("__d").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not far:
            break
        centers.append(list(far[0]["__v"]))
        picked.append((rnd, int(far[0]["vec_id"]), int(far[0]["__d"])))
    return base.sparkSession.createDataFrame(
        picked, "round int, vec_id long, dist_micro long"
    )


def _pq_fit(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int,
    n_codes: int,
    iters: int = 2,
    sample_mod: int = 1,
    full_k: int = 0,
    round_to: int = 9,
) -> tuple[list[list[list[float]]], list[list[float]]]:
    """Batched deterministic Lloyd fit for product quantization: all
    ``n_sub`` subspace codebooks (and, when ``full_k`` > 0, the coarse
    full-vector centroids IVF-PQ also needs) fitted in ONE job per
    iteration plus ONE init collect, instead of one 3-action
    :func:`kmeans_centroids` run per subspace.

    Numerically identical to the sequential per-subspace fits (same
    contract the oracles replay): init is the ``n`` smallest-id
    vectors — a subspace's init subvectors are slices of the SAME
    rows, so one collect serves every subspace and the coarse fit;
    assignment per subspace is the same rounded-cosine argmax
    projection; new centroids are per-(space, cluster, dim) means over
    exactly the multiset each independent fit averaged, rounded to
    ``round_to`` digits (the order-insensitivity contract). Empty
    clusters keep their previous centroid, as before.

    Per iteration the fit input is scanned once and exploded to
    (space, cid, dim, x) rows — the same total element count the
    sequential fits exploded across their separate jobs — then one
    partial-agg shuffle produces every space's means. Action count:
    1 + ``iters`` collects for the whole model, vs
    3 x (``n_sub`` [+1 coarse]) sequential."""
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_dim = dim // n_sub
    fit = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if sample_mod > 1:
        fit = fit.filter(F.col(id_col) % sample_mod == 0)
    # The per-iteration assignment is a heavy per-row expression (n_sub
    # argmax trees of interpreted HOF cosines) over a COMPACT input — a
    # one-file scan leaves every evaluation on one core. spread() is the
    # repo's fix for exactly this shape (no-op once the scan yields
    # >= cores splits at real scale).
    fit = spread(fit)
    # Consumed once per Lloyd iteration (plus init): checkpoint so the
    # scan+cast+shuffle runs once. At 100 TB the fit input is the
    # sample_mod slice — sized to be materializable.
    fit = fit.localCheckpoint(eager=False)
    n_init = max(n_codes, full_k)
    init = fit.orderBy(F.col(id_col).asc()).limit(n_init).collect()
    vecs = [list(r["__v"]) for r in init]
    books: list[list[list[float]]] = [
        [v[s * sub_dim : (s + 1) * sub_dim] for v in vecs[:n_codes]]
        for s in range(n_sub)
    ]
    full: list[list[float]] = [list(v) for v in vecs[:full_k]]
    for _ in range(iters):
        structs = [
            F.struct(
                nearest_centroid_expr(
                    F.slice(F.col("__v"), s * sub_dim + 1, sub_dim),
                    list(enumerate(books[s])),
                    id_type="int",
                ).alias("cid"),
                F.slice(F.col("__v"), s * sub_dim + 1, sub_dim).alias(
                    "sv"
                ),
            )
            for s in range(n_sub)
        ]
        if full_k:
            structs.append(
                F.struct(
                    nearest_centroid_expr(
                        F.col("__v"),
                        list(enumerate(full)),
                        id_type="int",
                    ).alias("cid"),
                    F.col("__v").alias("sv"),
                )
            )
        # Three selects on purpose: the assignment structs materialize
        # in their own projection before each posexplode (a generator
        # sharing a select with the argmax struct trips Catalyst's
        # generator extraction — see kmeans_centroids).
        means = (
            fit.select(F.array(*structs).alias("__spaces"))
            .select(F.posexplode("__spaces").alias("space", "__x"))
            .select(
                "space",
                F.col("__x.cid").alias("cid"),
                F.posexplode("__x.sv").alias("dim", "x"),
            )
            .groupBy("space", "cid", "dim")
            .agg(F.round(F.avg("x"), round_to).alias("m"))
            .collect()
        )
        by_space: dict[int, dict[int, dict[int, float]]] = {}
        for r in means:
            by_space.setdefault(r["space"], {}).setdefault(
                r["cid"], {}
            )[r["dim"]] = r["m"]
        for s in range(n_sub):
            got = by_space.get(s, {})
            books[s] = [
                [got[i][d] for d in sorted(got[i])]
                if i in got
                else books[s][i]
                for i in range(n_codes)
            ]
        if full_k:
            got = by_space.get(n_sub, {})
            full = [
                [got[i][d] for d in sorted(got[i])]
                if i in got
                else full[i]
                for i in range(full_k)
            ]
    return books, full


def pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int,
    n_codes: int,
    iters: int = 2,
    sample_mod: int = 1,
) -> list[list[list[float]]]:
    """Fit product-quantization codebooks: split the ``dim``-dim vector
    into ``n_sub`` contiguous subspaces and run the repo's
    DETERMINISTIC Lloyd fit (min-id init, fixed iterations,
    rounded-cosine assignment, rounded-9 means) on each subspace's
    subvectors independently — all subspaces batched into one job per
    iteration (:func:`_pq_fit`). Returns the model as plain Python
    lists (n_sub x n_codes x dim/n_sub floats) — like any broadcast ML
    model, the codebooks are model-sized by construction (n_sub x
    n_codes x sub_dim doubles), never corpus-shaped."""
    books, _ = _pq_fit(
        corpus,
        id_col,
        vec_col,
        dim,
        n_sub,
        n_codes,
        iters=iters,
        sample_mod=sample_mod,
    )
    return books


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_sub: int = 4,
    n_codes: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Product-quantization top-k with asymmetric-distance (ADC)
    scoring — the MEMORY-compression ANN arm beside int8's bandwidth
    cut and IVF's scan cut.

    Pipeline: (1) fit per-subspace codebooks (:func:`pq_codebooks`);
    (2) ENCODE each corpus vector as ``n_sub`` code ids via the same
    rounded-cosine argmax / min-id tie-break as every assignment in
    this module (``nearest_centroid_expr`` per subspace — a map-only
    projection against the literal codebook, no join, no shuffle); the
    row also carries its reconstruction self-dot, a second literal
    lookup; (3) per query, build the ADC LOOKUP TABLES — one
    ``n_codes``-entry array of subvector dots per subspace, model-sized
    work done once per query, not once per pair; (4) score every
    (query, corpus) pair as
    ``(lut0[c0] + lut1[c1] + ... ) / (|q| * sqrt(sum of code
    self-dots))`` — the reconstructed-vector cosine, but each pair
    costs ``n_sub`` array lookups + adds instead of a ``dim``-wide
    dot: 64 mult-adds become 4 lookups at this geometry.

    Why this is the 100 TB arm: the corpus-resident state after
    encoding is ``n_sub`` SMALL-INT CODES per vector (4 bytes here vs
    256 bytes of float32 — a 64x footprint cut, same order as a real
    IVF-PQ index), the codebooks are literals riding the closure, and
    the scoring scan is map-shaped until the per-query rank. Sums are
    written left-associated and every cosine rounds to 6 digits before
    ranking, so a SQL oracle replays the whole pipeline — fit included
    — bit-for-bit (the kmeans determinism contract).

    Approximate RECALL (quantization error), deterministic OUTPUT;
    recall vs :func:`brute_force_topk` is asserted in
    tests/test_similarity.py."""
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_dim = dim // n_sub
    books = pq_codebooks(
        corpus, id_col, vec_col, dim, n_sub, n_codes, iters=iters
    )

    def _sub(col: F.Column, s: int) -> F.Column:
        return F.slice(col, s * sub_dim + 1, sub_dim)

    # (2) encode: per subspace, argmax-cosine code + self-dot lookup
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
    )
    code_cols = []
    for s in range(n_sub):
        code_cols.append(
            nearest_centroid_expr(
                _sub(F.col("__cv"), s),
                list(enumerate(books[s])),
                id_type="int",
            ).alias(f"__code{s}")
        )
    enc = c.select("neighbor_id", *code_cols)
    # reconstruction self-dot: sum over subspaces of dot(code_vec,
    # code_vec), each a literal-array lookup; left-associated so the
    # oracle's (((n0 + n1) + n2) + n3) reproduces it exactly
    selfdots = [
        F.transform(lit_double_matrix(books[s]), lambda cv: dot(cv, cv))
        for s in range(n_sub)
    ]
    rnorm2 = F.element_at(selfdots[0], F.col("__code0") + 1)
    for s in range(1, n_sub):
        rnorm2 = rnorm2 + F.element_at(
            selfdots[s], F.col(f"__code{s}") + 1
        )
    enc = enc.withColumn("__rn2", rnorm2)

    # (3) per-query ADC lookup tables + query self-norm
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    def _lut(s: int):
        # closure factory, NOT a default-arg lambda: a two-argument
        # lambda makes pyspark's transform() pass the ARRAY INDEX as
        # the second argument, silently clobbering the subspace id
        def per_code(cv: F.Column) -> F.Column:
            return dot(_sub(F.col("__qv"), s), cv)

        return per_code

    lut_cols = [
        F.transform(lit_double_matrix(books[s]), _lut(s)).alias(f"__lut{s}")
        for s in range(n_sub)
    ]
    q = q.select(
        "query_id", l2_norm(F.col("__qv")).alias("__qn"), *lut_cols
    )

    # (4) scan: n_sub lookups + adds per pair, broadcast query side
    approx_dot = F.element_at(F.col("__lut0"), F.col("__code0") + 1)
    for s in range(1, n_sub):
        approx_dot = approx_dot + F.element_at(
            F.col(f"__lut{s}"), F.col(f"__code{s}") + 1
        )
    denom = F.col("__qn") * F.sqrt(F.col("__rn2"))
    scored = (
        spread(enc)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cosine",
            F.when(denom > 0, F.round(approx_dot / denom, 6)),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _ranked(scored, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 4,
    n_sub: int = 4,
    n_codes: int = 8,
    iters: int = 2,
) -> DataFrame:
    """IVF-PQ: the composed production index — the coarse k-means
    cells of :func:`ivf_topk` prune the SCAN (only ~n_probe/n_centroids
    of the corpus is scored per query) while product-quantization codes
    (:func:`pq_topk`) shrink what each scanned row COSTS (n_sub lookups
    instead of a dim-wide dot) and what it STORES (one small-int cell
    id + n_sub codes ≈ 8 bytes vs 4*dim). This is the FAISS
    ``IndexIVFPQ`` architecture re-expressed as DataFrame ops: every
    stage is a map-side projection against literal models (coarse
    centroids + codebooks) until the per-query rank.

    Encoding quantizes the RAW vector, not the cell residual — a
    by_residual=False IVF-PQ: residual encoding buys recall at the
    cost of per-cell LUTs (n_probe x n_sub x n_codes dots per query
    instead of n_sub x n_codes); with cosine ranking and the repo's
    shared-codebook determinism contract the raw-vector form keeps the
    oracle one composition instead of a per-cell unroll, and the
    recall delta is measured, not hidden (tests/test_similarity.py
    pins IVF-PQ recall against plain PQ and IVF).

    Deterministic end-to-end like both parents; same-oracle
    hash-certified via ``embedding_topk_ivf_pq``."""
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_dim = dim // n_sub
    # One batched fit: the coarse full-vector centroids ride the same
    # per-iteration job as the subspace codebooks (identical values to
    # the sequential kmeans_centroids + pq_codebooks runs — same init
    # rows, same assignment argmax, same rounded means).
    books, full = _pq_fit(
        corpus,
        id_col,
        vec_col,
        dim,
        n_sub,
        n_codes,
        iters=iters,
        full_k=n_centroids,
    )
    cents = [(i, cv) for i, cv in enumerate(full)]

    def _sub(col: F.Column, s: int) -> F.Column:
        return F.slice(col, s * sub_dim + 1, sub_dim)

    # corpus: ONE map-only projection — coarse cell + PQ codes + the
    # reconstruction self-dot, all against literal models
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
    )
    code_cols = [
        nearest_centroid_expr(
            _sub(F.col("__cv"), s),
            list(enumerate(books[s])),
            id_type="int",
        ).alias(f"__code{s}")
        for s in range(n_sub)
    ]
    enc = c.select(
        "neighbor_id",
        nearest_centroid_expr(F.col("__cv"), cents, "int").alias(
            "__cell"
        ),
        *code_cols,
    )
    selfdots = [
        F.transform(lit_double_matrix(books[s]), lambda cv: dot(cv, cv))
        for s in range(n_sub)
    ]
    rnorm2 = F.element_at(selfdots[0], F.col("__code0") + 1)
    for s in range(1, n_sub):
        rnorm2 = rnorm2 + F.element_at(
            selfdots[s], F.col(f"__code{s}") + 1
        )
    enc = enc.withColumn("__rn2", rnorm2)

    # queries: probed cells (top n_probe by rounded cosine, id ties
    # toward the smaller cell — (-sim, cid) struct sort; NULL cosine
    # coalesces to +Inf = ranked last, matching `desc()` NULLS LAST —
    # see ivf_topk's probe note) + ADC LUTs
    cent_mat = lit_double_matrix([cv for _, cv in sorted(cents)])
    cent_ids = lit_int_array([cid for cid, _ in sorted(cents)])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    sims = F.transform(
        cent_mat, lambda cv: F.round(cosine_similarity(F.col("__qv"), cv), 6)
    )
    ranked_cells = F.slice(
        F.array_sort(
            F.zip_with(
                sims,
                cent_ids,
                lambda s_, i: F.struct(
                    F.coalesce(-s_, F.lit(float("inf"))).alias("neg"),
                    i.alias("cid"),
                ),
            )
        ),
        1,
        n_probe,
    )

    def _lut(s: int):
        # closure factory — see pq_topk for the transform-arity trap
        def per_code(cv: F.Column) -> F.Column:
            return dot(_sub(F.col("__qv"), s), cv)

        return per_code

    lut_cols = [
        F.transform(lit_double_matrix(books[s]), _lut(s)).alias(f"__lut{s}")
        for s in range(n_sub)
    ]
    q = q.select(
        "query_id",
        l2_norm(F.col("__qv")).alias("__qn"),
        F.explode(
            F.transform(ranked_cells, lambda x: x["cid"])
        ).alias("__cell"),
        *lut_cols,
    )

    # scan only probed cells: equi-join on the cell id, query side
    # broadcast (n_queries x n_probe rows)
    approx_dot = F.element_at(F.col("__lut0"), F.col("__code0") + 1)
    for s in range(1, n_sub):
        approx_dot = approx_dot + F.element_at(
            F.col(f"__lut{s}"), F.col(f"__code{s}") + 1
        )
    denom = F.col("__qn") * F.sqrt(F.col("__rn2"))
    scored = (
        spread(enc)
        .join(F.broadcast(q), "__cell")
        .withColumn(
            "cosine",
            F.when(denom > 0, F.round(approx_dot / denom, 6)),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _ranked(scored, k)
