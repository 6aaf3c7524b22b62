"""ANN over embedding columns, one home per stage: fit :func:`_lloyd`,
elect :func:`_min_id_centroids`, assign :func:`nearest_centroid_expr`,
probe :func:`_probed`, int8 :func:`int8_quantized` +
:func:`_int8_topk`, PQ :func:`pq_encode` + :func:`_adc_topk`, numpy
:func:`cosine_matrix`, rank :func:`_ranked`."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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


def _centroid_sims(
    vec: F.Column, cents: list[tuple[int, list[float]]]
) -> tuple[F.Column, list[int]]:
    """Rounded-6 cosines of ``vec`` against a literal centroid model, as
    one array in centroid-id order, plus those ids.

    The model is driver-side (k × dim floats — model-sized, like any
    broadcast ML model) and goes in as ONE parsed-SQL literal (a single
    Py4J call): even F.lit(matrix) costs one driver round-trip per
    ELEMENT (~0.4 s per 8x64 model — measured r8). Sims round to 6
    digits (repo float policy), so the SQL oracles reproduce every
    compare bit-for-bit."""
    ordered = sorted(cents, key=lambda t: t[0])
    mat = lit_double_matrix([[float(x) for x in cv] for _, cv in ordered])
    sims = F.transform(mat, lambda c: F.round(cosine_similarity(vec, c), 6))
    return sims, [int(cid) for cid, _ in ordered]


def nearest_centroid_expr(
    vec: F.Column,
    cents: list[tuple[int, list[float]]],
    id_type: str = "int",
) -> F.Column:
    """Argmax-cosine centroid id as a single PROJECTION over a literal
    centroid table — the scan-shaped assignment plan.

    Per row, evaluate the k rounded cosines and take the first max —
    identical values and tie-break (toward the smaller id) to the
    previous ``crossJoin + groupBy(max_by(struct(sim, -cid)))`` form,
    which shuffled the ENTIRE corpus (vectors included) through a hash
    aggregate just to pick each row's best centroid. ``id_type`` pins
    the returned id's type to what the caller's schema contract expects
    (``int`` for dense 0..k-1 model ids, ``long`` for corpus-row ids).
    """
    sims, ids = _centroid_sims(vec, cents)
    # First occurrence of the max = smallest position = smallest id. A
    # zero-norm vector yields all-NULL sims (cosine's denom guard), so
    # array_max/array_position are NULL — coalesce to position 1 (the
    # smallest centroid id), which is what the numpy argmax-over--inf
    # arm and the oracles' ORDER BY cos DESC NULLS LAST, cid ASC all
    # resolve to.
    pos = F.coalesce(
        F.array_position(sims, F.array_max(sims)).cast("int"), F.lit(1)
    )
    return F.element_at(lit_int_array(ids), pos).cast(id_type)


def _probed(
    q: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_probe: int,
    cell: str,
) -> DataFrame:
    """``q`` exploded to one row per probed cell, its id in ``cell``:
    the ``n_probe`` cells nearest the query vector ``__qv`` by rounded-6
    cosine desc, ties toward the smaller id — a literal ``array_sort``
    over ``(-sim, cid)`` structs, so probing is a map-only projection
    over the query scan (no window Exchange, no broadcast build).

    A NULL cosine (zero-norm query or centroid) coalesces to +Inf so
    the degenerate cell sorts LAST, as ``ORDER BY sim DESC`` (NULLS
    LAST) does: struct comparison orders a NULL field FIRST, which would
    burn probe slots on empty cells."""
    sims, ids = _centroid_sims(F.col("__qv"), cents)
    keyed = F.zip_with(
        sims,
        lit_int_array(ids),
        lambda s, i: F.struct(
            F.coalesce(-s, F.lit(float("inf"))).alias("neg"),
            i.alias("cid"),
        ),
    )
    cells = F.slice(F.array_sort(keyed), 1, n_probe)
    return q.select("*", F.explode(cells).alias("__pc")).select(
        *q.columns, F.col("__pc.cid").alias(cell)
    )


def _min_id_centroids(
    df: DataFrame, id_col: str, vec_col: str, n: int
) -> list[tuple[int, list[float]]]:
    """The ``n`` smallest-id vectors of ``df`` as ``[(id, vec)]`` — the
    deterministic IVF centroid model, in ONE collect (k rows). The model
    then serves assignment and probing as literals; float→double
    widening through collect is exact, so the literals reproduce an
    in-plan cast bit-for-bit."""
    # Renamed after the limit, as written: collecting a bare
    # select(id, vec) of the corpus frame instead made the first IVF
    # plan built on it (after a warm scan of the memoized table) fail
    # with a probe-side filter inferred over the corpus vector
    # (PySpark 4.1.2, embedding_topk_ivf at sf0.1).
    rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(n)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("__cent"),
        )
        .collect()
    )
    return [(r["centroid_id"], list(r["__cent"])) for r in rows]


def _ranked(
    scored: DataFrame,
    k: int,
    score: str = "cosine",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Top ``k`` per query by ``score`` desc, ties toward the smaller
    neighbor id; a query never matches itself. Output
    ``(query_id, rank, neighbor_id, *carry, score)``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", *carry, score)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: score = cosine(query, corpus) for every pair —
    the baseline and the correctness oracle for recall tests.

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
    return _ranked(scored, k)


def _lloyd(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    spaces: list[tuple[slice, int]],
    iters: int,
    sample_mod: int = 1,
) -> list[list[list[float]]]:
    """Deterministic batched Lloyd k-means: every ``(slice, k)`` space —
    a slice of the vector, or the whole vector for ``slice(None)`` —
    fitted with its own ``k`` in ONE job per iteration plus ONE init
    collect. Returns each space's centroids (k lists, index = id).

    Determinism contract (what makes this oracle-reproducible, unlike
    MLlib's randomized KMeans): init = the ``k`` smallest-id vectors (a
    space's init rows are slices of the SAME rows, so one collect serves
    every space); a FIXED number of iterations (no convergence test);
    assignment by cosine rounded to 6 digits with smaller-centroid-id
    tie-break; new centroids = per-(space, cluster, dim) means rounded
    to 9 digits (so Spark's partial-agg summation order and any other
    engine's agree); empty clusters keep their previous centroid.

    Per iteration the fit input is scanned once and exploded to
    (space, cid, dim, x) rows, then one partial-agg shuffle produces
    every space's means; only k×dim means cross the driver — model-
    sized, like any distributed ML fit. At 100 TB fit on a
    deterministic slice via ``sample_mod`` (keep row iff
    ``id % sample_mod == 0``); assignment quality needs a sample, not
    the corpus."""
    fit = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if sample_mod > 1:
        fit = fit.filter(F.col(id_col) % sample_mod == 0)
    # The per-iteration assignment is a heavy per-row expression
    # (argmax trees of interpreted HOF cosines) over a COMPACT input — a
    # one-file scan leaves every evaluation on one core; spread() fixes
    # exactly this shape (no-op once the scan yields >= cores splits).
    # Consumed once per iteration plus init: checkpoint so the
    # scan+cast+shuffle runs once (lazy — the init collect materializes
    # it, saving a separate job).
    fit = spread(fit).localCheckpoint(eager=False)
    n_init = max(k for _, k in spaces)
    init = fit.orderBy(F.col(id_col).asc()).limit(n_init).collect()
    vecs = [list(r["__v"]) for r in init]
    model = [[v[sl] for v in vecs[:k]] for sl, k in spaces]

    def part(sl: slice) -> F.Column:
        if sl.start is None:
            return F.col("__v")
        return F.slice(F.col("__v"), sl.start + 1, sl.stop - sl.start)

    for _ in range(iters):
        structs = [
            F.struct(
                nearest_centroid_expr(
                    part(sl), list(enumerate(cents)), id_type="int"
                ).alias("cid"),
                part(sl).alias("sv"),
            )
            for (sl, _), cents in zip(spaces, model)
        ]
        # Three selects on purpose: the assignment structs materialize
        # in their own projection before each posexplode (a generator
        # sharing a select with the argmax struct trips Catalyst's
        # generator extraction, which renames the struct's fields).
        means = (
            fit.select(F.array(*structs).alias("__spaces"))
            .select(F.posexplode("__spaces").alias("space", "__x"))
            .select(
                "space",
                F.col("__x.cid").alias("cid"),
                F.posexplode("__x.sv").alias("dim", "x"),
            )
            .groupBy("space", "cid", "dim")
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .collect()
        )
        by_space: dict[int, dict[int, dict[int, float]]] = {}
        for r in means:
            by_space.setdefault(r["space"], {}).setdefault(
                r["cid"], {}
            )[r["dim"]] = r["m"]
        for s, (_, k) in enumerate(spaces):
            got = by_space.get(s, {})
            model[s] = [
                [got[i][d] for d in sorted(got[i])]
                if i in got
                else model[s][i]
                for i in range(k)
            ]
    return model


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    iters: int = 2,
    sample_mod: int = 1,
) -> DataFrame:
    """Deterministic Lloyd k-means fit over the whole embedding →
    ``(centroid_id, __cent)`` DataFrame consumable by :func:`ivf_topk`;
    the single-space case of :func:`_lloyd` (its determinism contract)."""
    [cents] = _lloyd(
        corpus,
        id_col,
        vec_col,
        [(slice(None), n_centroids)],
        iters,
        sample_mod,
    )
    return corpus.sparkSession.createDataFrame(
        list(enumerate(cents)), "centroid_id int, __cent array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k.

    1. centroids := ``centroids`` if given (``(centroid_id, __cent)``,
       e.g. from :func:`kmeans_centroids`), else the ``n_centroids``
       corpus vectors with the smallest ids (deterministic stand-in —
       same plan either way). One collect serves both consumers below.
    2. corpus rows → nearest centroid (map-only literal projection).
    3. queries → ``n_probe`` nearest cells (:func:`_probed`).
    4. score only corpus rows in probed cells; rank per query.

    Probing fraction n_probe/n_centroids bounds the scan. Recall is
    tested against ``brute_force_topk`` (tests/test_similarity.py).
    """
    if centroids is not None:
        cent_model = [
            (r["centroid_id"], list(r["__cent"]))
            for r in centroids.collect()
        ]
    else:
        cent_model = _min_id_centroids(corpus, id_col, vec_col, n_centroids)
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        )
    )
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
    probed = _probed(q, cent_model, n_probe, "centroid_id")
    scored = assigned.join(probed, "centroid_id").withColumn(
        "cosine",
        F.round(cosine_similarity(F.col("__qv"), F.col("__cv")), 6),
    )
    return _ranked(scored, k)


def int8_quantized(df: DataFrame, vec_col: str) -> DataFrame:
    """``df`` plus the vector's max-abs ``__amax`` and its int8 codes
    ``__q`` (``functions.vectors.quantize_int8``); zero vectors
    (amax == 0) are unquantizable and dropped, mirrored by the oracles."""
    return (
        df.withColumn("__amax", max_abs(F.col(vec_col)))
        .filter(F.col("__amax") > 0)
        .withColumn("__q", quantize_int8(F.col(vec_col), F.col("__amax")))
    )


def _int8_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Rank ``(query_id, __qq, neighbor_id, __nq)`` int8 pairs by the
    quantized cosine: ``qdot`` is an EXACT int64 dot and
    ``qcos = qdot / (|q| · |n|)`` rounded to 6 (norms also integer, so
    the only float ops are two sqrts and one divide — bit-reproducible
    cross-engine). Output ``(query_id, rank, neighbor_id, qdot, qcos)``."""
    qq, nq = F.col("__qq"), F.col("__nq")
    scored = pairs.withColumn("qdot", int_dot(qq, nq)).withColumn(
        "qcos",
        F.round(
            F.col("qdot")
            / (F.sqrt(int_dot(qq, qq)) * F.sqrt(int_dot(nq, nq))),
            6,
        ),
    )
    return _ranked(scored, k, "qcos", ("qdot",))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Int8-quantized cosine top-k — the bandwidth/storage scale path.

    Symmetric per-vector max-abs quantization (:func:`int8_quantized`)
    shrinks a float32 embedding 4x; candidates are ranked by
    :func:`_int8_topk`. Output: ``(query_id, rank, neighbor_id, qdot,
    qcos)``.

    Why it matters at 100 TB: a 1e9-vector corpus of 768-dim float32 is
    ~3 TB of embedding payload per scan; int8 cuts the scan (and every
    shuffle that carries vectors) to ~0.77 TB, and integer
    multiply-adds vectorize wider than float on every CPU. Plan shape
    is identical to ``brute_force_topk``: broadcast the (quantized)
    query set, scan-score the corpus, per-query ranking moves only
    scored rows.
    """
    q = int8_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__q").alias("__qq")
    )
    c = spread(
        int8_quantized(corpus, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col("__q").alias("__nq")
        )
    )
    return _int8_topk(c.crossJoin(F.broadcast(q)), k)


def ivf_int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """The production ANN composition: IVF cell pruning + int8 scoring.

    Cell assignment and probing use FLOAT cosine against the (min-id)
    centroids — centroid geometry should not inherit quantization
    error — with :func:`ivf_topk`'s map-only assignment and probe, while
    candidate scoring inside the probed cells is the exact-int64
    quantized dot of :func:`quantized_topk`. Scan cost is bounded by
    n_probe/n_centroids AND every scanned vector is 4x smaller: the two
    levers compose. Unquantizable (zero) vectors are dropped from
    corpus, queries, and centroid election alike, so the deterministic
    contract (and the SQL oracle) is unchanged.

    Output: ``(query_id, rank, neighbor_id, qdot, qcos)``.
    """
    nonzero = int8_quantized(corpus, vec_col)
    cent_model = _min_id_centroids(nonzero, id_col, vec_col, n_centroids)
    c = spread(
        nonzero.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.col("__q").alias("__nq"),
        )
    )
    assigned = c.select(
        "neighbor_id",
        "__nq",
        nearest_centroid_expr(
            F.col("__v"), cent_model, id_type="long"
        ).alias("centroid_id"),
    )
    q = int8_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col("__q").alias("__qq"),
    )
    probed = _probed(q, cent_model, n_probe, "centroid_id")
    return _int8_topk(assigned.join(probed, "centroid_id"), k)


def round_half_away(x, digits: int):
    """NumPy round matching SQL ROUND (half AWAY from zero; ``np.round``
    is half-to-even). Vectorized; used by the Arrow/numpy scoring arms
    so their rounded values land in the same equivalence class as the
    JVM/DuckDB expressions."""
    import numpy as np

    s = 10.0**digits
    return np.copysign(np.floor(np.abs(x) * s + 0.5), x) / s


def cosine_matrix(a, b):
    """Rounded-6 cosine of every row of ``a`` against every row of ``b``
    (2-D float64 arrays) — the numpy arms' twin of the JVM's rounded
    ``cosine_similarity``. A zero-norm pair scores -inf, so argmax and
    descending sorts rank it last, like the JVM's NULL."""
    import numpy as np

    na = np.linalg.norm(a, axis=1, keepdims=True)
    nb = np.linalg.norm(b, axis=1, keepdims=True)
    denom = na @ nb.T
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(denom > 0, (a @ b.T) / denom, -np.inf)
    return round_half_away(sims, 6)


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
        cid = cosine_matrix(v, cents).argmax(axis=1)  # first max ⇒ min id
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
    rounded half-away to 6 digits (:func:`cosine_matrix`) before every
    compare/rank; BLAS vs left-to-right summation differs below the
    rounding scale. Zero-norm vectors score -inf everywhere, so
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

    cents = _min_id_centroids(corpus, id_col, vec_col, n_centroids)
    cent_ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([cv for _, cv in cents], dtype=np.float64)
    bc = corpus.sparkSession.sparkContext.broadcast((cent_ids, cmat))

    def assign(batches):
        ids, c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # first max ⇒ smallest position ⇒ smallest centroid id
            pos = cosine_matrix(v, c).argmax(axis=1)
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
        # requested probe width — clamp, like the JVM arm's slice
        # just emits fewer probe rows (ADVICE r4: unclamped repeat vs
        # top's min(n_probe, n_centroids) columns crashed the reshape)
        p = min(n_probe, len(ids))
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = cosine_matrix(v, c)
            # stable argsort of -sims over the id-ASC-sorted matrix =
            # (sim DESC, centroid_id ASC) — the JVM probe ordering;
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


def _pq_spaces(dim: int, n_sub: int, n_codes: int) -> list[tuple[slice, int]]:
    """The ``n_sub`` contiguous subspaces of a ``dim``-dim vector, each
    fitted with ``n_codes`` codes (:func:`_lloyd` spaces)."""
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    w = dim // n_sub
    return [(slice(s * w, (s + 1) * w), n_codes) for s in range(n_sub)]


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
    iteration (:func:`_lloyd`). Returns the model as plain Python
    lists (n_sub x n_codes x dim/n_sub floats) — like any broadcast ML
    model, the codebooks are model-sized by construction, never
    corpus-shaped."""
    return _lloyd(
        corpus,
        id_col,
        vec_col,
        _pq_spaces(dim, n_sub, n_codes),
        iters,
        sample_mod,
    )


def pq_encode(vec: F.Column, books: list[list[list[float]]]) -> list[F.Column]:
    """The PQ codes of ``vec``: per subspace ``s``, ``__code{s}`` is the
    id of its argmax-cosine codeword (:func:`nearest_centroid_expr` —
    the module's one assignment rule), a map-only projection against
    the literal codebook."""
    w = len(books[0][0])
    return [
        nearest_centroid_expr(
            F.slice(vec, s * w + 1, w), list(enumerate(book)), id_type="int"
        ).alias(f"__code{s}")
        for s, book in enumerate(books)
    ]


def _adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    k: int,
    cells: list[tuple[int, list[float]]] | None = None,
    n_probe: int = 0,
) -> DataFrame:
    """PQ top-k with asymmetric-distance (ADC) scoring.

    Corpus rows are encoded (:func:`pq_encode`) and carry their
    reconstruction self-dot ``__rn2`` (a literal lookup per subspace,
    left-associated so the oracle's ``(((n0 + n1) + n2) + n3)``
    reproduces it exactly). Each query builds one ``n_codes``-entry
    LOOKUP TABLE of subvector dots per subspace — model-sized work once
    per query, not once per pair — and every pair scores
    ``(lut0[c0] + lut1[c1] + ...) / (|q| * sqrt(__rn2))`` rounded to 6:
    ``n_sub`` lookups + adds instead of a ``dim``-wide dot.

    With ``cells`` (the coarse IVF model), corpus rows also carry their
    nearest cell and each query explodes to its ``n_probe`` probed cells
    (:func:`_probed`), so the pair scan is a broadcast equi-join on
    the cell id instead of a broadcast cross join."""
    w = len(books[0][0])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    cell = (
        [nearest_centroid_expr(F.col("__cv"), cells, "int").alias("__cell")]
        if cells
        else []
    )
    enc = c.select("neighbor_id", *cell, *pq_encode(F.col("__cv"), books))

    def lookup(tables: list[F.Column]) -> F.Column:
        total = F.element_at(tables[0], F.col("__code0") + 1)
        for s in range(1, len(tables)):
            total = total + F.element_at(tables[s], F.col(f"__code{s}") + 1)
        return total

    enc = enc.withColumn(
        "__rn2",
        lookup(
            [
                F.transform(lit_double_matrix(b), lambda cv: dot(cv, cv))
                for b in books
            ]
        ),
    )

    def lut(s: int):
        # closure factory, NOT a default-arg lambda: a two-argument
        # lambda makes pyspark's transform() pass the ARRAY INDEX as
        # the second argument, silently clobbering the subspace id
        def per_code(cv: F.Column) -> F.Column:
            return dot(F.slice(F.col("__qv"), s * w + 1, w), cv)

        return per_code

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    if cells:
        q = _probed(q, cells, n_probe, "__cell")
    q = q.select(
        "query_id",
        l2_norm(F.col("__qv")).alias("__qn"),
        *(["__cell"] if cells else []),
        *[
            F.transform(lit_double_matrix(b), lut(s)).alias(f"__lut{s}")
            for s, b in enumerate(books)
        ],
    )
    pairs = (
        spread(enc).join(F.broadcast(q), "__cell")
        if cells
        else spread(enc).crossJoin(F.broadcast(q))
    )
    approx_dot = lookup([F.col(f"__lut{s}") for s in range(len(books))])
    denom = F.col("__qn") * F.sqrt(F.col("__rn2"))
    scored = pairs.withColumn(
        "cosine", F.when(denom > 0, F.round(approx_dot / denom, 6))
    )
    return _ranked(scored, k)


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
    cut and IVF's scan cut: fit per-subspace codebooks
    (:func:`pq_codebooks`), then encode and score (:func:`_adc_topk`).

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
    books = pq_codebooks(
        corpus, id_col, vec_col, dim, n_sub, n_codes, iters=iters
    )
    return _adc_topk(corpus, queries, id_col, vec_col, books, k)


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

    The coarse full-vector centroids ride the same per-iteration fit
    job as the subspace codebooks (one :func:`_lloyd` call).
    Deterministic end-to-end like both parents; same-oracle
    hash-certified via ``embedding_topk_ivf_pq``."""
    *books, full = _lloyd(
        corpus,
        id_col,
        vec_col,
        _pq_spaces(dim, n_sub, n_codes) + [(slice(None), n_centroids)],
        iters,
    )
    return _adc_topk(
        corpus,
        queries,
        id_col,
        vec_col,
        books,
        k,
        cells=list(enumerate(full)),
        n_probe=n_probe,
    )
