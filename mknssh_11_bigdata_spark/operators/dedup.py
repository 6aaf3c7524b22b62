"""Deduplication operators for LLM training-data pipelines.

Part of the BASELINE.json north star (the reference itself has no dedup —
SURVEY.md §0; its closest relative is the ``distinct()`` at
``/root/reference/scripts/data_processing.py:125``). Four families:

* **exact** — hash-groupBy on a content fingerprint; one shuffle.
* **MinHash + LSH** — shingle → k-min-hash signature → banded buckets →
  candidate pairs from bucket joins only. This is the 100 TB path: the
  quadratic all-pairs comparison is replaced by a self-equi-join on
  ``(band_idx, band_key)``, so cost is driven by bucket collision counts,
  not corpus size squared.
* **SimHash** — near-dup bitstring fingerprint; Hamming-close docs share
  band substrings (same banded-join trick on fingerprint quarters).
* **n-gram Jaccard** — exact verification of candidate pairs (run AFTER
  LSH at scale; standalone only for small corpora / tests).
* **embedding-cosine** — near-dup over an ``array<float>`` embedding
  column: exact pair scoring for verification, random-hyperplane LSH
  (sign bits → banded buckets) as the 100 TB candidate generator.

Cross-engine determinism: the base hash is ``md5`` over explicit strings
(15 hex chars parsed base-16 — in int64 range for both engines) and the
MinHash family is universal hashing ``(a·x+b) mod (2³¹−1)`` with
coefficients shared between the operator and the SQL oracle generator, so
DuckDB reproduces signatures bit-for-bit.
"""

from __future__ import annotations

import hashlib
import random
import warnings
from collections import defaultdict

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.text import fingerprint, shingles_of, tokens
from ..functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
    lit_double_matrix,
)
from ..plans.layout import broadcast_if_small, checkpoint_with_count, spread
from ..session import release_checkpoint
from .relational import deterministic_split

__all__ = [
    "exact_duplicate_groups",
    "exact_collapse",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_pairs",
    "shingle_pair_counts",
    "rare_shingle_candidates",
    "containment_pairs",
    "simhash",
    "minhash_dedup_pairs",
    "melt_band_keys",
    "incremental_dedup_status",
    "incremental_dedup_status_indexed",
    "incremental_embedding_dedup_status",
    "embedding_band_index",
    "corpus_dedup_indexes",
    "duplicate_components",
    "near_dup_components",
    "kcore_peel",
    "min_label_propagation",
    "embedding_cosine_pairs",
    "hyperplane_signatures",
    "embedding_near_dup_pairs",
    "chunk_dedup",
    "component_groups",
    "leakage_safe_assignments",
    "semantic_leakage_safe_assignments",
]


def exact_duplicate_groups(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact (normalized) dedup: group by content fingerprint.

    Output: ``(fp, n_docs, keeper)`` — keeper is the smallest id, the
    deterministic survivor. One hash aggregation; at 100 TB this is a
    single shuffle of (fingerprint, id) pairs, ~36 bytes/row. No
    repartition: per-row md5 is cheap relative to the scan, and the
    groupBy provides the only shuffle this operator needs.
    """
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
    )


def exact_collapse(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact (normalized) duplicates before near-dup analysis.

    Returns ``(reps, mapping)``: *reps* is ``df`` restricted to one
    deterministic representative per fingerprint group (the min id, all
    columns kept); *mapping* is ``(id_col, rep_id, group_n)`` for EVERY
    input row.

    Why this exists: at crawl scale most duplicate mass is VERBATIM
    (mirrors, reposts, boilerplate). Running MinHash/LSH straight on the
    raw corpus makes every k-copy group contribute k identical
    signatures — k-row LSH buckets and O(k²) candidate pairs that
    verification then scores at Jaccard 1.0: pure waste, and exactly the
    adversarial case the hot-bucket cap exists for. Collapsing first
    makes the near-dup stage's input the UNIQUE-text corpus: a k-copy
    group costs k fingerprint rows in one shuffle instead of k² pairs.

    Plan shape: the fingerprint is computed once in a projection; a
    single window (min + count over the fingerprint partition) labels
    every row with its representative and group size, and the reps
    filter rides the same exchange — the payload shuffles once, which
    any representative-picking scheme that keeps payload columns pays.
    """
    w = Window.partitionBy("__fp")
    labeled = (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("rep_id", F.min(id_col).over(w))
        .withColumn("group_n", F.count(F.lit(1)).over(w))
    )
    reps = labeled.filter(F.col(id_col) == F.col("rep_id")).drop(
        "__fp", "rep_id", "group_n"
    )
    mapping = labeled.select(F.col(id_col), "rep_id", "group_n")
    return reps, mapping


#: Production dedup geometry of the registered queries: MinHash
#: signature length, SRP hyperplane bits and the embedding width.
NUM_HASHES = 12
SRP_BITS = 32
EMB_DIM = 64

#: Universal-hash modulus (2^31 - 1, prime). Coefficients a,b < P and the
#: base hash is reduced mod P first, so a*base+b stays < 2^62 — no int64
#: overflow in Spark (long) OR DuckDB (BIGINT), keeping the two engines
#: bit-identical.
MINHASH_P = 2_147_483_647


def minhash_coefficients(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod P`` — shared by the Spark operator and
    the SQL oracle generator."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def hash_family_digest(
    num_hashes: int | None = None,
    srp_bits: int | None = None,
    dim: int | None = None,
) -> str:
    """Short digest of the CODE-LEVEL hash-family constants that a
    persisted pair-graph artifact depends on but whose values never
    appear in the chain-geometry parameters: the MinHash modulus and
    seed-42 coefficient stream, the SRP hyperplane seed-42 Gaussian
    stream, and the SRP auto-band target load (which fixes the ladder's
    switch points). Folded into the artifact cache key
    (``minhash_pair_graph`` / ``srp_pair_graph``) so that editing any of
    these constants REBUILDS the artifact instead of serving stale
    pairs generated by the old family — a source fingerprint plus
    geometry params alone cannot detect a code change (ADVICE r3).

    Geometry args must be the caller's PRODUCTION geometry: probing a
    fixed small prefix would miss a code change that alters only later
    stream draws (dim- or index-dependent generation, or a raised hash
    count) — the exact staleness hazard the digest exists to close
    (ADVICE r4). Omitted args default to the production constants
    THEMSELVES (:data:`NUM_HASHES`/:data:`SRP_BITS`/:data:`EMB_DIM`,
    read at call time), not frozen copies, so a default-args caller can
    never compute a stale digest after a geometry bump (ADVICE r5)."""
    num_hashes = NUM_HASHES if num_hashes is None else num_hashes
    srp_bits = SRP_BITS if srp_bits is None else srp_bits
    dim = EMB_DIM if dim is None else dim
    payload = "|".join(
        [
            str(MINHASH_P),
            ",".join(
                f"{a}:{b}" for a, b in minhash_coefficients(num_hashes)
            ),
            ",".join(
                f"{x:.17g}"
                for plane in hyperplane_coefficients(srp_bits, dim)
                for x in plane
            ),
            str(SRP_AUTO_TARGET_BUCKET_ROWS),
        ]
    )
    return hashlib.md5(payload.encode()).hexdigest()[:8]


def shingle_base_hash(shingle: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5, parsed
    base-16. One md5 per shingle; every MinHash permutation derives from
    this with two integer ops (vs k md5 calls per shingle)."""
    return (
        F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document: ``sig`` = array of ``num_hashes``
    minima of a universal hash family over the shingle set.

    Plan shape: explode shingles once, md5 each shingle ONCE, then ONE
    aggregation computes all k minima as parallel agg expressions
    (map-side partial min → tiny shuffle). Cost grows with k as integer
    multiply-adds, not hash invocations, passes, or shuffles.
    """
    coeffs = minhash_coefficients(num_hashes, seed)
    # Tokens staged as a column so the split runs once per row; see
    # functions.text.shingles_of on why inlining is quadratic.
    sh = (
        spread(df)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
        .select(
            F.col(id_col),
            F.explode(shingles_of(F.col("__t"), shingle_n)).alias("s"),
        )
        .select(F.col(id_col), shingle_base_hash(F.col("s")).alias("x"))
    )
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def cap_bucket_size(
    melted: DataFrame, max_bucket_size: int
) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket_size`` rows.

    The band self-join emits O(k²) pairs for a k-row bucket; AQE's
    skew-join splitting spreads those pairs across tasks but cannot
    reduce their COUNT — one boilerplate cluster of 10⁶ near-identical
    docs at 100 TB would alone emit 5·10¹¹ pairs. Production dedup
    pipelines cap the bucket size: a bucket that large is (a) almost
    certainly template/boilerplate, (b) already connected through other
    bands at lower cost. Mechanics: a window count partitioned by the
    bucket key — the SAME key the candidate self-join shuffles on, so
    the guard rides the join's own exchange (ReusedExchange on the
    second side) instead of adding an aggregate + anti-join that would
    recompute the signature scan a third time.
    """
    w = Window.partitionBy("band_idx", "band_key")
    return (
        melted.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )


def melt_band_keys(
    sig_df: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Melt MinHash signatures into ``(id, band_idx, band_key)`` rows —
    the bucket index both the self-join dedup AND the incremental
    corpus-probe join key on. At scale this frame IS the persisted LSH
    index table (partitioned by band_key)."""
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(j)),
                F.transform(
                    F.slice(F.col("sig"), j * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias(f"b{j}")
        for j in range(bands)
    ]
    banded = sig_df.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.posexplode(F.array(*[f"b{j}" for j in range(bands)])).alias(
            "band_idx", "band_key"
        ),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH over MinHash signatures → candidate pairs (id_a < id_b).

    Two docs become candidates iff some band of ``rows_per_band``
    signature entries matches exactly. The pair generation is an
    equi-join on ``(band_idx, band_key)`` — never an all-pairs scan; AQE
    splits any hot bucket. With (bands=4, r=3), Jaccard≈0.9 pairs are
    caught with P≈1-(1-0.9³)⁴≈0.986.

    ``max_bucket_size`` arms the hot-bucket guard (see
    ``cap_bucket_size``) — the knob that keeps the self-join's pair
    count bounded under adversarial skew at 100 TB. Default off so
    small-corpus results stay exact.
    """
    melted = melt_band_keys(sig_df, id_col, bands, rows_per_band)
    if max_bucket_size is not None:
        melted = cap_bucket_size(melted, max_bucket_size)
    a = melted.alias("a")
    b = melted.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Shared-shingle pair statistics ``(id_a, id_b, inter, sz_a,
    sz_b)`` — the common core the set-similarity scorers (Jaccard,
    containment) project their measure from.

    Explode distinct shingles → self-equi-join on the shingle →
    per-pair intersection counts → join per-doc set sizes. If
    ``candidates`` (id_a, id_b) is given (from LSH / rare-shingle
    blocking), the exploded table is semi-joined down to candidate
    docs BEFORE the quadratic stage — the scale path. Standalone
    all-pairs-with-a-shared-shingle is only for small corpora and
    verification.
    """
    sh = (
        spread(df)
        .select(
            F.col(id_col).alias("__id"),
            tokens(F.col(text_col)).alias("__t"),
        )
        .select(
            "__id",
            F.explode(shingles_of(F.col("__t"), shingle_n)).alias("s"),
        )
    )
    if candidates is not None:
        # Scale path: shrink the exploded table to candidate docs BEFORE
        # the self-join — the quadratic stage then runs over only the
        # LSH-bucketed sliver of the corpus, not every shared-shingle
        # pair. The candidate set is small by construction => broadcast.
        # The sliver is consumed from three branches (both self-join
        # sides + the set-size agg); materialize it once so each branch
        # does NOT re-explode the full corpus — measured 3x the verify
        # cost at sf1 when left lazy.
        cand_ids = (
            candidates.select(F.col("id_a").alias("__id"))
            .union(candidates.select(F.col("id_b").alias("__id")))
            .distinct()
        )
        sh = sh.join(
            F.broadcast(cand_ids), "__id", "left_semi"
        ).localCheckpoint(eager=True)
    # Set sizes AFTER the candidate cut: only pair members ever join
    # against sizes, and every pair member is a candidate by
    # construction — aggregating the full corpus here would be waste.
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
    )
    if candidates is not None:
        inter = inter.join(F.broadcast(candidates), ["id_a", "id_b"], "left_semi")
    inter = inter.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("inter")
    )
    sa = sizes.select(
        F.col("__id").alias("id_a"), F.col("sz").alias("sz_a")
    )
    sb = sizes.select(
        F.col("__id").alias("id_b"), F.col("sz").alias("sz_b")
    )
    return inter.join(sa, "id_a").join(sb, "id_b")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold:
    ``|A∩B| / (|A|+|B|-|A∩B|)`` over :func:`shingle_pair_counts`."""
    return (
        shingle_pair_counts(df, id_col, text_col, shingle_n, candidates)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def rare_shingle_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    max_df: int = 4,
) -> DataFrame:
    """Candidate pairs by RARE-shingle blocking: two docs become
    candidates iff they share a shingle whose document frequency is
    ≤ ``max_df`` (discriminative-key blocking, the entity-resolution
    standard).

    This is the candidate generator for CONTAINMENT-shaped duplication
    (excerpts, quotes, boilerplate inclusions): MinHash-LSH misses
    low-Jaccard excerpt pairs by design (an excerpt's signature differs
    from its source's), but an excerpt shares ALL its shingles with the
    source — including its rare ones. The df cap is an EXACT bound on
    join blowup: a shingle with df ≤ m emits ≤ m(m-1)/2 pairs, so the
    candidate count is linear in corpus size with constant m — this is
    the hot-bucket guard built into the definition rather than bolted
    on. The df filter is a window count over the shingle key, riding
    the same exchange the pair self-join shuffles on (the
    :func:`cap_bucket_size` trick).
    """
    sh = (
        spread(df)
        .select(
            F.col(id_col).alias("__id"),
            tokens(F.col(text_col)).alias("__t"),
        )
        .select(
            "__id",
            F.explode(shingles_of(F.col("__t"), shingle_n)).alias("s"),
        )
    )
    w = Window.partitionBy("s")
    rare = (
        sh.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
    )
    a = rare.alias("a")
    b = rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.9,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Shingle-set CONTAINMENT pairs: ``|A∩B| / min(|A|, |B|)`` ≥
    threshold, with the pair's Jaccard alongside for contrast.

    Containment is the measure Jaccard-based dedup is blind to: a
    10-token excerpt of a 300-token document has containment 1.0 but
    Jaccard ≈ 0.03 — below any near-dup threshold and below MinHash-LSH
    candidate recall. Feed candidates from
    :func:`rare_shingle_candidates` at scale.
    """
    return (
        shingle_pair_counts(df, id_col, text_col, shingle_n, candidates)
        .withColumn(
            "containment",
            F.round(
                F.col("inter") / F.least("sz_a", "sz_b"), 6
            ),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "jaccard")
    )


#: Hex digits whose low bit is 1 — used to read one bit per md5 hex char.
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """SimHash near-dup fingerprint as a ``bits``-char '0'/'1' string.

    Bit b is the sign of Σ_tokens (±1 by the low bit of the b-th hex char
    of the token's md5). Token multiplicity counts (it's a weighted
    projection). All portable string ops, so a SQL oracle reproduces it
    exactly; one explode + one aggregation with ``bits`` parallel sums.
    Hamming-close fingerprints share quarter-substrings, so banded
    equi-joins find near-dup candidates without all-pairs (same trick as
    LSH).
    """
    assert bits <= 32, "md5 hex has 32 chars; one bit per char"
    toks = spread(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).select(F.col(id_col), F.md5(F.col("tok")).alias("th"))
    sums = [
        F.sum(
            F.when(
                F.substring(F.col("th"), b + 1, 1).isin(*_ODD_HEX), 1
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*sums)
    bit_chars = [
        F.when(F.col(f"s{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(bits)
    ]
    return agg.select(id_col, F.concat(*bit_chars).alias("simhash"))


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold.

    Standalone (``candidates=None``) this is the exact all-pairs scorer —
    quadratic, for verification/small corpora only. With ``candidates``
    (id_a, id_b) from :func:`hyperplane_signatures` bucketing, only the
    candidate slice is scored — the scale path. Cosine is a JVM-side
    double fold (functions/vectors.py), rounded to 6 digits before the
    threshold so results are oracle-reproducible.
    """
    # Precompute each vector's norm ONCE in the row projection: the
    # per-pair expression is then a single zip_with/aggregate fold
    # (dot) plus two scalar ops — 3× fewer folds than recomputing
    # ‖a‖, ‖b‖ per pair. sqrt-per-row vs sqrt-per-pair is value-
    # identical, so the SQL oracle still matches bit-for-bit.
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    )
    b = spread(
        df.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("__vb"),
            l2_norm(F.col(vec_col)).alias("__nb"),
        )
    )
    denom = F.col("__na") * F.col("__nb")
    cos = F.when(
        denom > 0,
        F.round(dot(F.col("__va"), F.col("__vb")) / denom, 6),
    )
    if candidates is not None:
        # Score only LSH-bucketed candidates: two broadcast-able joins
        # attach the vectors to the (small) candidate pair set.
        return (
            candidates.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    return (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hyperplane_coefficients(
    n_bits: int, dim: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for signed-random-projection
    LSH — shared by operator, tests, and any oracle generator."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)
    ]


def hyperplane_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Signed-random-projection signature: bit j = sign(v · h_j), as an
    ``n_bits``-char '0'/'1' string (column ``sig``).

    P(bit match) = 1 − angle/π, so cosine-close vectors agree on most
    bits and land in the same banded buckets — the candidate generator
    that replaces the quadratic all-pairs scan at scale. Hyperplanes are
    literal arrays in the plan (no broadcast join, no data pass).
    """
    planes = hyperplane_coefficients(n_bits, dim, seed)
    # Measured (BASELINE.md round 4): the HOF fold's per-row cost is a
    # non-issue (160k rows × 32×64 in ~2 s executor-side) — wall time
    # at bench SFs is dominated by PLANNING the expression tree, and an
    # unrolled-arithmetic rewrite (bit-identical, codegen-able) made
    # planning 6× WORSE (4k-node tree). r8 optimization: fold the
    # n_bits unrolled when-branches into ONE transform over a literal
    # plane MATRIX — same per-bit expression evaluated per plane row at
    # runtime, a ~n_bits× smaller tree for Catalyst and Py4J. Bit
    # order, the dot's left-to-right fold, and the '1'/'0' mapping are
    # unchanged, so signatures are bit-identical.
    bits = F.transform(
        lit_double_matrix(planes),
        lambda p: F.when(dot(F.col(vec_col), p) > 0, F.lit("1"))
        .otherwise(F.lit("0")),
    )
    return df.select(
        F.col(id_col), F.array_join(bits, "").alias("sig")
    )


#: Target expected RANDOM bucket load for auto-sized SRP bands: pick the
#: smallest rows-per-band r (bands must divide n_bits, so r doubles) with
#: n / 2^r <= this. 64 keeps the per-bucket self-join ~64² = 4k pairs.
SRP_AUTO_TARGET_BUCKET_ROWS = 64


def srp_rows_per_band(n: int, n_bits: int = 32) -> int:
    """n-scaled SRP band width (VERDICT r2 #3): smallest rows-per-band
    ``r`` from the divisor ladder {8, 16, ..., n_bits} such that the
    expected RANDOM bucket load ``n / 2^r`` stays at or under
    :data:`SRP_AUTO_TARGET_BUCKET_ROWS`.

    With n_bits=32 the ladder is 8 → 16 → 32, switching at n = 16384 and
    n = 4194304 — so a 100k-vector corpus (where BASELINE.md measured the
    fixed 8-bit geometry saturating at 100.6M candidate pairs) gets
    16-bit band keys and a ~400× pair reduction. A deterministic step
    function (not a float log2) so SQL oracles reproduce the choice
    exactly with a CASE expression.

    The ladder contains only DIVISORS of ``n_bits``: a non-dividing
    width would make the caller recompute ``rows = n_bits // bands``
    and silently run a different geometry than the one chosen here
    (e.g. n_bits=24 at 100k rows used to return 16 → bands=1 → one
    24-bit band, collapsing recall with no error).
    """
    ladder = [r for r in range(8, n_bits + 1) if n_bits % r == 0]
    if not ladder:
        ladder = [n_bits]  # n_bits < 8: a single full-width band
    for r in ladder:
        if n <= SRP_AUTO_TARGET_BUCKET_ROWS * (1 << r):
            return r
    return ladder[-1]


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    n_bits: int = 16,
    bands: int | None = 4,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end embedding near-dup: hyperplane signatures → banded
    bucket join → exact cosine verification ≥ threshold.

    Same composition shape as :func:`minhash_dedup_pairs`: candidate
    cost is bucket-collision-driven, not corpus², and verification
    touches only the candidate sliver. Recall vs the exact scorer is
    asserted in tests/test_dedup.py on planted near-duplicates.
    ``max_bucket_size`` arms the same hot-bucket guard as
    :func:`lsh_candidate_pairs` (embedding corpora skew too: zero/near-
    zero vectors all share a signature).

    **Band-key capacity must scale with the corpus** (measured,
    BASELINE.md "SRP band-key saturation"): a band of r bits has 2^r
    keys, so expected bucket load is n/2^r and RANDOM collisions — not
    near-duplicates — dominate once n ≫ 2^r. ``bands=None`` sizes the
    geometry from a corpus count via :func:`srp_rows_per_band` (one
    cheap count job; at 100 TB the count comes from table stats), so
    the DEFAULT path never runs the saturated 8-bit demo geometry on a
    10⁵+-row corpus. Passing an explicit ``bands`` pins the geometry —
    registered queries do this so their SQL oracles stay static. The
    bucket cap bounds damage if mis-sized, but a saturated key space
    caps away true pairs along with noise — fix the geometry, don't
    lean on the guard.
    """
    # Same materialization discipline as minhash_dedup_pairs: the band
    # self-join consumes the signature frame from two concurrent
    # stages, and the verification stage consumes the candidate set
    # from several join branches — both are NARROW (id + bitstring /
    # id pairs) and checkpointing them prevents the hyperplane dot
    # products from re-running per consumer. The corpus count that
    # sizes the auto-banded geometry is read off the SAME fused
    # materialization job (signatures are a pure projection — one row
    # per input row), so the bands=None path no longer pays a separate
    # column-pruned count scan of the raw input.
    sigs, n_rows = checkpoint_with_count(
        hyperplane_signatures(df, id_col, vec_col, dim, n_bits, seed)
    )
    if bands is None:
        rows = srp_rows_per_band(n_rows, n_bits)
        bands = max(1, n_bits // rows)
    rows = n_bits // bands
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("sig"), j * rows + 1, rows)
                    for j in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    if max_bucket_size is not None:
        banded = cap_bucket_size(banded, max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    release_checkpoint(sigs)  # read only by the materialized `cands`
    return embedding_cosine_pairs(
        df, id_col, vec_col, threshold, candidates=cands
    )


#: Edge-count ceiling under which :func:`duplicate_components` solves
#: the components driver-side (union-find over the COLLECTED canonical
#: edge list) instead of running the distributed star loop. Every
#: downstream consumer feeds the component map through a guarded
#: ``F.broadcast`` anyway, and a broadcast COLLECTS the rows to the
#: driver first — so the collect here ships the same ROWS driver-side
#: the existing plan already did; but a PYTHON collect pays Row-object
#: overhead (~hundreds of bytes/row vs tens in the JVM relation), so
#: the ceiling is set an order of magnitude below
#: :data:`..plans.layout.BROADCAST_ROW_THRESHOLD` (200k edges ≈ low
#: tens of MB of Python objects — post-round review sizing). Above the
#: ceiling the log-round star loop runs unchanged (the 100 TB arm).
#: Bench-SF pair graphs are a few THOUSAND edges, far under either
#: number.
DRIVER_CC_EDGE_THRESHOLD = 200_000


def _driver_components(
    edges: DataFrame, _stats: dict | None
) -> DataFrame:
    """Union-find over a measured-small collected edge list — one
    driver pass instead of 5-8 distributed star rounds whose each
    convergence count spawns ~5 AQE stage jobs (measured: the star loop
    is ~40 of ``dedup_collapsed_components``' 50 construction jobs at
    bench SF while the graph is a few thousand edges). Union always
    keeps the SMALLER root as parent, so each final root is exactly the
    component minimum — the star forest's labels, bit-for-bit."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for r in rows:
        a, b = r[0], r[1]
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    if _stats is not None:
        _stats["rounds"] = 0
        _stats["converged"] = True
        _stats["driver_collapse"] = True
    id_type = edges.schema[0].dataType
    schema = StructType(
        [
            StructField("doc_id", id_type),
            StructField("component", id_type),
        ]
    )
    data = [(v, find(v)) for v in nodes]
    return edges.sparkSession.createDataFrame(data, schema)


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    _stats: dict | None = None,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph → duplicate
    GROUPS (doc_id, component), component = min doc id reachable.

    Pairwise dedup output is not yet dedup policy: A≈B and B≈C must
    collapse into one group {A,B,C} with one keeper even when A≉C
    directly. Spark has no native connected components; this is the
    alternating **large-star / small-star** algorithm (Kiveris,
    Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
    in MapReduce and Beyond", ACM SoCC 2014, public):

    * large-star: every node attaches its LARGER neighbors to the
      minimum of its neighborhood (incl. itself);
    * small-star: every node attaches itself and its smaller neighbors
      to its minimum smaller neighbor.

    Each half-round is ONE aggregation (per-node neighborhood min) +
    ONE shuffle join (push that min across the edges) on an edge set
    that only shrinks toward the final star forest. Rounds to converge
    are **O(log n) regardless of graph diameter** — the property
    min-label propagation lacks (a diameter-d chain needs d rounds; a
    100 TB boilerplate near-dup chain can have huge diameter). The
    long-chain round-count bound is asserted in tests/test_dedup.py.

    ``localCheckpoint`` truncates lineage per round; the driver-side
    convergence check (edge set unchanged) is the only non-declarative
    control flow — exactly the class of iterative algorithm Catalyst
    can't express in one plan.

    ``_stats``, when given, receives ``{"rounds": k, "converged": b}``
    (test/observability hook).

    **Driver arm** (r9 optimization, guide §1.2 "remove passes"): the
    canonical edge list's measured count — read off the same fused
    checkpoint job that always ran — arms a driver-side union-find when
    the graph fits :data:`DRIVER_CC_EDGE_THRESHOLD` (identical labels:
    min-id per component; see :func:`_driver_components` for why the
    collect is memory-equivalent to the guarded broadcast every
    consumer already applies to the RESULT). A verified near-dup pair
    graph is a corpus SLIVER by construction (it is what LSH exists to
    produce), so at bench SFs this removes the entire star loop; a
    boilerplate-heavy crawl whose graph exceeds the ceiling takes the
    distributed loop unchanged. ``driver_threshold`` overrides the
    ceiling (0 disables — the round-bound test pins the distributed
    arm explicitly).
    """
    # Canonical directed edge list: (src, dst) with src > dst, no self
    # loops, distinct. Both star operations preserve this invariant
    # (they only ever emit (v, m) with m < v), so the star forest at
    # convergence reads off directly as (node, component-min).
    edges, prev_n = checkpoint_with_count(
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("src"),
            F.least(F.col(id_a), F.col(id_b)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    limit = (
        DRIVER_CC_EDGE_THRESHOLD
        if driver_threshold is None
        else driver_threshold
    )
    # limit > 0: driver_threshold=0 must disable the driver arm even
    # for an EMPTY edge list (0 <= 0 would otherwise still take it —
    # post-round review finding; the round-bound tests pin the
    # distributed arm and deserve the arm they asked for).
    if 0 < limit and prev_n <= limit:
        comp = _driver_components(edges, _stats)
        release_checkpoint(edges)  # collected: the labels are local rows
        return comp
    converged = False
    rounds = 0
    for rounds in range(1, max_iters + 1):
        # checkpoint_with_count fuses each round's materialization and
        # its convergence count into ONE job (the count carried from the
        # previous round already saved the recount; the exceptAll check
        # short-circuits away whenever the counts differ).
        new_edges, n = checkpoint_with_count(
            _small_star(_large_star(edges))
        )
        converged = (
            n == prev_n
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        # superseded: the materialized round no longer reads it
        release_checkpoint(edges)
        edges = new_edges
        prev_n = n
        if converged:
            break
    if not converged:
        warnings.warn(
            f"duplicate_components: not converged after {max_iters} "
            "rounds — labels below may be partial (supersets split); "
            "raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    if _stats is not None:
        _stats["rounds"] = rounds
        _stats["converged"] = converged
    # Star forest → labels: every non-root node has exactly one edge to
    # its component min; roots label themselves. The min-agg is a no-op
    # at convergence but makes the (warned) unconverged output sane.
    return (
        edges.select(F.col("src").alias("id"), F.col("dst").alias("component"))
        .unionByName(
            edges.select(
                F.col("dst").alias("id"), F.col("dst").alias("component")
            )
        )
        .groupBy("id")
        .agg(F.min("component").alias("component"))
        .select(F.col("id").alias("doc_id"), "component")
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: for each node u with neighborhood minimum
    m = min(N(u) ∪ {u}), emit (v, m) for every neighbor v > u.
    ONE aggregation + ONE join (plan shape pinned in tests/test_plans.py).
    """
    sym = _symmetrize(edges)
    mins = sym.groupBy("src").agg(
        F.least(F.col("src"), F.min("dst")).alias("__m")
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: for each node u with smaller neighbors N₋(u) ≠ ∅ and
    m = min(N₋(u)), emit (u, m) and (v, m) for every v ∈ N₋(u), v ≠ m.
    Operates on the canonical (src > dst) edge list directly — no
    symmetrize pass needed. ONE aggregation + ONE join."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("__m"))
    attach_self = mins.select("src", F.col("__m").alias("dst"))
    attach_nbrs = (
        edges.join(mins, "src")
        .filter(F.col("dst") != F.col("__m"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
    )
    return attach_self.union(attach_nbrs).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pipeline: MinHash → LSH candidates → exact
    Jaccard verification ≥ threshold. The composition a 100 TB dedup job
    runs: cost = shingling scan + k-min agg + bucket joins + verification
    of the (tiny) candidate set. ``max_bucket_size`` arms the hot-bucket
    guard (see :func:`cap_bucket_size`)."""
    rows = num_hashes // bands
    # Materialize the two narrow frames of the chain; everything else
    # stays lazy:
    # * signatures (id + k longs — the table a production pipeline
    #   writes to storage): the LSH self-join consumes them from two
    #   concurrent stages, and a merely-persisted (unmaterialized)
    #   cache makes both stages race and compute the full shingle
    #   scan+agg independently — measured 6x at sf1. Eager checkpoint
    #   = compute once, truncate lineage.
    # * candidate pairs (tiny by construction — the point of LSH): the
    #   verification stage consumes them from three join branches;
    #   left lazy, each branch re-runs the whole LSH self-join.
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(
        sigs, id_col, bands, rows, max_bucket_size=max_bucket_size
    ).localCheckpoint(eager=True)
    release_checkpoint(sigs)  # read only by the materialized `cands`
    return jaccard_pairs(
        df, id_col, text_col, shingle_n, threshold, candidates=cands
    )


def _band_candidates(
    melt_i: DataFrame, melt_c: DataFrame, id_col: str
) -> DataFrame:
    """Distinct ``(inc_id, corp_id)`` pairs whose band rows share a
    ``(band_idx, band_key)``: the increment probes the corpus bands,
    and the corpus never joins itself."""
    return (
        melt_i.alias("i")
        .join(
            melt_c.alias("c"),
            (F.col("i.band_idx") == F.col("c.band_idx"))
            & (F.col("i.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col(f"i.{id_col}").alias("inc_id"),
            F.col(f"c.{id_col}").alias("corp_id"),
        )
        .distinct()
    )


def _text_status(
    increment: DataFrame, id_col: str, exact: DataFrame, near: DataFrame
) -> DataFrame:
    """``(id, status, dup_of)`` per increment row from the exact matches
    ``(id, __ex)`` and the verified near matches ``(inc_id, __nr)``: an
    exact match wins, then a near one, else the row is new."""
    return (
        increment.select(F.col(id_col))
        .join(exact, id_col, "left")
        .join(
            near.withColumnRenamed("inc_id", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.when(F.col("__ex").isNotNull(), F.lit("exact_dup"))
            .when(F.col("__nr").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("__ex", "__nr").alias("dup_of"),
        )
        .orderBy(id_col)
    )


def incremental_dedup_status(
    corpus: DataFrame,
    increment: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without ever
    self-joining the corpus — the daily-crawl-increment pattern.

    Re-deduplicating corpus+increment from scratch costs a full corpus
    pass per day; the incremental formulation probes indexes instead:

    1. **Exact gate** — increment fingerprints inner-join the corpus
       fingerprint index (at 100 TB a persisted table; the increment is
       the small side, so AQE broadcasts it and the corpus pass is
       map-side). Matches exit as ``exact_dup``.
    2. **Near probe** — MinHash band keys of the survivors equi-join the
       corpus LSH band index (:func:`melt_band_keys` — also persisted at
       scale). The corpus NEVER self-joins: candidate count is
       |increment| x bucket load, not corpus². ``max_bucket_size`` caps
       hot CORPUS buckets (boilerplate clusters), same guard as the
       batch path.
    3. **Verify** — exact n-gram Jaccard on the candidate sliver only.

    Output: one row per increment doc — ``(id, status, dup_of)`` with
    status ∈ {{'exact_dup', 'near_dup', 'new'}} and ``dup_of`` the
    smallest matching corpus id (NULL for new docs). Requires disjoint
    id spaces between corpus and increment (true of any ingest that
    assigns ids monotonically). Fully deterministic.
    """
    rows = num_hashes // bands
    cfp = corpus.select(
        fingerprint(F.col(text_col)).alias("fp"),
        F.col(id_col).alias("__cid"),
    )
    # Tiny output (one row per duplicated increment doc); consumed by
    # the anti-join AND the final status select — checkpoint once.
    # LAZY (r9): unlike minhash_dedup_pairs' SELF-joined signatures,
    # nothing here is consumed twice inside one job before it is
    # materialized — `exact` and `sig_i` sit on the increment side of
    # the band join, `sig_c` on the corpus side, each in exactly one
    # stage of the `cands` materialization below, which computes and
    # persists all three in that single action (3 construction jobs
    # removed; every later consumer reads the cached blocks).
    exact = (
        increment.select(
            F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
        )
        .join(cfp, "fp")
        .groupBy(id_col)
        .agg(F.min("__cid").alias("__ex"))
        .localCheckpoint(eager=False)
    )
    surv = increment.join(exact.select(id_col), id_col, "left_anti")

    sig_c = minhash_signatures(
        corpus, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    sig_i = minhash_signatures(
        surv, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    melt_c = melt_band_keys(sig_c, id_col, bands, rows)
    if max_bucket_size is not None:
        melt_c = cap_bucket_size(melt_c, max_bucket_size)
    melt_i = melt_band_keys(sig_i, id_col, bands, rows)
    cands = (
        _band_candidates(melt_i, melt_c, id_col)
        .withColumn("id_a", F.least("inc_id", "corp_id"))
        .withColumn("id_b", F.greatest("inc_id", "corp_id"))
        .localCheckpoint(eager=True)
    )
    # only `cands` reads the signatures, and it is materialized: free
    # them here, since no leaf of the returned plan reaches them
    release_checkpoint(sig_c)
    release_checkpoint(sig_i)
    pairs = jaccard_pairs(
        corpus.select(F.col(id_col), F.col(text_col)).unionByName(
            surv.select(F.col(id_col), F.col(text_col))
        ),
        id_col,
        text_col,
        shingle_n,
        threshold,
        candidates=cands.select("id_a", "id_b"),
    )
    near = (
        pairs.join(cands, ["id_a", "id_b"])
        .groupBy("inc_id")
        .agg(F.min("corp_id").alias("__nr"))
    )
    return _text_status(increment, id_col, exact, near)


def near_dup_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full duplicate-group resolution with exact collapse first:
    exact dedup → MinHash/LSH/Jaccard over unique texts only →
    connected components on the collapsed graph → expand back to docs.

    Output: ``(doc_id, component)`` for every document in a duplicate
    group of size ≥ 2 — exact or near. ``component`` is the min doc id
    of the merged group: representatives are per-group minima and
    component labels are min-rep, so the expansion preserves global
    minima and the result is exactly what components over the union
    graph (exact edges ∪ near-dup edges) would produce — without ever
    materializing the k² intra-group exact edges.

    Scale: the pair-shaped stages (LSH self-join, Jaccard verification,
    star rounds) see only unique texts; expanding back to the corpus is
    one broadcast join against the (tiny) rep-component map.
    """
    reps, mapping = exact_collapse(df, id_col, text_col)
    # The pair pipeline consumes `reps` from several join branches (LSH
    # self-join sides, both sides of the Jaccard verify join); without
    # materialization each branch would re-run the exact-collapse window
    # shuffle over the full text payload — measured 6x the query cost at
    # sf1. Persist spill-aware for the pair stage; duplicate_components
    # eagerly checkpoints its edges, after which nothing downstream
    # depends on reps lineage and the cache is dropped.
    reps = reps.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        rep_pairs = minhash_dedup_pairs(
            reps,
            id_col,
            text_col,
            num_hashes,
            bands,
            shingle_n,
            threshold,
            max_bucket_size=max_bucket_size,
        )
        rep_comp = duplicate_components(rep_pairs).select(
            F.col("doc_id").alias("rep_id"), F.col("component").alias("__rc")
        )
        # the edges are materialized or collected: free the LSH
        # candidates and shingle counts the pair frame reads lazily
        release_checkpoint(rep_pairs, keep=df)
    finally:
        reps.unpersist()
    # rep_comp is bounded by the near-dup graph over distinct texts —
    # usually tiny vs corpus, but on dup-heavy crawls it can be
    # corpus-scale, so the hint arms only under a measured count
    # (VERDICT r5 #1). A doc whose rep has no near-dup neighbor labels
    # itself with the rep and survives only if its exact group >= 2.
    return (
        mapping.join(broadcast_if_small(rep_comp), "rep_id", "left")
        .filter((F.col("group_n") >= 2) | F.col("__rc").isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col("__rc"), F.col("rep_id")).alias("component"),
        )
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 16,
) -> DataFrame:
    """Corpus-wide repeated-chunk removal (the C4/RefinedWeb "line
    dedup" analog over whitespace corpora): split every document into
    non-overlapping ``chunk_size``-token chunks, keep only the FIRST
    occurrence of each distinct chunk across the whole corpus (first =
    smallest ``(doc_id, chunk_idx)``), and rebuild each document from
    its surviving chunks plus the sub-chunk tail (which is never
    removed). Returns one row per document::

        (doc_id, n_chunks, n_removed, clean_n_tokens, clean_md5)

    Scale shape: one explode (no shuffle), ONE shuffle — the
    ``row_number`` window over ``md5(chunk)`` — then a groupBy/join
    keyed on ``doc_id`` that AQE plans off the already-hashed exchange.
    Chunk payloads never fan out: only (id, idx, 32-byte md5) rows move
    in the wide shuffle, and the rebuild concat happens after the
    per-document collapse. At 100 TB the distinct-chunk domain is
    corpus-sized, so the window shuffle is the irreducible cost of span
    dedup; there is no broadcastable side and none is forced.

    Reference parity: the reference has no span-level dedup (its dedup
    surface is whole-row ``drop_duplicates``, /root/reference/main.py);
    this is a north-star extension for training-data curation.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__t"),
        F.floor(F.size(toks) / chunk_size).cast("int").alias("__nf"),
    )
    # chunk j (0-based) = tokens[j*chunk_size+1 .. (j+1)*chunk_size],
    # joined with single spaces. sequence(0, nf-1) is invalid when
    # nf == 0 (descending sequence) -> guard with an empty array.
    chunk_at = lambda j: F.concat_ws(  # noqa: E731
        " ", F.slice(F.col("__t"), j * chunk_size + 1, chunk_size)
    )
    with_chunks = base.withColumn(
        "__chunks",
        F.when(
            F.col("__nf") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("__nf") - 1), chunk_at
            ),
        ).otherwise(F.array().cast("array<string>")),
    ).withColumn(
        "__tail",
        F.concat_ws(
            " ",
            F.slice(
                F.col("__t"),
                F.col("__nf") * chunk_size + 1,
                F.greatest(
                    F.size(F.col("__t")) - F.col("__nf") * chunk_size,
                    F.lit(0),
                ),
            ),
        ),
    )
    exploded = with_chunks.select(
        "doc_id", F.posexplode("__chunks").alias("idx", "__chunk")
    ).withColumn("__h", F.md5(F.col("__chunk")))
    first_w = Window.partitionBy("__h").orderBy("doc_id", "idx")
    ranked = exploded.withColumn("__rn", F.row_number().over(first_w))
    per_doc = ranked.groupBy("doc_id").agg(
        F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn") == 1,
                            F.struct("idx", "__chunk"),
                        )
                    )
                ),
                lambda s: s["__chunk"],
            ),
        ).alias("__kept"),
    )
    out = (
        with_chunks.select("doc_id", "__nf", "__tail")
        .join(per_doc, "doc_id", "left")
        .withColumn(
            "__clean",
            F.concat_ws(
                " ",
                F.when(F.col("__kept") != "", F.col("__kept")),
                F.when(F.col("__tail") != "", F.col("__tail")),
            ),
        )
    )
    clean_toks = tokens(F.col("__clean"))
    return out.select(
        "doc_id",
        F.col("__nf").cast("long").alias("n_chunks"),
        F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        F.size(clean_toks).cast("long").alias("clean_n_tokens"),
        F.md5(F.col("__clean")).alias("clean_md5"),
    ).orderBy("doc_id")


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 8,
) -> DataFrame:
    """Edges of the k-core: iteratively remove nodes with degree < k
    (and their edges) until stable or ``max_rounds`` is exhausted.

    The graph-policy companion to :func:`duplicate_components`: where
    components answer "which docs are transitively the same", the
    k-core separates CLUSTERED duplication (cliques/cycles survive)
    from incidental chains and pendant pairs (peeled away).

    Scale: each round is one degree aggregation over the (id, id)
    edge sliver plus two semi-join-shaped filters against the alive
    set (AQE broadcasts it when small); the edge set only shrinks and
    every round is localCheckpointed so lineage stays flat. Rounds are
    CAPPED, not run to an unbounded fixpoint — an adversarial
    2(R+1)-node path needs R rounds, so callers that need the true
    core on pathological graphs raise ``max_rounds``; callers that
    need cross-engine parity pin it (the loop's early exit on a stable
    edge count is value-identical to running the remaining rounds).
    """
    e, n_edges = checkpoint_with_count(edges.select("id_a", "id_b"))
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("id_a").alias("node"))
            .unionAll(e.select(F.col("id_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = deg.filter(F.col("deg") >= k).select("node")
        # one job per peel round: materialize + count fused
        e, n_now = checkpoint_with_count(
            e.join(alive.withColumnRenamed("node", "id_a"), "id_a")
            .join(alive.withColumnRenamed("node", "id_b"), "id_b")
            .select("id_a", "id_b")
        )
        if n_now == n_edges:  # converged: further rounds are no-ops
            break
        n_edges = n_now
    return e


def _superstep_candidates(
    edges: DataFrame, frontier: DataFrame, force_broadcast: bool
) -> DataFrame:
    """One propagation superstep's per-dst min candidates. The frontier
    is force-broadcast ONLY when the caller has MEASURED it under the
    broadcast threshold — an unconditional hint here is the 100×-scale
    OOM VERDICT r4 flagged (round 1's frontier is the full label set;
    at crawl scale the near-dup node set is billions of rows). Without
    the hint the join still broadcasts when AQE's runtime size
    statistics say it fits — we only refuse to FORCE it."""
    fr = F.broadcast(frontier) if force_broadcast else frontier
    return (
        edges.join(fr, edges.src == frontier.node)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min("lbl").alias("cand"))
    )


def _driver_label_propagation(
    labels: DataFrame,
    edges: DataFrame,
    max_rounds: int,
) -> tuple[DataFrame, int, list[int]]:
    """The superstep loop simulated driver-side over COLLECTED label
    and edge slivers — round-for-round identical to the distributed
    loop (same left-join-keyed update, same frontier definition, same
    sizes telemetry, same non-convergence error), so the convergence
    query's rows and the election's labels are bit-equal. Armed only
    under measured counts (see :func:`min_label_propagation`); the
    collect is the same driver-memory class as the broadcast the
    distributed loop's own guard would force at these sizes."""
    lbl = {r[0]: r[1] for r in labels.collect()}
    adj = defaultdict(list)
    for r in edges.select("src", "dst").collect():
        adj[r[0]].append(r[1])
    frontier = dict(lbl)  # round 1 considers every label "new"
    n_frontier: int | None = None
    sizes: list[int] = []
    for rounds in range(1, max_rounds + 1):
        cand: dict = {}
        for s, l in frontier.items():
            for d in adj.get(s, ()):
                c = cand.get(d)
                if c is None or l < c:
                    cand[d] = l
        sizes.append(n_frontier if n_frontier is not None else len(lbl))
        frontier = {}
        for d, c in cand.items():
            # left-join semantics: candidates for nodes outside the
            # label table are dropped, exactly as the distributed join
            if d in lbl and c < lbl[d]:
                lbl[d] = c
                frontier[d] = c
        n_frontier = len(frontier)
        if n_frontier == 0:
            schema = StructType(
                [
                    StructField("node", labels.schema[0].dataType),
                    StructField("lbl", labels.schema[1].dataType),
                ]
            )
            out = labels.sparkSession.createDataFrame(
                list(lbl.items()), schema
            )
            return out, rounds, sizes
    raise RuntimeError(
        f"label propagation did not converge in {max_rounds} "
        "supersteps — this graph has high-diameter chains; use "
        "duplicate_components (large-star/small-star, log rounds) "
        "to build components instead of plain propagation."
    )


def min_label_propagation(
    labels: DataFrame,
    edges: DataFrame,
    max_rounds: int = 12,
    broadcast_threshold: int = 1_000_000,
    n_labels: int | None = None,
    n_edges: int | None = None,
    driver_threshold: int | None = None,
) -> tuple[DataFrame, int, list[int]]:
    """Frontier-style min-label propagation to FIXPOINT — the plain
    Pregel superstep loop (vs :func:`duplicate_components`'s
    large-star/small-star, which converges in log rounds but only
    computes min-id components; propagation carries an ARBITRARY
    order-embeddable label, e.g. a quality-priority rank).

    ``labels`` is (node, lbl: bigint); ``edges`` is directed (src, dst),
    ideally already hash-partitioned by dst and checkpointed (the Pregel
    layout: every superstep's dst-keyed aggregation is then
    exchange-free). Each superstep joins only the FRONTIER — labels
    that improved last round; min-propagation is monotone, so an
    unchanged neighborhood cannot yield a new improvement — against the
    partition-local edges, takes per-dst min candidates, and lowers
    labels where the candidate wins. Terminates when a superstep
    changes nothing; raises after ``max_rounds`` (a graph needing more
    has high-diameter chains — run the log-rounds components operator
    and label per component instead).

    Broadcast guard (VERDICT r4 #2): the frontier is force-broadcast
    only once its MEASURED row count is ≤ ``broadcast_threshold``.
    Round 1's frontier is the entire label set — at crawl scale the
    near-dup node set is a large fraction of the corpus, so an
    unconditional ``F.broadcast`` there is a fleet-wide OOM. The first
    superstep (and any later one whose frontier is still large) runs a
    plain join and lets AQE broadcast if runtime stats say it fits;
    every frontier AFTER round 1 comes off a localCheckpoint, so the
    count that arms the hint is a cheap cached-block scan.

    Returns ``(labels, rounds, frontier_sizes)``: ``rounds`` counts the
    supersteps executed INCLUDING the final no-change one that proves
    fixpoint; ``frontier_sizes[i]`` is the row count of the frontier
    that ENTERED superstep ``i+1`` (so ``frontier_sizes[0]`` is the
    label-set size and the last entry is the changed-label count the
    fixpoint superstep re-propagated — convergence telemetry, exposed
    as data by the registered ``dedup_label_propagation_convergence``
    query).

    **Driver arm** (r9, same discipline as ``duplicate_components``):
    when the caller supplies MEASURED ``n_labels``/``n_edges`` (read
    for free off its own fused checkpoint jobs) and both fit
    ``driver_threshold`` (default :data:`DRIVER_CC_EDGE_THRESHOLD`),
    the superstep loop runs driver-side over the collected slivers —
    identical labels, rounds and sizes, none of the per-round
    distributed job overhead. At these sizes the distributed loop's
    own broadcast guard would force the whole frontier driver-side
    anyway. Without the counts (or above the ceiling) the distributed
    loop runs unchanged.
    """
    limit = (
        DRIVER_CC_EDGE_THRESHOLD
        if driver_threshold is None
        else driver_threshold
    )
    if (
        0 < limit  # 0 disables, even on an empty graph
        and n_labels is not None
        and n_edges is not None
        and n_labels <= limit
        and n_edges <= limit
    ):
        return _driver_label_propagation(labels, edges, max_rounds)
    frontier = labels  # round 1 considers every label "new"
    n_frontier: int | None = None  # unknown until measured — never force
    sizes: list[int] = []
    for rounds in range(1, max_rounds + 1):
        force = n_frontier is not None and n_frontier <= broadcast_threshold
        cand = _superstep_candidates(edges, frontier, force)
        updated = (
            labels.join(cand, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("cand", "lbl")).alias(
                    "lbl"
                ),
                (F.col("cand") < F.col("lbl")).alias("__improved"),
            )
            # LAZY checkpoint: the agg below is the frame's first (and
            # only concurrent) action, so ONE job materializes the
            # superstep's blocks AND measures both counts — vs three
            # jobs (eager checkpoint, round-1 size count, frontier
            # count) before. Lineage still truncates per superstep.
            .localCheckpoint(eager=False)
        )
        # node count = round 1's label-set size (one row per node,
        # never a recompute of the caller's raw `labels` lineage —
        # ADVICE r5); improved-true count = the next frontier's size.
        counts = updated.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(F.when(F.col("__improved"), True)).alias("__imp"),
        ).first()
        sizes.append(
            n_frontier if n_frontier is not None else counts["__n"]
        )
        frontier = updated.filter("__improved").select("node", "lbl")
        labels = updated.select("node", "lbl")
        n_frontier = counts["__imp"]
        if n_frontier == 0:  # fixpoint: the superstep changed nothing
            return labels, rounds, sizes
    raise RuntimeError(
        f"label propagation did not converge in {max_rounds} "
        "supersteps — this graph has high-diameter chains; use "
        "duplicate_components (large-star/small-star, log rounds) "
        "to build components instead of plain propagation."
    )


def corpus_dedup_indexes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The two probe tables incremental dedup maintains as PERSISTED
    state instead of recomputing per batch: the exact-gate fingerprint
    index ``(fp, id)`` and the LSH band index ``(id, band_idx,
    band_key)``. Computed once per corpus slice (seed, then each
    batch's survivors) and appended — the corpus itself is never
    re-fingerprinted or re-signed after ingest."""
    rows = num_hashes // bands
    fp = df.select(
        fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
    )
    band = melt_band_keys(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_n),
        id_col,
        bands,
        rows,
    )
    return fp, band


def incremental_dedup_status_indexed(
    corpus: DataFrame,
    fp_index: DataFrame,
    band_index: DataFrame,
    increment: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """:func:`incremental_dedup_status` probing PERSISTED indexes —
    identical output (same gates, same tie-breaks, same cap semantics),
    but the per-batch cost no longer contains the corpus-side
    fingerprint + signature recomputation: the exact gate joins the
    maintained ``fp_index``, the near probe joins the maintained
    ``band_index`` restricted to the increment's OWN band keys (an
    equi-join on the index's key — at 100 TB, a partition-pruned read
    of the key-partitioned index table), and Jaccard verification
    shingles only the texts candidates actually touch, fetched from
    the corpus by id. The corpus is read only for that candidate
    sliver.

    Cap equivalence: ``max_bucket_size`` drops buckets by their TOTAL
    corpus load. Restricting the index to probed keys first does not
    change any probed bucket's count (restriction is by the bucket key
    itself), so capping after restriction is exactly the batch
    operator's behavior at a fraction of the cost.
    """
    rows = num_hashes // bands
    # LAZY (r9): `exact`'s first consumer is sig_i's eager
    # materialization just below (single stage), which computes and
    # persists it in the same job — one construction job removed.
    exact = (
        increment.select(
            F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
        )
        .join(fp_index.withColumnRenamed(id_col, "__cid"), "fp")
        .groupBy(id_col)
        .agg(F.min("__cid").alias("__ex"))
        .localCheckpoint(eager=False)
    )
    surv = increment.join(exact.select(id_col), id_col, "left_anti")
    # EAGER stays: sig_i feeds BOTH sides of the cands join below (the
    # increment band melt AND, via probe_keys, the index restriction) —
    # two concurrent stages would race a lazy first materialization.
    sig_i = minhash_signatures(
        surv, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    melt_i = melt_band_keys(sig_i, id_col, bands, rows)
    probe_keys = melt_i.select("band_idx", "band_key").distinct()
    melt_c = band_index.join(probe_keys, ["band_idx", "band_key"])
    if max_bucket_size is not None:
        melt_c = cap_bucket_size(melt_c, max_bucket_size)
    cands = (
        _band_candidates(melt_i, melt_c, id_col)
        .withColumn("id_a", F.least("inc_id", "corp_id"))
        .withColumn("id_b", F.greatest("inc_id", "corp_id"))
        .localCheckpoint(eager=True)
    )
    release_checkpoint(sig_i)  # read only by the materialized `cands`
    touched_c = cands.select(
        F.col("corp_id").alias(id_col)
    ).distinct()
    touched_i = cands.select(F.col("inc_id").alias(id_col)).distinct()
    pairs = jaccard_pairs(
        corpus.join(touched_c, id_col)
        .select(F.col(id_col), F.col(text_col))
        .unionByName(
            surv.join(touched_i, id_col).select(
                F.col(id_col), F.col(text_col)
            )
        ),
        id_col,
        text_col,
        shingle_n,
        threshold,
        candidates=cands.select("id_a", "id_b"),
    )
    near = (
        pairs.join(cands, ["id_a", "id_b"])
        .groupBy("inc_id")
        .agg(F.min("corp_id").alias("__nr"))
    )
    return _text_status(increment, id_col, exact, near)


def incremental_embedding_dedup_status(
    corpus: DataFrame,
    increment: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    n_bits: int = 32,
    bands: int | None = None,
    seed: int = 42,
    max_bucket_size: int | None = None,
    corpus_band_index: DataFrame | None = None,
) -> DataFrame:
    """Embedding-side incremental dedup — the SRP twin of
    :func:`incremental_dedup_status`: score a NEW batch of vectors
    against an EXISTING corpus without ever self-joining the corpus.
    New embeddings' band keys PROBE the corpus SRP band index (at
    100 TB a persisted, key-partitioned table — the embedding half of
    what :class:`streaming.incremental.IndexedIncrementalDedupCorpusSink`
    maintains for text), exact cosine verifies the candidate sliver
    only, and every increment vector exits as ``near_dup`` (with
    ``dup_of`` = smallest matching corpus id) or ``new``.

    No separate exact gate: identical vectors have cosine 1.0 and
    identical sign signatures, so the near probe subsumes them —
    embedding space has no cheaper equality than the probe itself
    (a float-serialization fingerprint is brittle across encoders).

    Geometry: ``bands=None`` n-scales band width from the CORPUS count
    (:func:`srp_rows_per_band` — the corpus is the indexed side whose
    bucket load matters); the probe restricts the corpus index to the
    increment's own band keys BEFORE the hot-bucket cap, which leaves
    per-bucket counts unchanged (restriction is by the bucket key), so
    cap semantics match the batch operator exactly. Requires disjoint
    id spaces, as the text twin does. Fully deterministic, seed-fixed.

    ``corpus_band_index`` supplies a MAINTAINED ``(id, band_idx,
    band_key)`` index (see :func:`embedding_band_index` /
    :class:`streaming.incremental.IncrementalEmbeddingDedupSink`)
    instead of signing the corpus inline — the per-batch shape at
    scale; pass the explicit ``bands`` the index was built with (a
    persisted index pins its geometry; re-index when the n-scaling
    ladder steps).
    """
    if bands is None and corpus_band_index is not None:
        raise ValueError(
            "corpus_band_index pins the band geometry — pass the "
            "explicit `bands` it was built with, or n-scaled "
            "increment bands will silently probe the wrong keys."
        )

    def _banded(sig_df: DataFrame) -> DataFrame:
        # late-bound: called only after `bands` is resolved below
        rows = n_bits // bands
        return sig_df.select(
            F.col(id_col),
            F.posexplode(
                F.array(
                    *[
                        F.substring(F.col("sig"), j * rows + 1, rows)
                        for j in range(bands)
                    ]
                )
            ).alias("band_idx", "band_key"),
        )

    if corpus_band_index is not None:
        sig_i = hyperplane_signatures(
            increment, id_col, vec_col, dim, n_bits, seed
        ).localCheckpoint(eager=True)
        bc_full = corpus_band_index
    else:
        # ONE action materializes BOTH signature sets: the 32-plane
        # expression tree dominates query PLANNING (not execution —
        # BASELINE.md round 4 measured 160k rows in ~2 s executor-side
        # vs multi-second per-plan compile), so fusing the two sides
        # into one checkpointed union halves the dominant cost
        both = (
            hyperplane_signatures(
                corpus, id_col, vec_col, dim, n_bits, seed
            )
            .withColumn("__side", F.lit(0))
            .unionByName(
                hyperplane_signatures(
                    increment, id_col, vec_col, dim, n_bits, seed
                ).withColumn("__side", F.lit(1))
            )
        )
        if bands is None:
            # n-scale from the CORPUS count, read off the union's own
            # fused materialization (lazy checkpoint + single-consumer
            # agg = ONE job) instead of a separate corpus scan. All
            # later consumers — including the concurrent band self-join
            # stages — read the blocks this agg persisted.
            both = both.localCheckpoint(eager=False)
            n_corpus = both.agg(
                F.count(F.when(F.col("__side") == 0, True))
            ).first()[0]
            rows = srp_rows_per_band(n_corpus, n_bits)
            bands = max(1, n_bits // rows)
        else:
            # Explicit geometry: nothing to fuse with — materialize
            # eagerly (bi below feeds two concurrent join stages).
            both = both.localCheckpoint(eager=True)
        sig_i = both.filter("__side = 1").drop("__side")
        bc_full = _banded(both.filter("__side = 0").drop("__side"))
    bi = _banded(sig_i)
    bc = bc_full.join(
        bi.select("band_idx", "band_key").distinct(),
        ["band_idx", "band_key"],
    )
    if max_bucket_size is not None:
        bc = cap_bucket_size(bc, max_bucket_size)
    cands = _band_candidates(bi, bc, id_col).localCheckpoint(eager=True)
    # read only by the materialized `cands`; frees `both` when the
    # increment signatures are a filter over it
    release_checkpoint(sig_i)
    verified = (
        cands.join(
            corpus.select(
                F.col(id_col).alias("corp_id"),
                F.col(vec_col).alias("__cv"),
            ),
            "corp_id",
        )
        .join(
            increment.select(
                F.col(id_col).alias("inc_id"),
                F.col(vec_col).alias("__iv"),
            ),
            "inc_id",
        )
        .withColumn(
            "cosine",
            F.round(
                cosine_similarity(F.col("__iv"), F.col("__cv")), 6
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )
    near = verified.groupBy("inc_id").agg(
        F.min("corp_id").alias("__nr")
    )
    return (
        increment.select(F.col(id_col))
        .join(near.withColumnRenamed("inc_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__nr").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.col("__nr").alias("dup_of"),
        )
        .orderBy(id_col)
    )


def embedding_band_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int = 32,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """The persisted SRP probe table for incremental embedding dedup:
    ``(id, band_idx, band_key)`` rows for one corpus slice — the
    embedding twin of the :func:`corpus_dedup_indexes` band index.
    Geometry is pinned by the caller (a persisted index cannot
    n-scale per read; re-index when the ladder steps)."""
    rows = n_bits // bands
    sig = hyperplane_signatures(df, id_col, vec_col, dim, n_bits, seed)
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("sig"), j * rows + 1, rows)
                    for j in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def component_groups(
    ids: DataFrame, id_col: str, comp: DataFrame
) -> DataFrame:
    """``(id_col, group_id, is_dup_member)`` for every row of ``ids``:
    group_id is the row's duplicate-component min-id from ``comp`` (the
    ``(doc_id, component)`` output of :func:`duplicate_components` or
    :func:`near_dup_components`), or its own id outside every group.
    The one routing rule behind every leakage-safe split: split on
    ``deterministic_split(group_id)`` and no duplicate group straddles
    a split boundary. The component-map join hint is measured-count
    guarded (VERDICT r5 #1): micro-batches and test corpora always fit,
    but on a dup-heavy crawl the map is corpus-scale and must not be
    force-broadcast."""
    m = comp.select(F.col("doc_id").alias(id_col), "component")
    return (
        ids.select(id_col)
        .join(broadcast_if_small(m), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("group_id"),
            F.col("component").isNotNull().alias("is_dup_member"),
        )
    )


def leakage_safe_assignments(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    splits: list[tuple[str, int]] | None = None,
    salt: str = "v1",
    **dedup_kwargs,
) -> DataFrame:
    """Component-routed :func:`deterministic_split` over an arbitrary
    docs frame: every near-dup GROUP (exact ∪ near components from
    :func:`near_dup_components`) shares one split, so a test doc's
    near-verbatim twin can never sit in train. Returns ``(id_col,
    group_id, split)`` (:func:`component_groups`). The corpus-level
    registered query (``dedup_leakage_safe_split``) uses the persisted
    pair-graph artifact instead; this form serves arbitrary slices —
    seed corpora and micro-batches in the incremental split sink."""
    comp = near_dup_components(docs, id_col, text_col, **dedup_kwargs)
    g = component_groups(docs, id_col, comp).drop("is_dup_member")
    # component_groups checkpointed its own copy of the map
    release_checkpoint(comp, keep=docs)
    return deterministic_split(g, "group_id", splits=splits, salt=salt)


def semantic_leakage_safe_assignments(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    splits: list[tuple[str, int]] | None = None,
    salt: str = "v1",
    **dedup_kwargs,
) -> DataFrame:
    """The embedding-side twin of :func:`leakage_safe_assignments`:
    components come from the SRP-LSH verified cosine pair graph
    (:func:`embedding_near_dup_pairs` → :func:`duplicate_components`),
    so two embeddings of the same content — paraphrases, re-encodings
    — share one group and therefore one split side. Returns
    ``(id_col, group_id, split)``. The corpus-level registered query
    (``dedup_semantic_leakage_split``) routes via the persisted SRP
    pair-graph artifact; this form serves arbitrary slices — seed
    corpora and micro-batches in
    :class:`streaming.incremental.SemanticLeakageSplitDedupSink`."""
    pairs = embedding_near_dup_pairs(
        vecs.select(id_col, vec_col), id_col, vec_col, dim, **dedup_kwargs
    )
    comp = duplicate_components(pairs)
    # the edges are materialized or collected: free the SRP candidates
    release_checkpoint(pairs, keep=vecs)
    g = component_groups(vecs, id_col, comp).drop("is_dup_member")
    # component_groups checkpointed its own copy of the map
    release_checkpoint(comp, keep=vecs)
    return deterministic_split(g, "group_id", splits=splits, salt=salt)
