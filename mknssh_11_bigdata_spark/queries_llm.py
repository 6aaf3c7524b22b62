"""LLM-data-pipeline queries: dedup, similarity search, text analysis.

North-star extensions (BASELINE.json) over the ``documents`` and
``embeddings`` tables. Every oracle reproduces the Spark computation
exactly — hashes are md5-over-strings, minima are lexicographic, vector
math is double-precision left-to-right folds — so even MinHash+LSH dedup
is hash-checked against DuckDB, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import text as TX
from .functions.numeric import nz
from .operators.dedup import (
    EMB_DIM,
    NUM_HASHES,
    SRP_BITS,
    embedding_cosine_pairs,
    embedding_near_dup_pairs,
    exact_duplicate_groups,
    jaccard_pairs,
    minhash_dedup_pairs,
    simhash,
)
from .operators.relational import deterministic_split
from .operators.similarity import brute_force_topk, ivf_topk
from .registry import register
from .sources.readers import load_table

# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (must mirror functions/text.py exactly)
# ---------------------------------------------------------------------------

#: tokens(text): whitespace split, empties removed
SQL_TOKS = "list_filter(string_split({col}, ' '), x -> x <> '')"

#: shingles(text, n=3): distinct word 3-grams (whole text if < 3 tokens)
SQL_SHINGLES3 = (
    "CASE WHEN len(t) >= 3 THEN "
    "list_distinct(list_transform(range(1, len(t)-1), "
    "i -> array_to_string(t[i:i+2], ' '))) "
    "ELSE [array_to_string(t, ' ')] END"
)

_STOPS_SQL = ", ".join(f"'{s}'" for s in TX.EN_STOPWORDS)

BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
JACCARD_THRESHOLD = 0.8
NGRAM_JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32
TOPK = 5
N_QUERY_VECS = 10
COSINE_DUP_THRESHOLD = 0.4  # synthetic embeddings: max pair ≈ 0.51 @ sf0.01

#: Hot-bucket guard cap, armed on every registered LSH query. Far above
#: any bucket at test SFs (max observed: 36 at sf0.1), so local output
#: stays exact and oracle-checked — while the anti-join guard path is
#: exercised by the driver gate. At 100 TB tune per corpus (a 10⁶-doc
#: boilerplate cluster in one bucket would alone emit 5·10¹¹ pairs).
LSH_MAX_BUCKET = 1000

#: The registered text-dedup chain (MinHash bands, LSH, Jaccard verify)
#: as keyword arguments, shared by every query that runs it.
LSH_CHAIN = dict(
    num_hashes=NUM_HASHES,
    bands=BANDS,
    shingle_n=3,
    threshold=JACCARD_THRESHOLD,
    max_bucket_size=LSH_MAX_BUCKET,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_fingerprint",
    r"""
    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content fingerprint (hash-groupBy; one
    shuffle of ~36-byte rows regardless of document size)."""
    return exact_duplicate_groups(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


def _minhash_oracle(
    table: str = "documents",
    threshold: float = JACCARD_THRESHOLD,
) -> str:
    from .operators.dedup import MINHASH_P, minhash_coefficients

    coeffs = minhash_coefficients(NUM_HASHES)
    sig_cols = ",\n           ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {j} AS band_idx, md5(concat_ws('|', '{j}', {hs})) AS band_key FROM sig".format(
            j=j,
            hs=", ".join(
                f"CAST(h{j * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for j in range(BANDS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS.format(col='text')} AS t FROM {table}
    ),
    sh AS (
        SELECT doc_id, {SQL_SHINGLES3} AS s FROM toks
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    exh AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                   % {MINHASH_P} AS x
        FROM ex
    ),
    sig AS (
        SELECT doc_id,
           {sig_cols}
        FROM exh GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM ex a
        JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE ROUND(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6) >= {threshold}
    """


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=12) → banded LSH(4×3) → exact-Jaccard-verified near-dup
    pairs ≥ 0.8. The full 100 TB dedup composition, hash-checked against
    a SQL oracle that reproduces every hash bit-for-bit. This query
    always COMPUTES the chain (it is the bench anchor for the chain's
    cost); downstream policy queries consume the persisted artifact via
    :func:`minhash_pair_graph` instead."""
    return minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        **LSH_CHAIN,
    )


#: Schemas the persisted pair graphs are written with, declared so a
#: read of the artifact runs no footer-inference job.
MINHASH_PAIRS_SCHEMA = "id_a BIGINT, id_b BIGINT, jaccard DOUBLE"
SRP_PAIRS_SCHEMA = "id_a BIGINT, id_b BIGINT, cosine DOUBLE"


def minhash_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair graph as a PERSISTED artifact
    (id_a, id_b, jaccard), built once per source-corpus content and
    reused by every pair-graph consumer — components, keep policies,
    label consensus, the triangle census, size/source matrices.

    This is how a production pipeline is actually shaped: the MinHash
    chain is the expensive job, its output is written to storage, and
    the (many, cheap) dedup POLICY passes are reads over that table —
    re-deriving the graph per policy would multiply the dominant cost
    by the number of consumers. Same prepared-artifact discipline as
    ``_bucketed_fact_tables``: the cache key is
    :func:`sources.readers.source_fingerprint` (path + file stats), so
    regenerated source data rebuilds the graph instead of serving a
    stale copy; the ``_SUCCESS`` marker gates against half-written
    artifacts; files live under the repo's gitignored
    ``spark-warehouse/``. Values are bit-identical to an inline chain
    (the chain is deterministic and the columns round-trip parquet
    exactly), so every consumer's oracle is unaffected."""
    import pathlib

    from .sources.readers import source_fingerprint

    from .operators.dedup import hash_family_digest

    tag = source_fingerprint(sf_dir, "documents")
    # chain geometry AND the code-level hash-family constants folded
    # into the key: a parameter change OR an edit to the hash family
    # (seed, modulus, coefficient stream) must rebuild, not silently
    # serve pairs from the old geometry/family (ADVICE r3)
    params = (
        f"k{NUM_HASHES}b{BANDS}s3"
        f"t{str(JACCARD_THRESHOLD).replace('.', 'p')}c{LSH_MAX_BUCKET}"
        f"h{hash_family_digest(NUM_HASHES, SRP_BITS, EMB_DIM)}"
    )
    warehouse = pathlib.Path(__file__).resolve().parent.parent / (
        "spark-warehouse"
    )
    path = warehouse / f"minhash_pairs_{params}_{tag}"
    if not (path / "_SUCCESS").exists():
        minhash_dedup_pairs(
            _t(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            **LSH_CHAIN,
        ).write.mode("overwrite").parquet(str(path))
    return spark.read.schema(MINHASH_PAIRS_SCHEMA).parquet(str(path))


#: Planted "re-crawl" id offset for the incremental-dedup query —
#: far above any doc_id at every test SF INCLUDING scale replicas
#: (make_scale_data offsets doc_ids by K x 10M), keeping id spaces
#: disjoint everywhere.
RECRAWL_OFFSET = 1_000_000_000_000

SQL_FP = r"md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))"


def _incremental_oracle() -> str:
    from .operators.dedup import MINHASH_P, minhash_coefficients

    coeffs = minhash_coefficients(NUM_HASHES)
    sig_cols = ",\n           ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT side, doc_id, {j} AS band_idx, "
        "md5(concat_ws('|', '{j}', {hs})) AS band_key FROM sig".format(
            j=j,
            hs=", ".join(
                f"CAST(h{j * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for j in range(BANDS)
    )
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
    ),
    inc AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id + {RECRAWL_OFFSET} AS doc_id, text
        FROM documents WHERE doc_id % 8 = 1
    ),
    cfp AS (SELECT doc_id AS cid, {SQL_FP} AS fp FROM corpus),
    ifp AS (SELECT doc_id, {SQL_FP} AS fp FROM inc),
    exact AS (
        SELECT i.doc_id, MIN(c.cid) AS ex
        FROM ifp i JOIN cfp c USING (fp) GROUP BY 1
    ),
    surv AS (
        SELECT * FROM inc
        WHERE doc_id NOT IN (SELECT doc_id FROM exact)
    ),
    alldocs AS (
        SELECT 0 AS side, doc_id, text FROM corpus
        UNION ALL
        SELECT 1 AS side, doc_id, text FROM surv
    ),
    toks AS (
        SELECT side, doc_id, {SQL_TOKS.format(col='text')} AS t
        FROM alldocs
    ),
    sh AS (SELECT side, doc_id, {SQL_SHINGLES3} AS s FROM toks),
    ex AS (SELECT side, doc_id, unnest(s) AS shingle FROM sh),
    exh AS (
        SELECT side, doc_id,
               CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                   % {MINHASH_P} AS x
        FROM ex
    ),
    sig AS (
        SELECT side, doc_id,
           {sig_cols}
        FROM exh GROUP BY side, doc_id
    ),
    bands AS (
{band_selects}
    ),
    cand AS (
        SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corp_id
        FROM bands i JOIN bands c
          ON i.band_idx = c.band_idx AND i.band_key = c.band_key
        WHERE i.side = 1 AND c.side = 0
    ),
    sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
    inter AS (
        SELECT n.inc_id, n.corp_id, COUNT(*) AS n_inter
        FROM cand n
        JOIN ex a ON a.doc_id = n.inc_id
        JOIN ex b ON b.doc_id = n.corp_id AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    near AS (
        SELECT i.inc_id, MIN(i.corp_id) AS nr
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.inc_id
        JOIN sizes sb ON sb.doc_id = i.corp_id
        WHERE ROUND(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6)
                  >= {JACCARD_THRESHOLD}
        GROUP BY 1
    )
    SELECT i.doc_id,
           CASE WHEN e.ex IS NOT NULL THEN 'exact_dup'
                WHEN n.nr IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS status,
           COALESCE(e.ex, n.nr) AS dup_of
    FROM inc i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN near n ON n.inc_id = i.doc_id
    ORDER BY i.doc_id
    """


@register("dedup_incremental", _incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the daily-crawl pattern:
    fingerprint-index exact gate, then MinHash band keys of the
    survivors PROBE the corpus LSH band index (no corpus self-join),
    then exact Jaccard on the candidate sliver. The increment here is
    the doc_id%4==0 slice plus planted verbatim "re-crawls" of corpus
    docs under offset ids, so all three statuses (exact_dup / near_dup /
    new) carry mass. Deterministic end-to-end; the oracle reproduces
    fingerprints, signatures, band buckets and verification
    bit-for-bit (see :func:`operators.dedup.incremental_dedup_status`
    for the 100 TB cost model)."""
    from .operators.dedup import incremental_dedup_status

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    inc = d.filter(F.col("doc_id") % 4 == 0).unionByName(
        d.filter(F.col("doc_id") % 8 == 1).select(
            (F.col("doc_id") + RECRAWL_OFFSET).alias("doc_id"), "text"
        )
    )
    return incremental_dedup_status(
        corpus,
        inc,
        "doc_id",
        "text",
        **LSH_CHAIN,
    )


@register("dedup_incremental_indexed", _incremental_oracle())
def dedup_incremental_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_incremental`` routed through the PERSISTED-INDEX probe
    path (:func:`operators.dedup.incremental_dedup_status_indexed`,
    the per-batch shape :class:`streaming.incremental.
    IndexedIncrementalDedupCorpusSink` maintains): the corpus-side
    fingerprint and LSH band indexes are built once and PROBED, the
    corpus is read only for candidate-touched texts, and the hot-bucket
    cap applies to the index restricted to the increment's own band
    keys (count-identical per bucket — see the operator's cap-
    equivalence note). Shares ``dedup_incremental``'s oracle verbatim:
    the routing semantics are identical by construction, so one SQL
    twin certifies both arms and any drift between them is a red hash
    row on exactly one of the two."""
    from .operators.dedup import (
        corpus_dedup_indexes,
        incremental_dedup_status_indexed,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    inc = d.filter(F.col("doc_id") % 4 == 0).unionByName(
        d.filter(F.col("doc_id") % 8 == 1).select(
            (F.col("doc_id") + RECRAWL_OFFSET).alias("doc_id"), "text"
        )
    )
    fp_index, band_index = corpus_dedup_indexes(
        corpus, "doc_id", "text", num_hashes=NUM_HASHES, bands=BANDS,
        shingle_n=3,
    )
    return incremental_dedup_status_indexed(
        corpus,
        fp_index,
        band_index,
        inc,
        "doc_id",
        "text",
        **LSH_CHAIN,
    )


#: Planted-excerpt id offset (above RECRAWL_OFFSET's range too).
EXCERPT_OFFSET = 2_000_000_000_000
EXCERPT_TOKENS = 10
CONTAINMENT_THRESHOLD = 0.9
#: Rare-shingle blocking cap: a shingle with df <= m emits <= m(m-1)/2
#: candidate pairs — the exact join-blowup bound.
RARE_DF_MAX = 4


def _containment_oracle() -> str:
    return f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    exc AS (
        SELECT doc_id + {EXCERPT_OFFSET} AS doc_id,
               array_to_string(
                   ({SQL_TOKS.format(col='text')})[1:{EXCERPT_TOKENS}],
                   ' ') AS text
        FROM documents WHERE doc_id % 16 = 3
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
    toks AS (
        SELECT doc_id, {SQL_TOKS.format(col='text')} AS t FROM corpus
    ),
    shl AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM toks),
    sh AS (SELECT doc_id, unnest(s) AS s FROM shl),
    dfq AS (SELECT s, COUNT(*) AS c FROM sh GROUP BY 1),
    rare AS (
        SELECT sh.doc_id, sh.s FROM sh JOIN dfq USING (s)
        WHERE dfq.c <= {RARE_DF_MAX}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM rare a JOIN rare b
          ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.n / LEAST(sa.sz, sb.sz), 6) AS containment,
           ROUND(i.n / (sa.sz + sb.sz - i.n), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE ROUND(i.n / LEAST(sa.sz, sb.sz), 6) >= {CONTAINMENT_THRESHOLD}
    ORDER BY id_a, id_b
    """


@register("dedup_containment", _containment_oracle())
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-shaped duplication (excerpts/quotes/boilerplate):
    rare-shingle blocking candidates → exact containment verification,
    with Jaccard alongside to show what Jaccard-only dedup would miss
    (planted 10-token excerpts score containment 1.0 at Jaccard ≈
    0.1-0.3, far below any near-dup threshold). The df-capped inverted
    index bounds candidate blowup EXACTLY (≤ m(m-1)/2 pairs per
    shingle), so cost stays linear in corpus size at constant m — see
    :func:`operators.dedup.rare_shingle_candidates`. Under VERBATIM
    replication every shingle's df exceeds the cap and recall degrades
    to zero while cost stays bounded (measured, BASELINE.md dense
    stress) — run :func:`operators.dedup.exact_collapse` first on
    copy-heavy corpora, which restores unique-text df counts."""
    from .operators.dedup import containment_pairs, rare_shingle_candidates

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = d.filter(F.col("doc_id") % 16 == 3).select(
        (F.col("doc_id") + EXCERPT_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(TX.tokens(F.col("text")), 1, EXCERPT_TOKENS), " "
        ).alias("text"),
    )
    corpus = d.unionByName(excerpts)
    # Candidate set is consumed by both the sliver cut and the pair
    # semi-join inside the verification core — materialize once.
    cands = rare_shingle_candidates(
        corpus, "doc_id", "text", max_df=RARE_DF_MAX
    ).localCheckpoint(eager=True)
    return containment_pairs(
        corpus,
        "doc_id",
        "text",
        threshold=CONTAINMENT_THRESHOLD,
        candidates=cands,
    ).orderBy("id_a", "id_b")


def _simhash_oracle() -> str:
    odd = ", ".join(f"'{h}'" for h in ("1", "3", "5", "7", "9", "b", "d", "f"))
    bit_exprs = ",\n        ".join(
        f"CASE WHEN SUM(CASE WHEN substr(th, {b + 1}, 1) IN ({odd}) "
        "THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH ex AS (
        SELECT doc_id, unnest({SQL_TOKS.format(col='text')}) AS tok
        FROM documents
    ),
    th AS (SELECT doc_id, md5(tok) AS th FROM ex)
    SELECT doc_id, concat(
        {bit_exprs}
    ) AS simhash
    FROM th GROUP BY doc_id
    """


@register("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) fingerprints for every document — near-dups land
    within small Hamming distance; banded substring equi-joins find them
    without all-pairs."""
    return simhash(
        _t(spark, sf_dir, "documents"), "doc_id", "text", bits=SIMHASH_BITS
    )


def _ngram_jaccard_oracle() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS.format(col='text')} AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, {SQL_SHINGLES3} AS s FROM toks
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM ex a
        JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE ROUND(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6)
          >= {NGRAM_JACCARD_THRESHOLD}
    """


@register("dedup_ngram_jaccard", _ngram_jaccard_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone exact n-gram Jaccard pairs ≥ 0.5 (no LSH pre-filter):
    the verification operator run on its own — correctness anchor for
    the MinHash path and the right tool when the corpus slice is small."""
    return jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_n=3,
        threshold=NGRAM_JACCARD_THRESHOLD,
    )


@register(
    "doc_rolling_fingerprint",
    f"""
    WITH toks AS (
        SELECT doc_id, source, {SQL_TOKS.format(col='text')} AS t
        FROM documents
    ),
    fp AS (
        SELECT doc_id, source,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(t, s ->
                           CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
                               % {TX.ROLL_MOD})),
                   (acc, x) -> (acc * {TX.ROLL_BASE} + x) % {TX.ROLL_MOD}
               ) AS roll_fp
        FROM toks
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT roll_fp) AS n_distinct_fp,
           MIN(roll_fp) AS min_fp,
           MAX(roll_fp) AS max_fp
    FROM fp GROUP BY source
    """,
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp–Rabin rolling-hash fingerprint per document (order-sensitive,
    pure fold), profiled per source: distinct-fp count = exact-dup signal
    at scan speed."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("source", TX.rolling_fingerprint(F.col("text")).alias("roll_fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("roll_fp").alias("n_distinct_fp"),
            F.min("roll_fp").alias("min_fp"),
            F.max("roll_fp").alias("max_fp"),
        )
    )


def _winnow_oracle() -> str:
    w, pb = TX.WINNOW_W, TX.WINNOW_PAIR_BASE
    return f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS.format(col='text')} AS t FROM documents
    ),
    hs AS (
        SELECT doc_id, len(t) AS n_toks,
               CASE WHEN len(t) >= 3 THEN
                   list_transform(range(1, len(t) - 1), i ->
                       CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1]
                           || ' ' || t[i+2]), 1, 15)) AS BIGINT)
                           % {TX.ROLL_MOD})
               ELSE [] END AS h
        FROM toks
    ),
    picks AS (
        SELECT doc_id,
               GREATEST(n_toks - 2, 0) AS n_grams,
               GREATEST(n_toks - 5, 0) AS n_windows,
               CASE WHEN len(h) >= {w} THEN
                   list_distinct(list_transform(
                       range(1, len(h) - {w} + 2), j ->
                       (j + {w} - list_position(
                            list_reverse(h[j:j+{w - 1}]),
                            list_min(h[j:j+{w - 1}])))
                           * {pb} + list_min(h[j:j+{w - 1}])))
               ELSE [] END AS p
        FROM hs
    )
    SELECT doc_id, n_grams, n_windows,
           len(p) AS n_fingerprints,
           CAST(COALESCE(list_sum(p), 0) AS BIGINT) AS fp_checksum,
           CASE WHEN n_windows > 0
                THEN ROUND(len(p) / n_windows, 4) END AS density
    FROM picks ORDER BY doc_id
    """


@register("doc_winnowing_fingerprints", _winnow_oracle())
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS scheme): positional 3-gram hashes → rightmost-minimum
    selection per sliding window of 4 → distinct packed picks. The
    fingerprint-SELECTION layer between full k-gram sets (too big) and
    single doc hashes (no partial-overlap signal): any shared 6-token
    run between two documents shares at least one pick, at O(n/w)
    fingerprints per doc. Pure Column expressions at scan speed; the
    oracle reproduces every hash, window minimum and tie-break."""
    from .plans.layout import spread

    d = _t(spark, sf_dir, "documents")
    # Two staged projections: tokens once per row, then the md5 gram
    # hashes once per row. The window build references the hash array
    # once per shifted slice — staging keeps the md5 build O(n), not
    # O(n x windows) (see winnow_picks' docstring; measured 107.6 s
    # inlined vs ~4.5 s staged+zipped at sf1-fair).
    staged = spread(d).select(
        "doc_id", TX.tokens(F.col("text")).alias("__t")
    )
    n = F.size("__t")
    hashed = staged.select(
        "doc_id",
        F.greatest(n - 2, F.lit(0)).cast("long").alias("n_grams"),
        F.greatest(n - 5, F.lit(0)).cast("long").alias("n_windows"),
        TX.gram_hashes(F.col("__t")).alias("__h"),
    )
    return (
        hashed.select(
            "doc_id",
            "n_grams",
            "n_windows",
            TX.winnow_picks(F.col("__h")).alias("__p"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_windows",
            F.size("__p").cast("long").alias("n_fingerprints"),
            F.aggregate(
                "__p", F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("fp_checksum"),
        )
        .withColumn(
            "density",
            F.when(
                F.col("n_windows") > 0,
                F.round(
                    F.col("n_fingerprints") / F.col("n_windows"), 4
                ),
            ),
        )
        .orderBy("doc_id")
    )


#: Deterministic slice bound for the registered EXACT all-pairs scorer.
#: Exact cosine is quadratic BY CONTRACT — its production role is
#: verifying bounded candidate slivers (the LSH query below), never
#: corpus-wide scans. The registered query pins that contract: score the
#: fixed id-slice, so the workload stays constant as the corpus grows
#: (covers all of sf0.001–sf0.1; at sf1+ replicas fall outside).
EXACT_COSINE_MAX_ID = 2000


@register(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id < {EXACT_COSINE_MAX_ID}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v) /
                (sqrt(list_dot_product(a.v, a.v)) *
                 sqrt(list_dot_product(b.v, b.v))), 6)
          >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs ≥ threshold — the all-pairs
    verification scorer (quadratic by contract, so the registered query
    scores a fixed deterministic id-slice; the pushed-down slice filter
    keeps the pair count constant under corpus growth). The oracle
    anchor for the LSH path below."""
    return embedding_cosine_pairs(
        _t(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < EXACT_COSINE_MAX_ID
        ),
        "vec_id",
        "embedding",
        threshold=COSINE_DUP_THRESHOLD,
    )


#: Auto-geometry switch points (mirror operators.dedup.srp_rows_per_band
#: with n_bits=32, target bucket load 64): n ≤ 64·2^8 → 8-bit bands,
#: n ≤ 64·2^16 → 16-bit, else one 32-bit band.
SRP_SWITCH_16 = 64 * (1 << 8)
SRP_SWITCH_32 = 64 * (1 << 16)


def _srp_lsh_oracle() -> str:
    """The SRP-LSH pipeline is seed-fixed and fully deterministic — the
    hyperplanes are literal arrays — so DuckDB reproduces every sign bit
    (verified bit-for-bit at sf0.01/sf0.1: list_dot_product folds doubles
    in the same left-to-right order as Spark's ``aggregate``). The band
    GEOMETRY is n-scaled (VERDICT r2 #3) via the same deterministic step
    function the operator uses — a CASE on the corpus count, so the
    oracle stays green at every SF while the 8-bit demo geometry never
    touches a 10⁵+-row corpus."""
    from .operators.dedup import hyperplane_coefficients

    planes = hyperplane_coefficients(SRP_BITS, EMB_DIM, seed=42)
    bit_sql = ",\n        ".join(
        "CASE WHEN list_dot_product(v, [%s]) > 0 THEN '1' ELSE '0' END"
        % ", ".join(repr(x) for x in plane)
        for plane in planes
    )
    cos = (
        "ROUND(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * "
        "sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    max_bands = SRP_BITS // 8
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    geom AS (
        SELECT CASE WHEN (SELECT COUNT(*) FROM e) <= {SRP_SWITCH_16}
                    THEN 8
                    WHEN (SELECT COUNT(*) FROM e) <= {SRP_SWITCH_32}
                    THEN 16
                    ELSE 32 END AS rows
    ),
    sig AS (
        SELECT vec_id, concat(
        {bit_sql}
        ) AS sig FROM e
    ),
    bands AS (
        SELECT s.vec_id, j AS band_idx,
               substr(s.sig, j * g.rows + 1, g.rows) AS band_key
        FROM sig s CROSS JOIN geom g CROSS JOIN (
            SELECT unnest([{", ".join(str(j) for j in range(max_bands))}])
                   AS j)
        WHERE j < {SRP_BITS} / g.rows
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, {cos} AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
    WHERE {cos} >= {COSINE_DUP_THRESHOLD}
    """


@register("dedup_embedding_cosine_lsh", _srp_lsh_oracle())
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH candidates → exact cosine verification:
    the 100 TB embedding-dedup composition (bucket joins, not corpus²).
    Approximate RECALL, but deterministic OUTPUT (seed-fixed literal
    hyperplanes) — the SQL oracle reproduces the sign bits, band buckets
    and verification bit-for-bit. Recall vs the exact scorer is
    additionally asserted in tests/test_dedup.py on planted dups.

    Band geometry is N-SCALED (``bands=None`` → the operator counts the
    corpus and picks the smallest rows-per-band keeping expected random
    bucket load ≤ 64): ≤16384 vectors → 4×8-bit bands (candidates ≈
    4·n²/512 of all-pairs), ≤4.2M → 2×16-bit, else 1×32-bit — so the
    geometry that BASELINE.md measured saturating at 100k vectors
    (100.6M candidate pairs) is never the registered behavior at that
    scale. Recall shifts toward near-1-cosine pairs as bands widen
    (P(bit)≈0.86 at cosine 0.9 → 8-bit band recall ≈ 0.74; the
    _fine variant certifies the 16-bit regime on planted dups)."""
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        dim=EMB_DIM,
        threshold=COSINE_DUP_THRESHOLD,
        n_bits=SRP_BITS,
        bands=None,
        max_bucket_size=LSH_MAX_BUCKET,
    )


def srp_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified embedding near-dup pair graph (id_a, id_b, cosine)
    as a PERSISTED artifact — the embedding-side twin of
    :func:`minhash_pair_graph`, same prepared-artifact discipline:
    keyed on the source fingerprint plus the chain parameters (the
    n-scaled band geometry is a deterministic function of the corpus,
    which the fingerprint already pins), ``_SUCCESS``-gated, stored
    under the gitignored ``spark-warehouse/``. Policy consumers
    (components today) read it; ``dedup_embedding_cosine_lsh`` keeps
    computing the chain inline as the bench anchor. Values are
    bit-identical to the inline chain, so consumer oracles are
    unaffected."""
    import pathlib

    from .operators.dedup import embedding_near_dup_pairs, hash_family_digest
    from .sources.readers import source_fingerprint

    tag = source_fingerprint(sf_dir, "embeddings")
    params = (
        f"b{SRP_BITS}auto"
        f"t{str(COSINE_DUP_THRESHOLD).replace('.', 'p')}c{LSH_MAX_BUCKET}"
        f"h{hash_family_digest(NUM_HASHES, SRP_BITS, EMB_DIM)}"
    )
    warehouse = pathlib.Path(__file__).resolve().parent.parent / (
        "spark-warehouse"
    )
    path = warehouse / f"srp_pairs_{params}_{tag}"
    if not (path / "_SUCCESS").exists():
        embedding_near_dup_pairs(
            _t(spark, sf_dir, "embeddings"),
            "vec_id",
            "embedding",
            dim=EMB_DIM,
            threshold=COSINE_DUP_THRESHOLD,
            n_bits=SRP_BITS,
            bands=None,
            max_bucket_size=LSH_MAX_BUCKET,
        ).write.mode("overwrite").parquet(str(path))
    return spark.read.schema(SRP_PAIRS_SCHEMA).parquet(str(path))


# --- Fine-band SRP geometry over planted near-duplicates -------------------
#
# BASELINE.md "SRP band-key saturation" measured why the 8-bit-band
# geometry above stops pruning once n ≫ 2^r. The scale answer is wider
# band keys — but fine bands only catch pairs with near-1 cosine, and the
# synthetic corpus's max pair cosine is ≈ 0.51, so a 16-bit-band query on
# the raw table would certify an empty set. This query plants the
# near-dup mass itself: a deterministic low-amplitude perturbation of the
# first N_PLANTED vectors (cosine ≈ 0.9987 to their originals) appended
# under offset ids. Everything stays seed-fixed and double-precision, so
# the DuckDB oracle reproduces perturbation, sign bits, band buckets and
# verification bit-for-bit.

SRP_FINE_BANDS = 2  # 32 bits / 2 bands = 16-bit band keys (2^16 buckets)
N_PLANTED = 64
PLANT_ID_OFFSET = 1_000_000
PLANT_COS_THRESHOLD = 0.99


def _planted_corpus(emb: DataFrame) -> DataFrame:
    """Embeddings (as double vectors) plus deterministic near-dup
    plants: vec i gains component jitter 0.002·((i·37 mod 11) − 5),
    i.e. ≤ 1% per component on unit-norm vectors."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    planted = base.filter(F.col("vec_id") < N_PLANTED).select(
        (F.col("vec_id") + PLANT_ID_OFFSET).alias("vec_id"),
        F.transform(
            "v", lambda x, i: x + F.lit(0.002) * ((i * 37 % 11) - 5)
        ).alias("v"),
    )
    return base.unionByName(planted)


def _srp_fine_oracle() -> str:
    from .operators.dedup import hyperplane_coefficients

    planes = hyperplane_coefficients(SRP_BITS, EMB_DIM, seed=42)
    rows = SRP_BITS // SRP_FINE_BANDS
    bit_sql = ",\n        ".join(
        "CASE WHEN list_dot_product(v, [%s]) > 0 THEN '1' ELSE '0' END"
        % ", ".join(repr(x) for x in plane)
        for plane in planes
    )
    cos = (
        "ROUND(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * "
        "sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    planted AS (
        SELECT vec_id + {PLANT_ID_OFFSET} AS vec_id,
               list_transform(range(1, len(v) + 1),
                   i -> v[i] + CAST(0.002 AS DOUBLE)
                        * (((i - 1) * 37 % 11) - 5)) AS v
        FROM base WHERE vec_id < {N_PLANTED}
    ),
    e AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    sig AS (
        SELECT vec_id, concat(
        {bit_sql}
        ) AS sig FROM e
    ),
    bands AS (
        SELECT vec_id, j AS band_idx, substr(sig, j * {rows} + 1, {rows})
                   AS band_key
        FROM sig CROSS JOIN (
            SELECT unnest([{", ".join(str(j) for j in range(SRP_FINE_BANDS))}])
                   AS j)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, {cos} AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
    WHERE {cos} >= {PLANT_COS_THRESHOLD}
    """


@register("dedup_embedding_cosine_lsh_fine", _srp_fine_oracle())
def dedup_embedding_cosine_lsh_fine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """16-bit-band SRP-LSH — the large-corpus geometry — certified on
    planted near-duplicates. 2 bands × 16 bits give 2^16 band keys, so
    expected RANDOM bucket load is n/65536 (the saturation fix for
    n ≫ 2^8 corpora, see BASELINE.md); recall concentrates on
    near-1-cosine pairs (P(bit)≈0.984 at the planted cosine 0.9987 →
    ≈ 0.95 pair recall), which is exactly the regime wide bands are
    for. Deterministic end-to-end: seed-fixed hyperplanes, literal
    perturbation, double-fold cosine — the oracle reproduces the full
    pipeline bit-for-bit."""
    return embedding_near_dup_pairs(
        _planted_corpus(_t(spark, sf_dir, "embeddings")),
        "vec_id",
        "v",
        dim=EMB_DIM,
        threshold=PLANT_COS_THRESHOLD,
        n_bits=SRP_BITS,
        bands=SRP_FINE_BANDS,
        max_bucket_size=LSH_MAX_BUCKET,
    )


VOCAB_K = 100


@register(
    "corpus_vocabulary",
    f"""
    WITH ex AS (
        SELECT doc_id,
               unnest({SQL_TOKS.format(col='lower(text)')}) AS token
        FROM documents
    ),
    agg AS (
        SELECT token,
               COUNT(*) AS term_freq,
               COUNT(DISTINCT doc_id) AS doc_freq
        FROM ex GROUP BY token
    )
    SELECT token, term_freq, doc_freq, rank FROM (
        SELECT token, term_freq, doc_freq,
               CAST(ROW_NUMBER() OVER
                    (ORDER BY term_freq DESC, token ASC) AS INTEGER) AS rank
        FROM agg
    ) WHERE rank <= {VOCAB_K}
    """,
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k corpus vocabulary by term frequency (tokenizer-building
    shape): explode tokens → one partial-aggregating groupBy →
    TakeOrderedAndProject top-k → rank the k survivors. The global
    window runs on k rows, never on the corpus."""
    from .plans.layout import spread

    d = _t(spark, sf_dir, "documents")
    agg = (
        spread(d).select(
            "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("token")
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
    )
    top = agg.orderBy(
        F.col("term_freq").desc(), F.col("token").asc()
    ).limit(VOCAB_K)
    w = Window.orderBy(F.col("term_freq").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w))


TFIDF_TOPK = 3


@register(
    "doc_tfidf_top_terms",
    f"""
    WITH ex AS (
        SELECT doc_id,
               unnest({SQL_TOKS.format(col='lower(text)')}) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM ex GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0),
                     6) AS tfidf
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    )
    SELECT doc_id, rank, token, tfidf FROM (
        SELECT doc_id, token, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, token ASC) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {TFIDF_TOPK}
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1))+1, the sklearn convention): one explode, two
    aggregations sharing the token key, scalar doc count broadcast via
    crossJoin, per-doc ranking window. The keyword-extraction shape of
    a training-data pipeline, all JVM-side."""
    from .plans.layout import spread

    d = _t(spark, sf_dir, "documents")
    ex = spread(d).select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("token")
    )
    # tf feeds both the document-frequency build and the score join —
    # materialize it once (the standard inverted-index build step; at
    # scale this is the term-frequency table every IR system persists).
    tf = (
        ex.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + 1.0
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "rank", "token", "tfidf")
    )


def _components_oracle() -> str:
    pairs = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, root) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.root
        FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, MIN(root) AS component
    FROM reach GROUP BY id
    """


@register("dedup_connected_components", _components_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUP resolution: MinHash near-dup pairs → connected
    components by iterative min-label propagation (transitively closes
    A≈B≈C chains into one group with one keeper = the min id). The
    oracle computes the same closure with a recursive CTE. Consumes
    the persisted pair graph (:func:`minhash_pair_graph`)."""
    from .operators.dedup import duplicate_components

    return duplicate_components(minhash_pair_graph(spark, sf_dir))


def _keep_list_oracle() -> str:
    components = _components_oracle()
    return f"""
    WITH comp AS ({components})
    SELECT d.doc_id FROM documents d
    LEFT JOIN comp ON d.doc_id = comp.doc_id
    WHERE comp.doc_id IS NULL OR comp.component = d.doc_id
    """


@register("dedup_keep_list", _keep_list_oracle())
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup POLICY output — the corpus that survives: every doc not
    in any near-dup group, plus one keeper (the min id) per group.
    Closes the loop pairs → components → kept corpus; at 100 TB the
    component map is tiny relative to the corpus, so the final filter is
    a broadcast anti-join-shaped pass over the full table. The hint is
    measured-count guarded (VERDICT r5 #1): on a boilerplate-heavy
    crawl the loser set is corpus-scale and must not be force-cast."""
    from .operators.dedup import duplicate_components
    from .plans.layout import broadcast_if_small

    d = _t(spark, sf_dir, "documents")
    comp = duplicate_components(minhash_pair_graph(spark, sf_dir))
    losers = comp.filter(F.col("component") != F.col("doc_id")).select(
        "doc_id"
    )
    return d.select("doc_id").join(
        broadcast_if_small(losers), "doc_id", "left_anti"
    )


def leakage_safe_split_assignments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc (doc_id, group_id, is_dup_member, split) assignment with
    the NO-LEAKAGE guarantee: the split is a pure function of the
    near-dup GROUP id (component min-id for dup members, own id
    otherwise), so two near-duplicate documents can never land on
    opposite sides of a train/test boundary — the split-contamination
    failure mode a naive per-doc hash split has (a test doc's verbatim
    twin in train inflates eval). Shared by the registered summary
    query and the property tests.

    Scale (VERDICT r5 #1): the component-map join hint is
    measured-count guarded via :func:`broadcast_if_small` — at sf0.1
    the map is a sliver and broadcasts; on a crawl where dup members
    are 30–50% of the corpus the map is corpus-scale, the hint stays
    off, and AQE picks the join strategy from runtime stats."""
    from .operators.dedup import component_groups, duplicate_components

    comp = duplicate_components(minhash_pair_graph(spark, sf_dir))
    d = _t(spark, sf_dir, "documents")
    return deterministic_split(component_groups(d, "doc_id", comp), "group_id")


def _leakage_split_oracle() -> str:
    components = _components_oracle()
    return f"""
    WITH comp AS ({components}),
    g AS (
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS group_id,
               c.doc_id IS NOT NULL AS is_dup_member
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    b AS (
        SELECT doc_id, group_id, is_dup_member,
               CAST(('0x' || substr(md5('v1|' || CAST(group_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) % 100 AS bucket
        FROM g
    ),
    s AS (
        SELECT *, CASE WHEN bucket < 80 THEN 'train'
                       WHEN bucket < 90 THEN 'val'
                       ELSE 'test' END AS split
        FROM b
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT group_id) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN is_dup_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_member_docs
    FROM s GROUP BY split ORDER BY split
    """


@register("dedup_leakage_safe_split", _leakage_split_oracle())
def dedup_leakage_safe_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe train/val/test split — the dedup machinery's
    eval-hygiene payoff: route every near-dup COMPONENT (not every doc)
    through the deterministic md5-bucket split, so a test document's
    near-verbatim twin cannot sit in train (the contamination that
    silently inflates benchmark scores; the per-doc
    ``doc_deterministic_split`` has no such guarantee). Group id =
    component min-id for dup members, own id otherwise; the split is a
    pure function of (salt, group_id), stable under data growth.

    Scale: the component map is pair-sliver-sized (broadcast left
    join onto the corpus scan); the split expression is narrow-only on
    top — corpus-sized work is ONE pass. Summary rows certify the
    assignment volume per side; the no-leakage property itself is
    structural (split = f(group)) and pinned by a planted test."""
    a = leakage_safe_split_assignments(spark, sf_dir)
    return (
        a.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("group_id").cast("long").alias("n_groups"),
            F.sum(F.col("is_dup_member").cast("long"))
            .cast("long")
            .alias("n_dup_member_docs"),
        )
        .orderBy("split")
    )


def _doc_quality_sql() -> str:
    """Per-doc quality score as SQL — mirrors TX.quality_score."""
    toks = SQL_TOKS.format(col="text")
    lower_toks = SQL_TOKS.format(col="lower(text)")
    return f"""
        SELECT doc_id,
            (CASE WHEN length(text) >= 50 AND length(text) <= 100000
                  THEN 1.0 ELSE 0.0 END
           + CASE WHEN len({toks}) > 0
                       AND list_sum(list_transform({toks},
                               x -> CAST(length(x) AS DOUBLE)))
                           / len({toks}) >= 2.0
                       AND list_sum(list_transform({toks},
                               x -> CAST(length(x) AS DOUBLE)))
                           / len({toks}) <= 12.0
                  THEN 1.0 ELSE 0.0 END
           + CASE WHEN len({lower_toks}) > 0
                       AND len(list_filter({lower_toks},
                               x -> x IN ({_STOPS_SQL})))
                           / len({lower_toks}) >= 0.01
                  THEN 1.0 ELSE 0.0 END
           + CASE WHEN len({toks}) >= 10 THEN 1.0 ELSE 0.0 END) / 4.0
               AS q
        FROM documents
    """


def _keep_best_oracle() -> str:
    components = _components_oracle()
    return f"""
    WITH comp AS ({components}),
    q AS ({_doc_quality_sql()}),
    scored AS (
        SELECT c.doc_id, c.component, q.q, d.n_chars
        FROM comp c
        JOIN q ON q.doc_id = c.doc_id
        JOIN documents d ON d.doc_id = c.doc_id
    ),
    rn AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY component
                                  ORDER BY q DESC, n_chars DESC,
                                           doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY component) AS n_docs
        FROM scored
    )
    SELECT component, doc_id AS keeper, n_docs,
           ROUND(q, 6) AS keeper_quality,
           n_chars AS keeper_chars
    FROM rn WHERE rn = 1 ORDER BY component
    """


@register("dedup_keep_best", _keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted dedup survivorship: per near-dup component keep
    the HIGHEST-QUALITY member, then the LONGEST, then the min id —
    the policy production curation actually wants (of k near-identical
    crawls, keep the cleanest fullest copy; flips the keeper away from
    min-id for 10 of 23 components at sf0.01). Composition: MinHash chain → components
    → per-doc quality score → one row_number window over the (tiny)
    component map. The quality join touches only component members, so
    at 100 TB the policy layer costs a scan of the duplicate sliver,
    not the corpus."""
    from .operators.dedup import duplicate_components

    d = _t(spark, sf_dir, "documents")
    comp = duplicate_components(minhash_pair_graph(spark, sf_dir))
    q = d.select(
        "doc_id",
        "n_chars",
        F.round(TX.quality_score(F.col("text")), 6).alias("q"),
    )
    scored = comp.join(q, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("q").desc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("component")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keeper"),
            "n_docs",
            F.col("q").alias("keeper_quality"),
            F.col("n_chars").alias("keeper_chars"),
        )
        .orderBy("component")
    )


def _collapsed_components_oracle() -> str:
    # Exact collapse (window min/count over the normalized-content
    # fingerprint) -> MinHash/LSH/Jaccard pairs over representatives
    # only -> recursive-CTE closure -> expand back through the mapping.
    pairs = _minhash_oracle(table="repdocs")
    return rf"""
    WITH RECURSIVE fpm AS (
        SELECT doc_id, text,
               MIN(doc_id) OVER w AS rep_id,
               COUNT(*) OVER w AS group_n
        FROM documents
        WINDOW w AS (
            PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        )
    ),
    repdocs AS (SELECT doc_id, text FROM fpm WHERE doc_id = rep_id),
    pairs AS ({pairs}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, root) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.root
        FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id, MIN(root) AS component FROM reach GROUP BY id)
    SELECT f.doc_id, COALESCE(c.component, f.rep_id) AS component
    FROM fpm f LEFT JOIN comp c ON c.id = f.rep_id
    WHERE f.group_n >= 2 OR c.id IS NOT NULL
    """


@register("dedup_collapsed_components", _collapsed_components_oracle())
def dedup_collapsed_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup composition: collapse exact duplicates FIRST
    (window min over the content fingerprint — one shuffle), run
    MinHash→LSH→Jaccard→components over unique texts only, then expand
    labels back to every doc through the rep mapping. Verbatim k-copy
    groups — the bulk of crawl-scale duplicate mass — cost k rows in one
    shuffle here instead of k² LSH pairs; equivalent to components over
    the union graph, which the oracle reproduces with a recursive CTE."""
    from .operators.dedup import near_dup_components

    return near_dup_components(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        **LSH_CHAIN,
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_SQL = (
    "ROUND(list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)"
)


@register(
    "embedding_topk_cosine",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine
        FROM c CROSS JOIN q
        WHERE query_id <> neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {TOPK}
    """,
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline): broadcast the
    query set, score the corpus in one scan, rank per query. Vector math
    is a JVM-side double fold — bit-reproducible by the SQL oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        k=TOPK,
    )


IVF_CENTROIDS = 16
IVF_PROBE = 4


def _ivf_oracle() -> str:
    """The IVF pipeline is deterministic end-to-end (min-id centroids,
    rounded-cosine argmax assignment with id tie-break, rounded probe
    ranking), so every stage is window SQL."""
    cos_ac = (
        "ROUND(list_dot_product(cv, cent) / "
        "(sqrt(list_dot_product(cv, cv)) * "
        "sqrt(list_dot_product(cent, cent))), 6)"
    )
    cos_qc = (
        "ROUND(list_dot_product(qv, cent) / "
        "(sqrt(list_dot_product(qv, qv)) * "
        "sqrt(list_dot_product(cent, cent))), 6)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS centroid_id, v AS cent FROM e
        ORDER BY vec_id ASC LIMIT {IVF_CENTROIDS}
    ),
    assigned AS (
        SELECT neighbor_id, cv, centroid_id FROM (
            SELECT e.vec_id AS neighbor_id, e.v AS cv, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                        ORDER BY {cos_ac} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM e CROSS JOIN cent
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM e
        WHERE vec_id < {N_QUERY_VECS}
    ),
    probed AS (
        SELECT query_id, qv, centroid_id FROM (
            SELECT q.query_id, q.qv, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                        ORDER BY {cos_qc} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM q CROSS JOIN cent
        ) WHERE rn <= {IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               ROUND(list_dot_product(p.qv, a.cv) /
                     (sqrt(list_dot_product(p.qv, p.qv)) *
                      sqrt(list_dot_product(a.cv, a.cv))), 6) AS cosine
        FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
        WHERE p.query_id <> a.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER)
                   AS rank
        FROM scored
    ) WHERE rank <= {TOPK}
    """


@register("embedding_topk_ivf", _ivf_oracle())
def embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (scan ~n_probe/n_centroids of the
    corpus). Approximate RECALL, but deterministic OUTPUT (min-id
    centroids, rounded-cosine assignment/probe ranking with id
    tie-breaks) — the SQL oracle replays every stage as window SQL.
    Recall vs the brute-force baseline is additionally asserted in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        k=TOPK,
        n_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
    )


@register("embedding_topk_ivf_fast", _ivf_oracle())
def embedding_topk_ivf_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_topk_ivf``'s Arrow/numpy production arm
    (:func:`operators.similarity.ivf_topk_arrow`): identical stage
    semantics and the SAME oracle, with assignment/probe/score as batch
    matmuls over Arrow batches instead of interpreted HOF folds — the
    compute lever beside ``embedding_topk_ivf_int8``'s bandwidth lever,
    and the SemDeDup-fast pattern applied to ANN. Registering both arms
    against one oracle means any drift between the JVM and numpy float
    paths shows up as a red hash row on exactly one of them."""
    from .operators.similarity import ivf_topk_arrow

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_arrow(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        k=TOPK,
        n_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
    )


KM_CENTROIDS = 8
KM_ITERS = 2


def _ivf_kmeans_oracle() -> str:
    """Unrolled fixed-iteration Lloyd k-means in SQL, then the same IVF
    stages as :func:`_ivf_oracle`. Every iteration is: rounded-cosine
    argmax assignment (id tie-break) → per-dimension rounded means with
    empty-cluster carry-over — the exact determinism contract of
    ``operators.similarity.kmeans_centroids``."""
    cos_fc = (
        "ROUND(list_dot_product(f.v, c.emb) / "
        "(sqrt(list_dot_product(f.v, f.v)) * "
        "sqrt(list_dot_product(c.emb, c.emb))), 6)"
    )
    iter_ctes = []
    for it in range(1, KM_ITERS + 1):
        p = it - 1
        iter_ctes.append(f"""
    a{it} AS (
        SELECT vec_id, v, cid FROM (
            SELECT f.vec_id, f.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY f.vec_id
                        ORDER BY {cos_fc} DESC NULLS LAST,
                                 c.cid ASC) AS rn
            FROM e f CROSS JOIN c{p} c
        ) WHERE rn = 1
    ),
    m{it} AS (
        SELECT cid, dim, ROUND(AVG(x), 9) AS m
        FROM (SELECT cid, unnest(v) AS x,
                     generate_subscripts(v, 1) AS dim
              FROM a{it})
        GROUP BY cid, dim
    ),
    c{it} AS (
        SELECT c.cid,
               COALESCE((SELECT list(m ORDER BY dim)
                         FROM m{it} WHERE m{it}.cid = c.cid),
                        c.emb) AS emb
        FROM c{p} c
    )""")
    cos_ac = (
        "ROUND(list_dot_product(cv, cent) / "
        "(sqrt(list_dot_product(cv, cv)) * "
        "sqrt(list_dot_product(cent, cent))), 6)"
    )
    cos_qc = (
        "ROUND(list_dot_product(qv, cent) / "
        "(sqrt(list_dot_product(qv, qv)) * "
        "sqrt(list_dot_product(cent, cent))), 6)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1
                    AS INTEGER) AS cid, v AS emb
        FROM (SELECT vec_id, v FROM e
              ORDER BY vec_id ASC LIMIT {KM_CENTROIDS})
    ),{",".join(iter_ctes)},
    cent AS (
        SELECT cid AS centroid_id, emb AS cent FROM c{KM_ITERS}
    ),
    assigned AS (
        SELECT neighbor_id, cv, centroid_id FROM (
            SELECT e.vec_id AS neighbor_id, e.v AS cv, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                        ORDER BY {cos_ac} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM e CROSS JOIN cent
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM e
        WHERE vec_id < {N_QUERY_VECS}
    ),
    probed AS (
        SELECT query_id, qv, centroid_id FROM (
            SELECT q.query_id, q.qv, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                        ORDER BY {cos_qc} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM q CROSS JOIN cent
        ) WHERE rn <= {IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               ROUND(list_dot_product(p.qv, a.cv) /
                     (sqrt(list_dot_product(p.qv, p.qv)) *
                      sqrt(list_dot_product(a.cv, a.cv))), 6) AS cosine
        FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
        WHERE p.query_id <> a.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER)
                   AS rank
        FROM scored
    ) WHERE rank <= {TOPK}
    """


@register("embedding_topk_ivf_kmeans", _ivf_kmeans_oracle())
def embedding_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with REAL k-means centroids: deterministic Lloyd fit
    (fixed init/iterations/rounding — operators.similarity.
    kmeans_centroids) feeding the same IVF probe plan. Upgrades the
    min-id centroid stand-in to the index a production ANN build uses,
    while keeping the exact SQL-oracle gate: the oracle unrolls the
    same two Lloyd iterations in SQL."""
    from .operators.similarity import kmeans_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(
        emb, "vec_id", "embedding", n_centroids=KM_CENTROIDS, iters=KM_ITERS
    )
    return ivf_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        k=TOPK,
        n_probe=IVF_PROBE,
        centroids=cents,
    )


PQ_SUB = 4  # subspaces (EMB_DIM/PQ_SUB dims each)
PQ_CODES = 8  # codes per subspace codebook
PQ_ITERS = 2  # Lloyd iterations per codebook (the KM_ITERS contract)


def _pq_subspace_ctes() -> list[str]:
    """The per-subspace SQL blocks shared by ``_pq_oracle`` and
    ``_ivf_pq_oracle``: for each subspace, the unrolled deterministic
    Lloyd fit (same contract as :func:`_ivf_kmeans_oracle`) on the
    SLICED subvectors, then the argmax-cosine corpus encode. Assumes a
    CTE ``e(vec_id, v DOUBLE[])`` is in scope."""
    sub_dim = EMB_DIM // PQ_SUB
    ctes = []
    for s in range(PQ_SUB):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        sv = f"v[{lo}:{hi}]"
        cos = (
            f"ROUND(list_dot_product(f.sv, c.emb) / "
            f"(sqrt(list_dot_product(f.sv, f.sv)) * "
            f"sqrt(list_dot_product(c.emb, c.emb))), 6)"
        )
        ctes.append(f"""
    e{s} AS (SELECT vec_id, {sv} AS sv FROM e),
    s{s}c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1
                    AS INTEGER) AS cid, sv AS emb
        FROM (SELECT vec_id, sv FROM e{s}
              ORDER BY vec_id ASC LIMIT {PQ_CODES})
    )""")
        for it in range(1, PQ_ITERS + 1):
            p = it - 1
            ctes.append(f"""
    s{s}a{it} AS (
        SELECT vec_id, sv, cid FROM (
            SELECT f.vec_id, f.sv, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY f.vec_id
                        ORDER BY {cos} DESC NULLS LAST,
                                 c.cid ASC) AS rn
            FROM e{s} f CROSS JOIN s{s}c{p} c
        ) WHERE rn = 1
    ),
    s{s}m{it} AS (
        SELECT cid, dim, ROUND(AVG(x), 9) AS m
        FROM (SELECT cid, unnest(sv) AS x,
                     generate_subscripts(sv, 1) AS dim
              FROM s{s}a{it})
        GROUP BY cid, dim
    ),
    s{s}c{it} AS (
        SELECT c.cid,
               COALESCE((SELECT list(m ORDER BY dim)
                         FROM s{s}m{it} WHERE s{s}m{it}.cid = c.cid),
                        c.emb) AS emb
        FROM s{s}c{p} c
    )""")
        # encode the corpus against the fitted codebook
        cos_e = (
            f"ROUND(list_dot_product(f.sv, c.emb) / "
            f"(sqrt(list_dot_product(f.sv, f.sv)) * "
            f"sqrt(list_dot_product(c.emb, c.emb))), 6)"
        )
        ctes.append(f"""
    enc{s} AS (
        SELECT vec_id, cid AS code{s}, n{s} FROM (
            SELECT f.vec_id, c.cid,
                   list_dot_product(c.emb, c.emb) AS n{s},
                   ROW_NUMBER() OVER (PARTITION BY f.vec_id
                        ORDER BY {cos_e} DESC NULLS LAST,
                                 c.cid ASC) AS rn
            FROM e{s} f CROSS JOIN s{s}c{PQ_ITERS} c
        ) WHERE rn = 1
    )""")
    return ctes


def _pq_score_fragments() -> tuple[str, str, str, str]:
    """(lut_terms, n_terms, enc_joins, cb_joins) — the ADC scoring SQL
    fragments shared by both PQ oracles; sums left-associated to match
    the Spark side exactly."""
    sub_dim = EMB_DIM // PQ_SUB
    lut_terms = " + ".join(
        f"list_dot_product(q.v[{s * sub_dim + 1}:{(s + 1) * sub_dim}], "
        f"cb{s}.emb)"
        for s in range(PQ_SUB)
    )
    n_terms = " + ".join(f"enc{s}.n{s}" for s in range(PQ_SUB))
    enc_joins = "\n        ".join(
        f"JOIN enc{s} ON enc{s}.vec_id = enc0.vec_id"
        for s in range(1, PQ_SUB)
    )
    cb_joins = "\n        ".join(
        f"JOIN s{s}c{PQ_ITERS} cb{s} ON cb{s}.cid = enc{s}.code{s}"
        for s in range(PQ_SUB)
    )
    return lut_terms, n_terms, enc_joins, cb_joins


def _pq_oracle() -> str:
    """Full product-quantization replay in SQL: per subspace, the
    unrolled deterministic Lloyd fit on the SLICED subvectors, then
    argmax-cosine encoding, ADC lookup dots, and the left-associated
    reconstructed-cosine score."""
    ctes = _pq_subspace_ctes()
    lut_terms, n_terms, enc_joins, cb_joins = _pq_score_fragments()
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),{",".join(ctes)},
    q AS (
        SELECT vec_id AS query_id, v,
               sqrt(list_dot_product(v, v)) AS qn
        FROM e WHERE vec_id < {N_QUERY_VECS}
    ),
    scored AS (
        SELECT q.query_id, enc0.vec_id AS neighbor_id,
               ROUND(({lut_terms})
                     / (q.qn * sqrt({n_terms})), 6) AS cosine
        FROM q CROSS JOIN enc0
        {enc_joins}
        {cb_joins}
        WHERE q.query_id <> enc0.vec_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER)
                   AS rank
        FROM scored
    ) WHERE rank <= {TOPK}
    """


def _ivf_pq_oracle() -> str:
    """IVF-PQ replay in SQL: the coarse full-vector Lloyd fit +
    assignment + probe of :func:`_ivf_kmeans_oracle` (KM_CENTROIDS
    cells, IVF_PROBE probed), composed with the per-subspace PQ fit +
    encode + ADC score of :func:`_pq_oracle` — scoring only pairs
    whose corpus cell is among the query's probed cells."""
    cos_fc = (
        "ROUND(list_dot_product(f.v, c.emb) / "
        "(sqrt(list_dot_product(f.v, f.v)) * "
        "sqrt(list_dot_product(c.emb, c.emb))), 6)"
    )
    coarse = [f"""
    gc0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1
                    AS INTEGER) AS cid, v AS emb
        FROM (SELECT vec_id, v FROM e
              ORDER BY vec_id ASC LIMIT {KM_CENTROIDS})
    )"""]
    for it in range(1, KM_ITERS + 1):
        p = it - 1
        coarse.append(f"""
    ga{it} AS (
        SELECT vec_id, v, cid FROM (
            SELECT f.vec_id, f.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY f.vec_id
                        ORDER BY {cos_fc} DESC NULLS LAST,
                                 c.cid ASC) AS rn
            FROM e f CROSS JOIN gc{p} c
        ) WHERE rn = 1
    ),
    gm{it} AS (
        SELECT cid, dim, ROUND(AVG(x), 9) AS m
        FROM (SELECT cid, unnest(v) AS x,
                     generate_subscripts(v, 1) AS dim
              FROM ga{it})
        GROUP BY cid, dim
    ),
    gc{it} AS (
        SELECT c.cid,
               COALESCE((SELECT list(m ORDER BY dim)
                         FROM gm{it} WHERE gm{it}.cid = c.cid),
                        c.emb) AS emb
        FROM gc{p} c
    )""")
    cos_ac = (
        "ROUND(list_dot_product(f.v, cent.cent) / "
        "(sqrt(list_dot_product(f.v, f.v)) * "
        "sqrt(list_dot_product(cent.cent, cent.cent))), 6)"
    )
    cos_qc = (
        "ROUND(list_dot_product(q.v, cent.cent) / "
        "(sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(cent.cent, cent.cent))), 6)"
    )
    sub_ctes = _pq_subspace_ctes()
    lut_terms, n_terms, enc_joins, cb_joins = _pq_score_fragments()
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),{",".join(coarse)},
    cent AS (
        SELECT cid AS centroid_id, emb AS cent FROM gc{KM_ITERS}
    ),
    assigned AS (
        SELECT vec_id, centroid_id AS cell FROM (
            SELECT f.vec_id, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY f.vec_id
                        ORDER BY {cos_ac} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM e f CROSS JOIN cent
        ) WHERE rn = 1
    ),{",".join(sub_ctes)},
    q AS (
        SELECT vec_id AS query_id, v,
               sqrt(list_dot_product(v, v)) AS qn
        FROM e WHERE vec_id < {N_QUERY_VECS}
    ),
    probed AS (
        SELECT query_id, centroid_id AS cell FROM (
            SELECT q.query_id, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                        ORDER BY {cos_qc} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM q CROSS JOIN cent
        ) WHERE rn <= {IVF_PROBE}
    ),
    scored AS (
        SELECT q.query_id, enc0.vec_id AS neighbor_id,
               ROUND(({lut_terms})
                     / (q.qn * sqrt({n_terms})), 6) AS cosine
        FROM probed p
        JOIN q ON q.query_id = p.query_id
        JOIN assigned a ON a.cell = p.cell
        JOIN enc0 ON enc0.vec_id = a.vec_id
        {enc_joins}
        {cb_joins}
        WHERE q.query_id <> enc0.vec_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER)
                   AS rank
        FROM scored
    ) WHERE rank <= {TOPK}
    """


@register("embedding_topk_pq", _pq_oracle())
def embedding_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (``operators/similarity.pq_topk``): the
    MEMORY lever of the quantization family — the corpus collapses to
    ``PQ_SUB`` small-int codes per vector (4 bytes vs 256 of float32 at
    this geometry, the footprint class a 100 TB embedding store needs
    to keep its index RAM-resident), the per-subspace codebooks ride
    the closure as literals, and scoring is asymmetric-distance: per
    (query, corpus) pair, ``PQ_SUB`` lookup-table reads + adds replace
    the 64-wide dot. Complements ``embedding_int8_topk`` (bandwidth,
    full precision kept per dim) and ``embedding_topk_ivf*`` (scan
    reduction) — a production index composes all three (IVF-PQ).

    Deterministic end-to-end: the per-subspace fit is the repo's
    deterministic Lloyd contract, encodes are rounded-cosine argmax
    with min-id tie-breaks, sums are left-associated, and the score
    rounds to 6 digits before ranking — the oracle unrolls fit +
    encode + ADC in SQL and the driver hash-certifies the whole
    pipeline. Recall vs brute force is asserted in
    tests/test_similarity.py."""
    from .operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        dim=EMB_DIM,
        k=TOPK,
        n_sub=PQ_SUB,
        n_codes=PQ_CODES,
        iters=PQ_ITERS,
    )


@register("embedding_topk_ivf_pq", _ivf_pq_oracle())
def embedding_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the COMPOSED production ANN index
    (``operators/similarity.ivf_pq_topk``): coarse k-means cells prune
    the scan to ~IVF_PROBE/KM_CENTROIDS of the corpus per query (the
    ``embedding_topk_ivf_kmeans`` lever) while PQ codes shrink both
    what each scanned row stores (~8 bytes: one cell id + PQ_SUB
    codes, vs 256 of float32) and what it costs to score (PQ_SUB
    lookups, the ``embedding_topk_pq`` lever). This is FAISS
    IndexIVFPQ's shape as DataFrame ops: every stage map-side against
    literal models until the per-query rank, the probe join an
    equi-join on the cell id with the (queries x n_probe)-row side
    broadcast.

    Raw-vector (by_residual=False) encoding — the residual trade-off
    is documented on the operator; the recall deltas PQ-alone vs
    IVF-alone vs composed are pinned in tests/test_similarity.py. The
    oracle composes the coarse-fit/assign/probe SQL with the
    per-subspace PQ SQL, both already certified standalone."""
    from .operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        dim=EMB_DIM,
        k=TOPK,
        n_centroids=KM_CENTROIDS,
        n_probe=IVF_PROBE,
        n_sub=PQ_SUB,
        n_codes=PQ_CODES,
        iters=PQ_ITERS,
    )


def _pq_distortion_oracle() -> str:
    sub_dim = EMB_DIM // PQ_SUB
    ctes = _pq_subspace_ctes()
    pers = []
    for s in range(PQ_SUB):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        sv = f"f.v[{lo}:{hi}]"
        denom = (
            f"sqrt(list_dot_product({sv}, {sv}))"
            f" * sqrt(list_dot_product(c.emb, c.emb))"
        )
        pers.append(f"""
        SELECT {s} AS subspace, f.vec_id, enc{s}.code{s} AS code,
               CASE WHEN {denom} > 0
                    THEN CAST(ROUND(1e6 * ROUND(
                         list_dot_product({sv}, c.emb) / ({denom}), 6),
                         0) AS BIGINT)
               END AS cos_ppm
        FROM e f
        JOIN enc{s} ON enc{s}.vec_id = f.vec_id
        JOIN s{s}c{PQ_ITERS} c ON c.cid = enc{s}.code{s}""")
    union = "\n        UNION ALL\n".join(pers)
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),{",".join(ctes)},
    allrows AS ({union}),
    cc AS (
        SELECT subspace, code, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM allrows GROUP BY subspace, code
    ),
    agg AS (
        SELECT subspace,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(cos_ppm) AS BIGINT) AS sum_ppm,
               CAST(COUNT(cos_ppm) AS BIGINT) AS n_cos,
               CAST(MIN(cos_ppm) AS BIGINT) AS min_cosine_ppm
        FROM allrows GROUP BY subspace
    ),
    u AS (
        SELECT subspace, CAST(COUNT(*) AS INTEGER) AS n_codes_used,
               MAX(cnt) AS maxc
        FROM cc GROUP BY subspace
    )
    SELECT agg.subspace, u.n_codes_used,
           CAST(ROUND(1e6 * maxc / n_vectors, 0) AS BIGINT)
               AS max_code_share_ppm,
           CAST(ROUND(CAST(sum_ppm AS DOUBLE) / n_cos, 0) AS BIGINT)
               AS mean_cosine_ppm,
           min_cosine_ppm
    FROM agg JOIN u USING (subspace)
    ORDER BY agg.subspace
    """


@register("embedding_pq_distortion", _pq_distortion_oracle())
def embedding_pq_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantization-quality audit for the PQ tier the ANN ladder rides
    (``embedding_topk_pq`` / ``embedding_topk_ivf_pq``): per subspace,
    the distribution of subvector-to-assigned-codeword cosine (mean
    and worst case) and codebook UTILIZATION (codes actually used, and
    the heaviest code's corpus share) — dead codes and a dominant
    code are the two classic PQ-fit failure modes (a collapsed Lloyd
    fit quantizes everything onto few codewords and ANN recall
    silently craters; this query is the drift monitor a production
    index re-fit pipeline gates on). All-integer output (ppm) on the
    repo's exact-oracle discipline: per-row cosines round to 6 before
    the 1e6 scale, sums run over BIGINTs, so cross-engine summation
    order cannot drift.

    Scale shape: encode is ONE map-side projection against the
    literal codebooks (no join — the ``pq_topk`` plan); the stats are
    (n_sub x n_codes)-sized. The fit itself is the same
    action-bounded Lloyd as the ANN queries (shared
    ``pq_codebooks``)."""
    from .operators.similarity import pq_codebooks, pq_encode
    from .functions.vectors import cosine_similarity as _cos
    from .functions.vectors import lit_double_matrix

    sub_dim = EMB_DIM // PQ_SUB
    emb = _t(spark, sf_dir, "embeddings")
    books = pq_codebooks(
        emb, "vec_id", "embedding", EMB_DIM, PQ_SUB, PQ_CODES,
        iters=PQ_ITERS,
    )
    # TWO projections: materialize the argmax code first, then look
    # the codeword up from the materialized column — inlining the
    # code expression into the cosine would re-evaluate the 8-cosine
    # argmax tree 3x per subspace (dot + both norms reference the
    # codeword) and was measured at ~2x the query's wall
    enc = emb.select("embedding", *pq_encode(F.col("embedding"), books))
    structs = []
    for s in range(PQ_SUB):
        sub = F.slice(F.col("embedding"), s * sub_dim + 1, sub_dim)
        code = F.col(f"__code{s}")
        cw = F.element_at(lit_double_matrix(books[s]), code + 1)
        ppm = F.round(
            F.lit(1e6) * F.round(_cos(sub, cw), 6), 0
        ).cast("long")
        structs.append(
            F.struct(code.alias("code"), ppm.alias("cos_ppm"))
        )
    rows = enc.select(
        F.posexplode(F.array(*structs)).alias("subspace", "x")
    ).select("subspace", F.col("x.code").alias("code"), "x.cos_ppm")
    cc = rows.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    agg = rows.groupBy("subspace").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("cos_ppm").cast("long").alias("sum_ppm"),
        F.count("cos_ppm").cast("long").alias("n_cos"),
        F.min("cos_ppm").cast("long").alias("min_cosine_ppm"),
    )
    u = cc.groupBy("subspace").agg(
        F.count(F.lit(1)).cast("int").alias("n_codes_used"),
        F.max("cnt").alias("maxc"),
    )
    return (
        agg.join(u, "subspace")
        .select(
            "subspace",
            "n_codes_used",
            F.round(F.lit(1e6) * F.col("maxc") / F.col("n_vectors"), 0)
            .cast("long")
            .alias("max_code_share_ppm"),
            F.round(
                F.col("sum_ppm").cast("double") / F.col("n_cos"), 0
            )
            .cast("long")
            .alias("mean_cosine_ppm"),
            "min_cosine_ppm",
        )
        .orderBy("subspace")
    )


VOCAB_KMV_SALT = "vocab-kmv-v1"


def _vocab_overlap_oracle() -> str:
    from .queries_events import _kmv_overlap_sql

    toks = SQL_TOKS.format(col="text")
    return _kmv_overlap_sql(
        "SELECT DISTINCT source AS k_, t AS id_ FROM "
        f"(SELECT source, unnest({toks}) AS t FROM documents)",
        "source_a",
        "source_b",
        VOCAB_KMV_SALT,
    )


@register("doc_source_vocab_overlap", _vocab_overlap_oracle())
def doc_source_vocab_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VOCABULARY overlap between every source pair from per-source
    KMV sketches — the curation face of the sketch set-operation
    algebra (``event_kmv_type_overlap`` is the audience face): how
    much of two sources' distinct-token vocabularies coincide is the
    register/domain-similarity signal a mixing-weight decision reads
    (two mirrors share ~all vocabulary; a code source and a news
    source share little), and the same pair algebra answers it from
    (sources × (k+1)) state after ONE scan instead of a full
    distinct-(source, token) self-join — which is exactly the exact
    audit arm carried in-row. Shares
    ``queries_events.kmv_overlap_with_exact`` /
    ``operators/sketches.kmv_pair_overlap`` verbatim; only the
    membership frame differs (distinct (source, token) pairs,
    whitespace tokens — the repo-wide token convention)."""
    from .functions import text as TX
    from .queries_events import kmv_overlap_with_exact

    d = _t(spark, sf_dir, "documents")
    m = d.select(
        F.col("source").alias("k_"),
        F.explode(TX.tokens(F.col("text"))).alias("id_"),
    )
    return kmv_overlap_with_exact(
        m, "source_a", "source_b", VOCAB_KMV_SALT
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "doc_language_id",
    f"""
    WITH t AS (
        SELECT lang, text,
               {SQL_TOKS.format(col='lower(text)')} AS lt
        FROM documents
    )
    SELECT lang,
           CASE WHEN len(lt) > 0
                     AND len(list_filter(lt, x -> x IN ({_STOPS_SQL})))
                         / len(lt) >= 0.05
                THEN 'en'
                WHEN regexp_matches(text, '^[\\x00-\\x7F]*$')
                THEN 'latin-und'
                ELSE 'und' END AS predicted,
           COUNT(*) AS n_docs
    FROM t
    GROUP BY 1, 2
    """,
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-ratio + ASCII check) — confusion
    counts against the labeled ``lang`` column."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", TX.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "doc_token_stats",
    r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
                AS BIGINT) AS total_tokens,
           CAST(SUM(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
               AS total_bpe_tokens,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM documents
    GROUP BY source
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens + BPE-ish regex
    tokens (both pure Column expressions — scan-speed at 100 TB)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).alias("total_tokens"),
        F.sum(TX.regex_token_count(F.col("text"))).alias("total_bpe_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def _quality_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    lower_toks = SQL_TOKS.format(col="lower(text)")
    return f"""
    WITH t AS (
        SELECT lang, length(text) AS n_chars, {toks} AS t,
               {lower_toks} AS lt
        FROM documents
    ),
    scored AS (
        SELECT lang,
            (CASE WHEN n_chars >= 50 AND n_chars <= 100000 THEN 1.0 ELSE 0.0 END
           + CASE WHEN len(t) > 0
                       AND list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) / len(t) >= 2.0
                       AND list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) / len(t) <= 12.0
                  THEN 1.0 ELSE 0.0 END
           + CASE WHEN len(lt) > 0
                       AND len(list_filter(lt, x -> x IN ({_STOPS_SQL}))) / len(lt) >= 0.01
                  THEN 1.0 ELSE 0.0 END
           + CASE WHEN len(t) >= 10 THEN 1.0 ELSE 0.0 END) / 4.0 AS q
        FROM t
    )
    SELECT lang,
           ROUND(AVG(q), 6) AS avg_quality,
           CAST(SUM(CASE WHEN q >= 0.75 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high_quality,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY lang
    """


@register("doc_quality_scores", _quality_oracle())
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length / word-length / stopword / token
    count), aggregated per language."""
    d = _t(spark, sf_dir, "documents")
    q = TX.quality_score(F.col("text"))
    return d.select("lang", q.alias("q")).groupBy("lang").agg(
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.sum(F.when(F.col("q") >= 0.75, 1).otherwise(0))
        .cast("long")
        .alias("n_high_quality"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_SPLIT_ORACLE = """
WITH b AS (
    SELECT CAST(('0x' || substr(md5('v1|' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 100 AS bucket,
           n_chars
    FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 2) AS avg_chars
FROM b
GROUP BY 1
"""


@register("doc_deterministic_split", _SPLIT_ORACLE)
def doc_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test assignment over the corpus
    (``operators.relational.deterministic_split``): split is a pure
    function of (salt, doc_id) — no RNG, no shuffle, stable under data
    growth. The scale path for the reference's collected-pandas split
    (``model_train_explain.py:60-83``). Hash-checked: DuckDB reproduces
    the md5-bucket assignment exactly."""
    d = _t(spark, sf_dir, "documents")
    return (
        deterministic_split(d, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Int8-quantized similarity (bandwidth/storage scale path)
# ---------------------------------------------------------------------------

#: Shared between the Spark operator and the oracle: quantized vectors,
#: computed with the textually identical half-up expression.
_Q8_SQL = f"""
    q8 AS (
        SELECT vec_id, label, e, amax,
               list_transform(e, x ->
                   CAST(floor(x / amax * 127.0 + 0.5) AS BIGINT)) AS qv
        FROM (
            SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS e,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))) AS amax
            FROM embeddings
        )
        WHERE amax > 0
    )
"""


@register(
    "embedding_int8_topk",
    f"""
    WITH {_Q8_SQL},
    q AS (
        SELECT vec_id AS query_id, qv AS a FROM q8
        WHERE vec_id < {N_QUERY_VECS}
    ),
    c AS (SELECT vec_id AS neighbor_id, qv AS b FROM q8),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(list_dot_product(a, b) AS BIGINT) AS qdot,
               ROUND(CAST(list_dot_product(a, b) AS BIGINT) /
                     (sqrt(CAST(list_dot_product(a, a) AS BIGINT)) *
                      sqrt(CAST(list_dot_product(b, b) AS BIGINT))), 6)
                   AS qcos
        FROM c CROSS JOIN q
        WHERE query_id <> neighbor_id
    )
    SELECT query_id, rank, neighbor_id, qdot, qcos FROM (
        SELECT query_id, neighbor_id, qdot, qcos,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY qcos DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {TOPK}
    """,
)
def embedding_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-k: symmetric max-abs quantization (4x
    smaller vectors), exact int64 dot products, float only in the final
    two sqrts — the scan-bandwidth scale path for ANN (see
    :func:`operators.similarity.quantized_topk`). Deterministic
    end-to-end, so the oracle reproduces it bit-for-bit."""
    from .operators.similarity import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        k=TOPK,
    )


@register(
    "embedding_quantization_profile",
    f"""
    WITH {_Q8_SQL},
    err AS (
        SELECT label,
               list_max(list_transform(range(1, len(e) + 1),
                   i -> abs(e[i] - qv[i] * amax / 127.0))) AS max_err
        FROM q8
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(MAX(max_err), 6) AS max_abs_err,
           ROUND(AVG(ROUND(max_err, 6)), 4) AS avg_max_abs_err
    FROM err
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_quantization_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label int8 reconstruction-error audit: worst and average
    per-vector max-abs dequantization error. The quality gate you run
    before switching the ANN scan to the quantized path; per-row error
    is bit-reproducible (MAX is order-free; the AVG rounds per-row to
    6 digits first, then to 4)."""
    from .operators.similarity import int8_quantized

    emb = _t(spark, sf_dir, "embeddings")
    err = int8_quantized(emb, "embedding").withColumn(
        "__err",
        F.array_max(
            F.zip_with(
                F.col("embedding"),
                F.col("__q"),
                lambda x, q: F.abs(
                    x.cast("double") - q * F.col("__amax") / 127.0
                ),
            )
        ),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(F.max("__err"), 6).alias("max_abs_err"),
            F.round(F.avg(F.round(F.col("__err"), 6)), 4).alias(
                "avg_max_abs_err"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (CCNet-style LM filter, stand-in scale shape)
# ---------------------------------------------------------------------------

#: 5-decimal threshold can never tie a 4-decimal rounded score, so the
#: boolean flag is deterministic across engines.
UNIGRAM_OUTLIER_LOGPROB = -3.45005


@register(
    "doc_unigram_logprob",
    f"""
    WITH ex AS (
        SELECT doc_id,
               unnest({SQL_TOKS.format(col='lower(text)')}) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS tf FROM ex GROUP BY token),
    tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq),
    lp AS (
        SELECT e.doc_id, ROUND(ln(f.tf / t.total), 6) AS lp
        FROM ex e JOIN freq f USING (token) CROSS JOIN tot t
    ),
    per AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               (ROUND(SUM(lp) / COUNT(*), 4) + 0.0) AS avg_token_logprob
        FROM lp GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, avg_token_logprob,
           avg_token_logprob < {UNIGRAM_OUTLIER_LOGPROB} AS low_quality
    FROM per ORDER BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter with a corpus-fit unigram model:
    per-document mean token log-probability under the corpus's own
    unigram distribution, plus a rare-token-outlier flag. The real
    system swaps the unigram table for a pretrained LM's token
    logprobs — the plan shape (corpus-frequency fit → per-token score
    join → per-doc mean) is identical.

    Scale: one explode + token-keyed agg builds the frequency table
    (vocab-sized — megabytes even at web scale, so the score join
    broadcasts in practice; AQE decides here), the total is a broadcast
    scalar, and per-token logprobs are rounded to 6 digits BEFORE the
    per-doc mean so both engines sum identical doubles."""
    from .plans.layout import spread

    d = _t(spark, sf_dir, "documents")
    ex = spread(d).select(
        "doc_id",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("token"),
    )
    # freq feeds both the total-mass scalar and the score join —
    # vocab-sized, so materializing it once saves a second full
    # explode+agg corpus pass (same inverted-index discipline as
    # doc_tfidf_top_terms).
    freq = (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    tot = freq.agg(F.sum("tf").cast("double").alias("total"))
    lp = (
        ex.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lp", F.round(F.log(F.col("tf") / F.col("total")), 6)
        )
    )
    return (
        lp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            nz(F.round(F.sum("lp") / F.count(F.lit(1)), 4)).alias(
                "avg_token_logprob"
            ),
        )
        .withColumn(
            "low_quality",
            F.col("avg_token_logprob") < UNIGRAM_OUTLIER_LOGPROB,
        )
        .orderBy("doc_id")
    )


def _embedding_components_oracle() -> str:
    pairs = _srp_lsh_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, root) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.root
        FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS vec_id, MIN(root) AS component
    FROM reach GROUP BY id
    ORDER BY vec_id
    """


@register("dedup_embedding_components", _embedding_components_oracle())
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-duplicate GROUP resolution: connected components
    (large-star/small-star) over the SRP-LSH verified cosine pair
    graph — the embedding-side counterpart of
    ``dedup_connected_components``. A near-dup pair list is not yet a
    dedup policy: A≈B≈C must collapse to one keeper even when A≉C.
    Deterministic end-to-end (seed-fixed hyperplanes → exact int-free
    verification → min-label components), so the recursive-CTE oracle
    reproduces it exactly."""
    from .operators.dedup import duplicate_components

    return (
        duplicate_components(srp_pair_graph(spark, sf_dir))
        .select(F.col("doc_id").alias("vec_id"), "component")
        .orderBy("vec_id")
    )


def _ivf_int8_oracle() -> str:
    """IVF assignment/probing in float (identical stages to
    :func:`_ivf_oracle`) + int8 scoring inside the probed cells
    (identical quantization to ``_Q8_SQL``) — both deterministic, so the
    composition is too."""
    cos_ac = (
        "ROUND(list_dot_product(cv, cent) / "
        "(sqrt(list_dot_product(cv, cv)) * "
        "sqrt(list_dot_product(cent, cent))), 6)"
    )
    cos_qc = (
        "ROUND(list_dot_product(qv, cent) / "
        "(sqrt(list_dot_product(qv, qv)) * "
        "sqrt(list_dot_product(cent, cent))), 6)"
    )
    return f"""
    WITH e8 AS (
        SELECT vec_id, v,
               list_transform(v, x ->
                   CAST(floor(x / amax * 127.0 + 0.5) AS BIGINT)) AS q
        FROM (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))) AS amax
            FROM embeddings
        ) WHERE amax > 0
    ),
    cent AS (
        SELECT vec_id AS centroid_id, v AS cent FROM e8
        ORDER BY vec_id ASC LIMIT {IVF_CENTROIDS}
    ),
    assigned AS (
        SELECT neighbor_id, nq, centroid_id FROM (
            SELECT e8.vec_id AS neighbor_id, e8.v AS cv, e8.q AS nq,
                   cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e8.vec_id
                        ORDER BY {cos_ac} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM e8 CROSS JOIN cent
        ) WHERE rn = 1
    ),
    probed AS (
        SELECT query_id, qq, centroid_id FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, q.q AS qq,
                   cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY {cos_qc} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM e8 q CROSS JOIN cent
            WHERE q.vec_id < {N_QUERY_VECS}
        ) WHERE rn <= {IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               CAST(list_dot_product(p.qq, a.nq) AS BIGINT) AS qdot,
               ROUND(CAST(list_dot_product(p.qq, a.nq) AS BIGINT) /
                     (sqrt(CAST(list_dot_product(p.qq, p.qq) AS BIGINT)) *
                      sqrt(CAST(list_dot_product(a.nq, a.nq) AS BIGINT))),
                     6) AS qcos
        FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
        WHERE p.query_id <> a.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, qdot, qcos FROM (
        SELECT query_id, neighbor_id, qdot, qcos,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY qcos DESC, neighbor_id ASC) AS INTEGER)
                   AS rank
        FROM scored
    ) WHERE rank <= {TOPK}
    """


@register("embedding_topk_ivf_int8", _ivf_int8_oracle())
def embedding_topk_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition: IVF cell pruning (float centroid
    geometry) x int8 in-cell scoring (exact int64 dots) — scan bounded
    by n_probe/n_centroids AND 4x narrower per vector. Deterministic
    end-to-end; the oracle replays both halves."""
    from .operators.similarity import ivf_int8_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_int8_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        k=TOPK,
        n_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring (interpolated back-off; deepens the CCNet
# unigram shape into the real LM-filter plan)
# ---------------------------------------------------------------------------

BIGRAM_LAMBDA = 0.75
#: 5-decimal threshold can never tie a 4-decimal rounded score.
BIGRAM_OUTLIER_LOGPROB = -3.42005


def _bigram_lm_oracle() -> str:
    toks = SQL_TOKS.format(col="lower(text)")
    lam = BIGRAM_LAMBDA
    return f"""
    WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
    pairs AS (
        SELECT doc_id, unnest(
            CASE WHEN len(t) >= 2 THEN
                list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
            ELSE [] END) AS s
        FROM toks
    ),
    pc AS (
        SELECT doc_id, split_part(s, ' ', 1) AS p,
               split_part(s, ' ', 2) AS c
        FROM pairs
    ),
    bg AS (SELECT p, c, COUNT(*) AS cbg FROM pc GROUP BY 1, 2),
    bs AS (SELECT p, SUM(cbg) AS cs FROM bg GROUP BY 1),
    uni AS (
        SELECT token, COUNT(*) AS tf
        FROM (SELECT unnest(t) AS token FROM toks) GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM uni),
    lp AS (
        SELECT pc.doc_id,
               ROUND(ln(CAST({lam} AS DOUBLE) * bg.cbg / bs.cs
                      + CAST({1 - lam} AS DOUBLE) * uni.tf / tot.total),
                     6) AS lp
        FROM pc
        JOIN bg USING (p, c)
        JOIN bs USING (p)
        JOIN uni ON uni.token = pc.c
        CROSS JOIN tot
    ),
    per AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               (ROUND(SUM(lp) / COUNT(*), 4) + 0.0) AS avg_bigram_logprob
        FROM lp GROUP BY 1
    )
    SELECT doc_id, n_bigrams, avg_bigram_logprob,
           avg_bigram_logprob < {BIGRAM_OUTLIER_LOGPROB} AS low_quality
    FROM per ORDER BY doc_id
    """


@register("doc_bigram_logprob", _bigram_lm_oracle())
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality filter: per-document mean
    ln(λ·P(w|prev) + (1−λ)·P(w)) under the corpus's own counts — the
    real LM-filter plan shape (CCNet §3.2 uses a pretrained LM; the
    count tables swap for its logprob tables unchanged). Conditional
    mass uses bigram-START totals (not unigram tf), so each
    P(·|prev) row-normalizes exactly.

    Scale: bigram explode → (p,c)-keyed agg (vocab²-bounded, pruned by
    min-count in production), start totals derived FROM that table
    (vocab-sized, no second corpus pass), unigram table + scalar total
    as in the unigram scorer; score joins are keyed on the bigram/token
    and AQE broadcasts the small sides. Per-position logprob rounds to
    6 before the per-doc mean so both engines sum identical doubles."""
    from .plans.layout import spread

    lam = BIGRAM_LAMBDA
    d = _t(spark, sf_dir, "documents")
    staged = spread(d).select(
        "doc_id", TX.tokens(F.lower(F.col("text"))).alias("__t")
    )
    n = F.size("__t")
    pc = staged.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice("__t", 1, n - 1),
                    F.slice("__t", 2, n - 1),
                    lambda a, b: F.struct(a.alias("p"), b.alias("c")),
                ),
            ).otherwise(F.array().cast("array<struct<p:string,c:string>>"))
        ).alias("pr"),
    ).select("doc_id", F.col("pr.p").alias("p"), F.col("pr.c").alias("c"))
    # The bigram table feeds both the start-total build and the score
    # join — same inverted-index materialization as TF-IDF/unigram.
    bg = (
        pc.groupBy("p", "c")
        .agg(F.count(F.lit(1)).alias("cbg"))
        .localCheckpoint(eager=True)
    )
    bs = bg.groupBy("p").agg(F.sum("cbg").alias("cs"))
    uni = (
        staged.select("doc_id", F.explode("__t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    tot = uni.agg(F.sum("tf").cast("double").alias("total"))
    lp = (
        pc.join(bg, ["p", "c"])
        .join(bs, "p")
        .join(uni, pc["c"] == uni["token"])
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lp",
            F.round(
                F.log(
                    F.lit(lam) * F.col("cbg") / F.col("cs")
                    + F.lit(1 - lam) * F.col("tf") / F.col("total")
                ),
                6,
            ),
        )
    )
    return (
        lp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            nz(F.round(F.sum("lp") / F.count(F.lit(1)), 4)).alias(
                "avg_bigram_logprob"
            ),
        )
        .withColumn(
            "low_quality",
            F.col("avg_bigram_logprob") < BIGRAM_OUTLIER_LOGPROB,
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster size distribution (dedup diagnostics)
# ---------------------------------------------------------------------------


def _component_size_histogram_oracle() -> str:
    components = _components_oracle()
    return f"""
    WITH comp AS ({components}),
    sizes AS (
        SELECT component, COUNT(*) AS sz FROM comp GROUP BY 1
    )
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components
    FROM sizes GROUP BY 1
    """


@register(
    "dedup_component_size_histogram", _component_size_histogram_oracle()
)
def dedup_component_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup HEALTH metric: a
    heavy tail here means boilerplate/template mass (one cluster eating
    the corpus) and predicts both the dedup win and the LSH hot-bucket
    pressure. Production curation runs exactly this before choosing
    thresholds.

    Plan: the pairs→components chain (shared with
    ``dedup_connected_components``) followed by two tiny cascading
    aggs — sizes are keyed on component labels (≤ #duplicate docs
    rows), the histogram on the size (a handful of rows)."""
    from .operators.dedup import duplicate_components

    comp = duplicate_components(minhash_pair_graph(spark, sf_dir))
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return sizes.groupBy("component_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_components")
    ).select(
        F.col("component_size").cast("long").alias("component_size"),
        "n_components",
    )


@register(
    "embedding_dim_stats",
    """
    WITH ex AS (
        SELECT unnest(range(1, len(embedding) + 1)) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           (ROUND(AVG(v), 6) + 0.0) AS mean_v,
           ROUND(STDDEV_SAMP(v), 6) AS std_v,
           (ROUND(MIN(v), 6) + 0.0) AS min_v,
           (ROUND(MAX(v), 6) + 0.0) AS max_v
    FROM ex GROUP BY 1
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics — the feature-health
    diagnostic run before training/indexing: dead dimensions (zero
    variance), mean drift, and range blowups all surface here, and the
    per-dim mean/std are exactly what a standardization or PQ-codebook
    step consumes.

    Scale: posexplode → ONE aggregation keyed on the (tiny) dimension
    index; rows × dim values stream through a scan-speed Generate, the
    shuffle carries only dim-keyed partials (map-side combine)."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode(F.col("embedding")).alias("dim0", "v0")
    ).select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.col("v0").cast("double").alias("v"),
    )
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        nz(F.round(F.avg("v"), 6)).alias("mean_v"),
        F.round(F.stddev("v"), 6).alias("std_v"),
        nz(F.round(F.min("v"), 6)).alias("min_v"),
        nz(F.round(F.max("v"), 6)).alias("max_v"),
    )


def _cross_source_oracle() -> str:
    pairs = _minhash_oracle()
    return f"""
    WITH pairs AS ({pairs})
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2
    """


@register("dedup_cross_source_matrix", _cross_source_oracle())
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — WHERE the duplication lives:
    near-dup pair counts per unordered (source, source) pair. The
    curation question this answers is real: a heavy wiki×commoncrawl
    cell means the crawl re-serves wiki and the dedup keep-policy
    should prefer the canonical source; a heavy diagonal means
    within-source boilerplate.

    Plan: the MinHash pair sliver (tiny) joins the documents dim twice
    for the source tags — both joins are sliver×dim on doc_id, then
    one tiny agg on the unordered pair (least/greatest
    canonicalization)."""
    pairs = minhash_pair_graph(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    db = d.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
    )


def _quality_decile_oracle() -> str:
    return f"""
    WITH q AS ({_doc_quality_sql()}),
    tiled AS (
        SELECT q,
               NTILE(10) OVER (ORDER BY q DESC, doc_id ASC) AS decile
        FROM q
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(MIN(q), 6) AS min_q,
           ROUND(MAX(q), 6) AS max_q,
           ROUND(AVG(q), 6) AS avg_q
    FROM tiled GROUP BY 1
    """


@register("doc_quality_deciles", _quality_decile_oracle())
def doc_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tier bucketing — documents ranked into deciles by
    composite quality score (ties broken by doc_id for a total order),
    with per-decile score ranges: the tiering a mixing policy consumes
    ("oversample the top decile, drop the bottom two").

    Second registered consumer of :func:`global_ntile` (after
    customer_spend_deciles) — distributed rank, NO single-partition
    window, exact NTILE semantics against the window-SQL oracle."""
    from .operators.relational import global_ntile

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", TX.quality_score(F.col("text")).alias("q")
    )
    tiled = global_ntile(
        scored,
        10,
        [F.col("q").desc(), F.col("doc_id").asc()],
        out="decile",
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.min("q"), 6).alias("min_q"),
        F.round(F.max("q"), 6).alias("max_q"),
        F.round(F.avg("q"), 6).alias("avg_q"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by cluster-then-prune (round-3 wave)
# ---------------------------------------------------------------------------

#: Within-cluster cosine above which the larger-id vector is pruned.
#: At the synthetic corpus's cosine range (max pair ≈ 0.51) this keeps
#: the prune set non-empty without being trivially everything.
SEMDEDUP_TAU = 0.4
#: The Lloyd fit runs on a deterministic id slice (the ``sample_mod``
#: practice the operator documents for 100 TB: centroid QUALITY needs
#: a sample, assignment covers the full corpus). The oracle reproduces
#: the same slice, so certification covers the sampled-fit path — the
#: one a production corpus would actually run. FIT_MOD is the FLOOR of
#: the stride; the effective mod grows with the corpus so the sample
#: stays under an ABSOLUTE cap (a fixed 1-in-4 fraction of a 100 TB
#: embedding table collected for the numpy fit is a driver OOM — the
#: same defect class the LSH-recall probe budget fixed, VERDICT r3 #2).
SEMDEDUP_FIT_MOD = 4
#: Absolute ceiling on the fit-sample size (rows reaching the driver
#: in the Arrow arm / the fit partition in the JVM arm).
SEMDEDUP_FIT_CAP = 100_000


def _semdedup_fit_mod(n: int) -> int:
    """Stride such that the ``vec_id % mod == 0`` slice of a dense-id
    corpus of ``n`` rows has ≤ :data:`SEMDEDUP_FIT_CAP` rows, never
    finer than 1-in-:data:`SEMDEDUP_FIT_MOD`. Integer ceil-division on
    both engines (Python ``-(-n // cap)`` ≡ DuckDB
    ``(n + cap - 1) // cap``) keeps the mirrored choice exact."""
    return max(SEMDEDUP_FIT_MOD, -(-n // SEMDEDUP_FIT_CAP))


def _semdedup_fit_mod_sql() -> str:
    return (
        f"SELECT GREATEST({SEMDEDUP_FIT_MOD}, "
        f"(COUNT(*) + {SEMDEDUP_FIT_CAP - 1}) // {SEMDEDUP_FIT_CAP})"
        " AS fm FROM e"
    )

#: n-scaled cluster count (same discipline as the SRP band geometry,
#: VERDICT r2 #3): SemDeDup's quadratic stage is Σ nᵢ² ≈ n²/k, so a
#: FIXED k makes the method quadratic in the corpus — k must grow with
#: n to hold expected cluster load (n/k) in the 256–1024 band. Step
#: ladder k = 8·4^i; the oracle reproduces the choice with a CASE on
#: COUNT(*), so the registered geometry is green at every SF and the
#: 8-cluster demo geometry never touches a 10⁴⁺-vector corpus.
SEMDEDUP_K_LADDER = [(2048, 8), (8192, 32), (32768, 128)]
SEMDEDUP_K_MAX = 512


def _semdedup_k(n: int) -> int:
    for hi, k in SEMDEDUP_K_LADDER:
        if n <= hi:
            return k
    return SEMDEDUP_K_MAX


def _semdedup_k_sql() -> str:
    arms = " ".join(
        f"WHEN COUNT(*) <= {hi} THEN {k}"
        for hi, k in SEMDEDUP_K_LADDER
    )
    return f"SELECT CASE {arms} ELSE {SEMDEDUP_K_MAX} END AS k FROM e"


def _semdedup_oracle() -> str:
    """Unrolls the SAME deterministic Lloyd fit as
    :func:`_ivf_kmeans_oracle` (kept textually separate so this round's
    query can't invalidate that oracle's green row), then prunes
    within-cluster: a vector is dropped iff a SMALLER-id cluster-mate
    sits within SEMDEDUP_TAU cosine."""
    cos_fc = (
        "ROUND(list_dot_product(f.v, c.emb) / "
        "(sqrt(list_dot_product(f.v, f.v)) * "
        "sqrt(list_dot_product(c.emb, c.emb))), 6)"
    )
    iter_ctes = []
    for it in range(1, KM_ITERS + 1):
        p = it - 1
        iter_ctes.append(f"""
    a{it} AS (
        SELECT vec_id, v, cid FROM (
            SELECT f.vec_id, f.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY f.vec_id
                        ORDER BY {cos_fc} DESC NULLS LAST,
                                 c.cid ASC) AS rn
            FROM fit f CROSS JOIN c{p} c
        ) WHERE rn = 1
    ),
    m{it} AS (
        SELECT cid, dim, ROUND(AVG(x), 9) AS m
        FROM (SELECT cid, unnest(v) AS x,
                     generate_subscripts(v, 1) AS dim
              FROM a{it})
        GROUP BY cid, dim
    ),
    c{it} AS (
        SELECT c.cid,
               COALESCE((SELECT list(m ORDER BY dim)
                         FROM m{it} WHERE m{it}.cid = c.cid),
                        c.emb) AS emb
        FROM c{p} c
    )""")
    cos_ac = (
        "ROUND(list_dot_product(av, cent) / "
        "(sqrt(list_dot_product(av, av)) * "
        "sqrt(list_dot_product(cent, cent))), 6)"
    )
    cos_ab = (
        "ROUND(list_dot_product(a.av, b.av) / "
        "(sqrt(list_dot_product(a.av, a.av)) * "
        "sqrt(list_dot_product(b.av, b.av))), 6)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    fmc AS ({_semdedup_fit_mod_sql()}),
    fit AS (
        SELECT vec_id, v FROM e
        WHERE vec_id % (SELECT fm FROM fmc) = 0
    ),
    kc AS ({_semdedup_k_sql()}),
    c0 AS (
        SELECT CAST(rn - 1 AS INTEGER) AS cid, v AS emb
        FROM (SELECT vec_id, v,
                     ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS rn
              FROM fit)
        WHERE rn <= (SELECT k FROM kc)
    ),{",".join(iter_ctes)},
    cent AS (
        SELECT cid AS centroid_id, emb AS cent FROM c{KM_ITERS}
    ),
    assigned AS (
        SELECT vec_id, av, centroid_id FROM (
            SELECT e.vec_id, e.v AS av, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                        ORDER BY {cos_ac} DESC NULLS LAST,
                                 cent.centroid_id ASC) AS rn
            FROM e CROSS JOIN cent
        ) WHERE rn = 1
    ),
    pruned AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE {cos_ab} >= {SEMDEDUP_TAU}
    )
    SELECT s.vec_id, s.centroid_id,
           p.vec_id IS NOT NULL AS pruned
    FROM assigned s LEFT JOIN pruned p ON p.vec_id = s.vec_id
    ORDER BY s.vec_id
    """


@register("dedup_semdedup_prune", _semdedup_oracle())
def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with the
    deterministic Lloyd fit, then prune within-cluster semantic
    duplicates — a vector is dropped iff a smaller-id cluster-mate sits
    at cosine ≥ τ (the greedy keep-min-id policy; the paper keeps the
    centroid-farthest, any deterministic keeper works). The point of
    the method is the SCALE shape: pairwise comparison happens only
    INSIDE clusters (Σ nᵢ² ≪ n² for balanced clusters), so the
    quadratic step is bounded by the largest cluster, not the corpus —
    the same cost discipline as the LSH buckets, with semantic rather
    than syntactic candidate generation.

    Plan: one broadcast-assignment pass (model-sized centroid table),
    one centroid_id-keyed self-join for candidates, exact rounded
    cosine verification, then a left anti-ish flag join back — all
    shuffles keyed on centroid_id/vec_id, no corpus² anywhere. Per-pair
    cost is ONE dot fold: each vector's norm is computed once at
    assignment time and stored through the checkpoint (the 3-fold
    per-pair form measured 12 s vs ~4 s at sf0.1's 500k within-cluster
    pairs; sqrt-per-row × sqrt-per-row is value-identical to the
    oracle's sqrt(dot)·sqrt(dot), so the hash still matches)."""
    from .functions.vectors import dot, l2_norm
    from .operators.similarity import (
        kmeans_centroids,
        nearest_centroid_expr,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # k scales with the corpus (step ladder, oracle-mirrored CASE) so
    # the within-cluster quadratic stage stays bounded: n/k ≤ ~1024.
    n = emb.count()
    k = _semdedup_k(n)
    cents = kmeans_centroids(
        emb, "vec_id", "embedding", n_centroids=k, iters=KM_ITERS,
        sample_mod=_semdedup_fit_mod(n),
    )
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("av")
    )
    # Assignment is a map-only projection against the fitted centroid
    # model (k × dim — driver-sized by construction): the corpus never
    # shuffles just to be labeled with its cluster id.
    cent_model = [
        (r["centroid_id"], list(r["__cent"])) for r in cents.collect()
    ]
    assigned = (
        e.select(
            "vec_id",
            "av",
            nearest_centroid_expr(
                F.col("av"), cent_model, id_type="int"
            ).alias("centroid_id"),
        )
        .withColumn("nv", l2_norm(F.col("av")))
        .localCheckpoint(eager=True)  # feeds the self-join twice
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    denom = F.col("a.nv") * F.col("b.nv")
    cos_ab = F.when(
        denom > 0,
        F.round(dot(F.col("a.av"), F.col("b.av")) / denom, 6),
    )
    pruned = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos_ab >= SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("__p", F.lit(True))
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(F.col("__p"), F.lit(False)).alias("pruned"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Sparse idf-weighted cosine near-dup — the inverted-index arm of the
# similarity family (dense cosine above scores vectors; this scores the
# documents themselves, no embedding model required)
# ---------------------------------------------------------------------------

#: Inverted-index posting caps: a shingle participates in candidate
#: generation only if its document frequency is BOTH ≤ 10% of the corpus
#: (a shared-by-everyone shingle carries no signal) and ≤ an absolute
#: posting bound (at 100 TB a boilerplate shingle in 10% of documents
#: would alone emit ~(0.1N)² pairs). Locally non-binding (max df at
#: sf0.1 is ~70), armed for scale — same pattern as LSH_MAX_BUCKET.
TFIDF_DF_FRAC_DEN = 10  # df * 10 <= n_docs  ⇔  df ≤ 10% of corpus
TFIDF_DF_ABS_CAP = 1000
TFIDF_COSINE_THRESHOLD = 0.6


@register(
    "dedup_tfidf_cosine",
    f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS.format(col='lower(text)')} AS t
        FROM documents
    ),
    sh AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM toks),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    df AS (SELECT shingle, COUNT(*) AS df FROM ex GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT ex.doc_id, ex.shingle,
               ROUND(ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 6) AS w
        FROM ex JOIN df USING (shingle) CROSS JOIN n
        WHERE df.df * {TFIDF_DF_FRAC_DEN} <= n.n_docs
          AND df.df <= {TFIDF_DF_ABS_CAP}
    ),
    norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY 1),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(a.w * b.w) AS dot,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = dots.id_a
    JOIN norms nb ON nb.doc_id = dots.id_b
    WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= {TFIDF_COSINE_THRESHOLD}
    """,
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse idf-weighted cosine near-dup pairs over word-shingle sets
    — the inverted-index similarity arm: no MinHash approximation, no
    embedding model, exact cosine on the df-capped shingle vocabulary.

    Physical shape: ONE explode builds the posting list; it feeds the
    document-frequency table, the per-document norms, and BOTH sides of
    the candidate self-join, so it is materialized once
    (localCheckpoint — the inverted index every IR system persists).
    Candidate pairs come from the shingle-keyed self-join, never a
    doc×doc cross join, and cost is Σ_shingle df² with df bounded by
    the posting caps above. The dot product is a plain partial-agg SUM
    per pair; cosine is rounded to 6 before the threshold compare on
    both engines (repo float policy). Complements `dedup_minhash_lsh`
    (probabilistic recall) and `dedup_embedding_cosine*` (dense
    vectors): at sf0.01 the three arms agree on the planted clusters."""
    from .plans.layout import spread

    d = _t(spark, sf_dir, "documents")
    ex = spread(d).select(
        "doc_id",
        F.explode(
            TX.shingles_of(TX.tokens(F.lower(F.col("text"))))
        ).alias("shingle"),
    )
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        ex.join(dfreq, "shingle")
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("df") * TFIDF_DF_FRAC_DEN <= F.col("n_docs"))
            & (F.col("df") <= TFIDF_DF_ABS_CAP)
        )
        .select(
            "doc_id",
            "shingle",
            F.round(
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0,
                6,
            ).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingle"),
        F.col("w").alias("wa"),
    )
    b = w.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingle"),
        F.col("w").alias("wb"),
    )
    dots = (
        a.join(b, (a.shingle == b.shingle) & (a.id_a < b.id_b))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    na = norms.select(
        F.col("doc_id").alias("na_id"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("doc_id").alias("nb_id"), F.col("nrm").alias("nb")
    )
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (
        dots.join(na, dots.id_a == na.na_id)
        .join(nb, dots.id_b == nb.nb_id)
        .filter(cos >= TFIDF_COSINE_THRESHOLD)
        .select("id_a", "id_b", "n_shared", cos.alias("cosine"))
    )


@register("dedup_semdedup_prune_fast", _semdedup_oracle())
def dedup_semdedup_prune_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, the Arrow/numpy production arm — IDENTICAL semantics
    and oracle to ``dedup_semdedup_prune``, but every dense-vector
    stage runs vectorized instead of through Catalyst's interpreted
    higher-order-function folds (measured ~200k dot-products/s on 32
    cores — the real dense-math scale-killer the JVM arm hits):

    * fit — the deterministic Lloyd loop on the bounded ``sample_mod``
      slice, collected and fitted DRIVER-side in numpy
      (``kmeans_fit_numpy``, bit-equal to the JVM fit by test);
    * assignment — ``mapInPandas``: one Arrow scan, batch matmul
      against the broadcast centroid matrix, first-max argmax ⇒ the
      same smaller-id tie-break;
    * within-cluster prune — ``applyInPandas`` per centroid group:
      one nᵢ×nᵢ matmul per cluster (the SemDeDup paper's actual
      implementation shape) instead of a pair-exploded self-join.

    Float contract: cosines are rounded half-away to 6 digits
    (``round_half_away``) before every compare, same as the SQL; BLAS
    summation order vs left-to-right folds differs below the rounding
    scale, the same acceptance class as the repo's ROUND(SUM(..))
    aggregates. Registered alongside the JVM arm so the driver
    certifies both paths against one oracle."""
    import numpy as np
    import pandas as pd

    from .operators.similarity import cosine_matrix, kmeans_fit_numpy

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    k = _semdedup_k(n)
    # ABSOLUTE-capped fit slice (≤ SEMDEDUP_FIT_CAP rows) — the only
    # corpus-derived collect in the repo allowed to grow with n was
    # this one; the derived stride bounds it no matter the corpus size.
    sample = (
        emb.filter(F.col("vec_id") % _semdedup_fit_mod(n) == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    cents = kmeans_fit_numpy(
        [r["vec_id"] for r in sample],
        np.array([r["embedding"] for r in sample], dtype=np.float64),
        n_centroids=k,
        iters=KM_ITERS,
    )
    b_cents = spark.sparkContext.broadcast(cents)

    def assign(batches):
        c = b_cents.value
        for pdf in batches:
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sims = cosine_matrix(v, c)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "centroid_id": sims.argmax(axis=1).astype("int32"),
                    "av": list(v),
                }
            )

    assigned = emb.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, centroid_id int, av array<double>"
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        v = np.stack(pdf["av"].to_numpy())
        sims = cosine_matrix(v, v)
        # pruned[j] ⇔ some i<j (smaller id) in the cluster has
        # cosine ≥ τ — the upper triangle read column-wise.
        hit = np.triu(sims >= SEMDEDUP_TAU, k=1).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "centroid_id": pdf["centroid_id"].to_numpy(),
                "pruned": hit,
            }
        )

    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(prune, "vec_id long, centroid_id int, pruned boolean")
        .orderBy("vec_id")
    )


def _minhash_bands_prefix(table: str = "documents") -> str:
    """The toks→sig→bands CTE chain of :func:`_minhash_oracle`,
    regenerated (not refactored out of it) so the certified pair oracle's
    text stays untouched; both derive from the same coefficient
    machinery, so they cannot drift."""
    from .operators.dedup import MINHASH_P, minhash_coefficients

    coeffs = minhash_coefficients(NUM_HASHES)
    sig_cols = ",\n           ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {j} AS band_idx, md5(concat_ws('|', '{j}', {hs})) AS band_key FROM sig".format(
            j=j,
            hs=", ".join(
                f"CAST(h{j * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for j in range(BANDS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS.format(col='text')} AS t FROM {table}
    ),
    sh AS (
        SELECT doc_id, {SQL_SHINGLES3} AS s FROM toks
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    exh AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                   % {MINHASH_P} AS x
        FROM ex
    ),
    sig AS (
        SELECT doc_id,
           {sig_cols}
        FROM exh GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    )"""


@register(
    "dedup_minhash_band_stats",
    _minhash_bands_prefix()
    + f"""
    ,
    bucket AS (
        SELECT band_idx, band_key, COUNT(*) AS sz
        FROM bands GROUP BY 1, 2
    )
    SELECT band_idx,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_colliding_buckets,
           CAST(SUM(sz * (sz - 1)) / 2 AS BIGINT) AS candidate_pairs
    FROM bucket GROUP BY 1
    """,
)
def dedup_minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH observability: per-band bucket census (bucket count, largest
    bucket, colliding buckets, implied candidate-pair total Σ sz·(sz−1)/2)
    — the diagnostic an operator runs BEFORE a 100 TB dedup to check
    the band geometry against the corpus (a saturating geometry shows
    up here as a handful of giant buckets long before the self-join
    melts; this is how the SRP 8-bit saturation in BASELINE.md was
    found). Plan: signature build + band melt + two small aggregations —
    no self-join anywhere, so the census costs a scan even when the
    pair stage it predicts would be explosive."""
    from .operators.dedup import melt_band_keys, minhash_signatures

    sig = minhash_signatures(
        _t(spark, sf_dir, "documents"), "doc_id", "text", NUM_HASHES
    )
    melted = melt_band_keys(sig, "doc_id", BANDS, ROWS_PER_BAND)
    bucket = melted.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return bucket.groupBy("band_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_colliding_buckets"),
        (F.sum(F.col("sz") * (F.col("sz") - 1)) / 2)
        .cast("long")
        .alias("candidate_pairs"),
    )


@register(
    "dedup_tfidf_rescore_lsh",
    _minhash_bands_prefix()
    + f"""
    ,
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    cand_ids AS (
        SELECT id_a AS doc_id FROM cand
        UNION SELECT id_b FROM cand
    ),
    ltoks AS (
        SELECT doc_id, {SQL_TOKS.format(col='lower(text)')} AS t
        FROM documents
    ),
    lsh_sh AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM ltoks),
    lex AS (SELECT doc_id, unnest(s) AS shingle FROM lsh_sh),
    ldf AS (SELECT shingle, COUNT(*) AS df FROM lex GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT lex.doc_id, lex.shingle,
               ROUND(ln((n.n_docs + 1.0) / (ldf.df + 1.0)) + 1.0, 6) AS w
        FROM lex JOIN ldf USING (shingle) CROSS JOIN n
        JOIN cand_ids ci ON ci.doc_id = lex.doc_id
        WHERE ldf.df * {TFIDF_DF_FRAC_DEN} <= n.n_docs
          AND ldf.df <= {TFIDF_DF_ABS_CAP}
    ),
    norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY 1),
    dots AS (
        SELECT c.id_a, c.id_b,
               SUM(a.w * b.w) AS dot,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM cand c
        JOIN w a ON a.doc_id = c.id_a
        JOIN w b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = dots.id_a
    JOIN norms nb ON nb.doc_id = dots.id_b
    WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= {TFIDF_COSINE_THRESHOLD}
    """,
)
def dedup_tfidf_rescore_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE composition of the sparse scorer: MinHash-LSH proposes
    candidate pairs (banded buckets — linear-ish in corpus), and the
    exact idf-weighted shingle cosine re-scores ONLY those candidates.

    Rationale, measured (BASELINE.md): the standalone exact arm's
    inverted-index self-join emits Σdf² rows, and at 250k documents
    91% of that 140M-row mass comes from benign df≤16 shingle
    collisions — no df cap removes it, which is exactly why LSH
    banding (r-of-k agreement) exists. Here the posting list is
    semi-joined down to candidate documents BEFORE any pair work, and
    the pair join drives off the candidate list (id-keyed) instead of
    the shingle key, so pair cost is |candidates|, not Σdf².
    Tokenization per arm keeps each arm's own convention (LSH bands:
    raw text, the repo-wide MinHash contract; tf-idf weights:
    lowercased — same as the standalone scorer)."""
    from .operators.dedup import lsh_candidate_pairs, minhash_signatures
    from .plans.layout import spread

    d = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", "text", NUM_HASHES)
    cand = lsh_candidate_pairs(
        sig, "doc_id", BANDS, ROWS_PER_BAND
    ).localCheckpoint(eager=True)
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # NOTE: the tokenize+shingle explode feeds BOTH the df count and the
    # candidate posting list; recomputing it twice measured CHEAPER than
    # localCheckpoint-ing the ~25M-row string-shingle frame (68.6 s vs
    # 202 s at sf5) — wide string payloads make materialization the
    # bottleneck, not the regex work.
    ex = spread(d).select(
        "doc_id",
        F.explode(
            TX.shingles_of(TX.tokens(F.lower(F.col("text"))))
        ).alias("shingle"),
    )
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        ex.join(F.broadcast(cand_ids), "doc_id")
        .join(dfreq, "shingle")
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("df") * TFIDF_DF_FRAC_DEN <= F.col("n_docs"))
            & (F.col("df") <= TFIDF_DF_ABS_CAP)
        )
        .select(
            "doc_id",
            "shingle",
            F.round(
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0,
                6,
            ).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingle"),
        F.col("w").alias("wa"),
    )
    b = w.select(
        F.col("doc_id").alias("id_b_r"),
        F.col("shingle").alias("shingle_b"),
        F.col("w").alias("wb"),
    )
    dots = (
        cand.join(a, "id_a")
        .join(
            b,
            (F.col("id_b") == F.col("id_b_r"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    na = norms.select(
        F.col("doc_id").alias("na_id"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("doc_id").alias("nb_id"), F.col("nrm").alias("nb")
    )
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (
        dots.join(na, dots.id_a == na.na_id)
        .join(nb, F.col("id_b") == nb.nb_id)
        .filter(cos >= TFIDF_COSINE_THRESHOLD)
        .select("id_a", "id_b", "n_shared", cos.alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Incremental EMBEDDING dedup: the SRP twin of dedup_incremental
# ---------------------------------------------------------------------------


def _embedding_incremental_oracle() -> str:
    from .operators.dedup import hyperplane_coefficients

    planes = hyperplane_coefficients(SRP_BITS, EMB_DIM, seed=42)
    bit_sql = ",\n        ".join(
        "CASE WHEN list_dot_product(v, [%s]) > 0 THEN '1' ELSE '0' END"
        % ", ".join(repr(x) for x in plane)
        for plane in planes
    )
    cos = (
        "ROUND(list_dot_product(ei.v, ec.v) / "
        "(sqrt(list_dot_product(ei.v, ei.v)) * "
        "sqrt(list_dot_product(ec.v, ec.v))), 6)"
    )
    max_bands = SRP_BITS // 8
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    corpus AS (SELECT * FROM e WHERE vec_id % 4 <> 0),
    inc AS (
        SELECT vec_id, v FROM e WHERE vec_id % 4 = 0
        UNION ALL
        SELECT vec_id + {RECRAWL_OFFSET} AS vec_id, v
        FROM e WHERE vec_id % 8 = 1
    ),
    geom AS (
        SELECT CASE WHEN (SELECT COUNT(*) FROM corpus) <= {SRP_SWITCH_16}
                    THEN 8
                    WHEN (SELECT COUNT(*) FROM corpus) <= {SRP_SWITCH_32}
                    THEN 16
                    ELSE 32 END AS rows
    ),
    sigc AS (SELECT vec_id, concat(
        {bit_sql}
        ) AS sig FROM corpus),
    sigi AS (SELECT vec_id, concat(
        {bit_sql}
        ) AS sig FROM inc),
    bc AS (
        SELECT s.vec_id, j AS band_idx,
               substr(s.sig, j * g.rows + 1, g.rows) AS band_key
        FROM sigc s CROSS JOIN geom g CROSS JOIN (
            SELECT unnest([{", ".join(str(j) for j in range(max_bands))}])
                   AS j)
        WHERE j < {SRP_BITS} / g.rows
    ),
    bi AS (
        SELECT s.vec_id, j AS band_idx,
               substr(s.sig, j * g.rows + 1, g.rows) AS band_key
        FROM sigi s CROSS JOIN geom g CROSS JOIN (
            SELECT unnest([{", ".join(str(j) for j in range(max_bands))}])
                   AS j)
        WHERE j < {SRP_BITS} / g.rows
    ),
    cand AS (
        SELECT DISTINCT i.vec_id AS inc_id, c.vec_id AS corp_id
        FROM bi i JOIN bc c
          ON i.band_idx = c.band_idx AND i.band_key = c.band_key
    ),
    near AS (
        SELECT n.inc_id, MIN(n.corp_id) AS nr
        FROM cand n
        JOIN inc ei ON ei.vec_id = n.inc_id
        JOIN corpus ec ON ec.vec_id = n.corp_id
        WHERE {cos} >= {COSINE_DUP_THRESHOLD}
        GROUP BY n.inc_id
    )
    SELECT i.vec_id,
           CASE WHEN n.nr IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS status,
           n.nr AS dup_of
    FROM inc i
    LEFT JOIN near n ON n.inc_id = i.vec_id
    ORDER BY i.vec_id
    """


@register("dedup_embedding_incremental", _embedding_incremental_oracle())
def dedup_embedding_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-side incremental dedup — the SRP twin of
    ``dedup_incremental``: a new batch of vectors (the ``vec_id%4==0``
    slice plus planted verbatim "re-embeddings" of corpus vectors
    under :data:`RECRAWL_OFFSET` ids, so the near-dup arm carries both
    cosine-1.0 and organic ≥-threshold mass) PROBES the corpus SRP
    band index instead of self-joining the corpus; exact cosine
    verifies candidates only (see
    :func:`operators.dedup.incremental_embedding_dedup_status` for the
    100 TB cost model and the cap-restriction equivalence). Geometry
    n-scales from the CORPUS count via the same deterministic ladder
    as ``dedup_embedding_cosine_lsh``, mirrored in the oracle's CASE.
    The bucket cap never fires at test SFs (same convention as the
    text twin's oracle, which omits it too); the guard path is
    exercised by planted tests."""
    from .operators.dedup import incremental_embedding_dedup_status

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") % 4 != 0)
    inc = e.filter(F.col("vec_id") % 4 == 0).unionByName(
        e.filter(F.col("vec_id") % 8 == 1).select(
            (F.col("vec_id") + RECRAWL_OFFSET).alias("vec_id"),
            "embedding",
        )
    )
    return incremental_embedding_dedup_status(
        corpus,
        inc,
        "vec_id",
        "embedding",
        dim=EMB_DIM,
        threshold=COSINE_DUP_THRESHOLD,
        n_bits=SRP_BITS,
        bands=None,
        max_bucket_size=LSH_MAX_BUCKET,
    )


def _embedding_label_audit_oracle() -> str:
    return f"""
    WITH comp AS ({_embedding_components_oracle()}),
    lab AS (
        SELECT c.vec_id, c.component, e.label
        FROM comp c JOIN embeddings e USING (vec_id)
    ),
    per AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
        FROM lab GROUP BY component
    ),
    maj AS (
        SELECT component, label AS majority_label FROM (
            SELECT component, label,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY COUNT(*) DESC, label)
                       AS rk
            FROM lab GROUP BY component, label
        ) WHERE rk = 1
    )
    SELECT p.component, p.n_members, p.n_labels, m.majority_label,
           p.n_labels > 1 AS is_mixed
    FROM per p JOIN maj m USING (component)
    ORDER BY p.component
    """


@register("dedup_embedding_label_audit", _embedding_label_audit_oracle())
def dedup_embedding_label_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Label-purity audit over SEMANTIC duplicate groups: per
    embedding near-dup component, member count, distinct-label count,
    majority label (ties to the smaller label id), and a mixed flag —
    the curation signal that semantically-identical vectors carrying
    DIFFERENT labels are annotation noise (or leakage across supposed
    class boundaries), surfaced before training instead of as a
    confusion-matrix mystery after. The embedding-side sibling of
    ``dedup_component_label_consensus``.

    Scale: second policy consumer of the persisted
    :func:`srp_pair_graph` artifact — components over the pair sliver
    (log-rounds star algorithm), one broadcast-able join against the
    label projection, component-sized aggregations. The corpus is
    never rescanned for the policy pass."""
    from .operators.dedup import duplicate_components

    comp = duplicate_components(srp_pair_graph(spark, sf_dir)).select(
        F.col("doc_id").alias("vec_id"), "component"
    )
    lab = comp.join(
        _t(spark, sf_dir, "embeddings").select("vec_id", "label"),
        "vec_id",
    )
    per = lab.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.countDistinct("label").cast("long").alias("n_labels"),
    )
    maj = (
        lab.groupBy("component", "label")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.col("__n").desc(), F.col("label").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("component", F.col("label").alias("majority_label"))
    )
    return (
        per.join(maj, "component")
        .select(
            "component",
            "n_members",
            "n_labels",
            "majority_label",
            (F.col("n_labels") > 1).alias("is_mixed"),
        )
        .orderBy("component")
    )


def _semantic_leakage_split_oracle() -> str:
    return f"""
    WITH comp AS ({_embedding_components_oracle()}),
    g AS (
        SELECT e.vec_id,
               COALESCE(c.component, e.vec_id) AS group_id,
               c.vec_id IS NOT NULL AS is_dup_member
        FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
    ),
    b AS (
        SELECT vec_id, group_id, is_dup_member,
               CAST(('0x' || substr(md5('v1|' || CAST(group_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) % 100 AS bucket
        FROM g
    ),
    s AS (
        SELECT *, CASE WHEN bucket < 80 THEN 'train'
                       WHEN bucket < 90 THEN 'val'
                       ELSE 'test' END AS split
        FROM b
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(DISTINCT group_id) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN is_dup_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_member_vecs
    FROM s GROUP BY split ORDER BY split
    """


@register("dedup_semantic_leakage_split", _semantic_leakage_split_oracle())
def dedup_semantic_leakage_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The embedding-side sibling of ``dedup_leakage_safe_split``:
    train/val/test routed by SEMANTIC-duplicate component (SRP-LSH
    verified cosine pair graph), so two embeddings of the same content
    — paraphrases, re-encodings, scaled copies — can never straddle a
    train/test boundary. Text-level dedup misses exactly this class
    (different surface forms, same meaning), which is why
    decontamination pipelines run BOTH splits; group id = component
    min-id for dup members, own id otherwise, split = the same
    deterministic md5 bucket as the text-side query (one salt, one
    rule, auditable).

    Scale: third policy consumer of the persisted
    :func:`srp_pair_graph` artifact — components over the pair sliver,
    broadcast onto ONE narrow pass of the embeddings table (vec_id
    only; the vectors themselves are never touched). The component-map
    hint is measured-count guarded (VERDICT r5 #1) — semantic dup
    members can be a large corpus fraction on paraphrase-heavy data."""
    from .operators.dedup import component_groups, duplicate_components

    comp = duplicate_components(srp_pair_graph(spark, sf_dir))
    e = _t(spark, sf_dir, "embeddings")
    a = deterministic_split(component_groups(e, "vec_id", comp), "group_id")
    return (
        a.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.countDistinct("group_id").cast("long").alias("n_groups"),
            F.sum(F.col("is_dup_member").cast("long"))
            .cast("long")
            .alias("n_dup_member_vecs"),
        )
        .orderBy("split")
    )
