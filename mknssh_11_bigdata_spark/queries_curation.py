"""Corpus-curation queries: repetition filtering, decontamination,
stratified sampling, n-gram statistics, embedding-column diagnostics.

Second wave of the LLM-data-pipeline surface (first wave:
``queries_llm.py``). These are the operators a training-data curation
pass runs between raw ingest and dedup: Gopher-style repetition quality
gates, benchmark-decontamination scrubs, per-language downsampling, and
corpus/embedding summary statistics. All relational cores are pure
Column expressions or explode+agg plans — no UDFs, no collect — and
every query carries an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text as TX
from .functions.numeric import nz
from .operators.relational import deterministic_split
from .registry import register
from .sources.readers import load_table

#: tokens(text) in DuckDB — must mirror functions/text.py tokens()
SQL_TOKS = "list_filter(string_split({col}, ' '), x -> x <> '')"

#: bigrams over a token list `t` (duplicates kept) — mirrors TX.bigrams
SQL_BIGRAMS = (
    "CASE WHEN len(t) >= 2 THEN "
    "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) "
    "ELSE [] END"
)

#: Denylist for the decontamination scrub. Chosen to actually occur in
#: the synthetic corpus (a no-op scrub would certify nothing); stands in
#: for eval-set strings / canary tokens / PII literals.
DECONTAM_TERMS: tuple[str, ...] = ("spark", "shuffle", "benchmark")

#: Per-language keep-rates for stratified downsampling (per-mille).
#: English-heavy web corpora downsample the head language and keep the
#: tail — the rates encode that policy.
STRATA_RATES_PM: dict[str, int] = {
    "en": 400,  # keep 40% of English
    "de": 800,
    "fr": 800,
    "es": 800,
    "zh": 1000,  # keep all Chinese
}
STRATA_SALT = "strat-v1"

REPETITION_FLAG_THRESHOLD = 0.30


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Repetition / quality gating (Gopher-style)
# ---------------------------------------------------------------------------


def _repetition_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    return f"""
    WITH t AS (
        SELECT source, {toks} AS t FROM documents
    ),
    r AS (
        SELECT source,
               CASE WHEN len(t) > 0
                    THEN 1.0 - len(list_distinct(t)) / len(t) END AS dtr,
               CASE WHEN len({SQL_BIGRAMS}) > 0
                    THEN 1.0 - len(list_distinct({SQL_BIGRAMS}))
                               / len({SQL_BIGRAMS}) END AS dbr
        FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(dtr), 6) AS avg_dup_token_ratio,
           ROUND(AVG(dbr), 6) AS avg_dup_bigram_ratio,
           CAST(SUM(CASE WHEN dtr > {REPETITION_FLAG_THRESHOLD}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM r
    GROUP BY source
    """


@register("doc_repetition_profile", _repetition_oracle())
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate: per-source duplicate-token
    and duplicate-bigram fractions plus the count of documents a
    repetition filter would drop. Both ratios are pure Column
    expressions (split / transform / array_distinct — JVM codegen), so
    the gate runs at scan speed over a 100 TB corpus; the only shuffle
    is the final per-source agg, which map-side combines to ~|sources|
    rows. Extends the reference's string surface (SURVEY.md §2.6)."""
    d = _t(spark, sf_dir, "documents")
    # Stage the token array (and the bigram array built from it) as
    # projected columns so each is computed ONCE per row; inlining
    # tokens(text) into both ratios re-splits the text per reference,
    # and building bigrams positionally re-evaluated it per element.
    staged = d.select(
        "source", TX.tokens(F.col("text")).alias("__t")
    ).select("source", "__t", TX.bigrams_of(F.col("__t")).alias("__bg"))
    return (
        staged.select(
            "source",
            TX.dup_ratio_of(F.col("__t")).alias("dtr"),
            TX.dup_ratio_of(F.col("__bg")).alias("dbr"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dtr"), 6).alias("avg_dup_token_ratio"),
            F.round(F.avg("dbr"), 6).alias("avg_dup_bigram_ratio"),
            F.sum(
                F.when(F.col("dtr") > REPETITION_FLAG_THRESHOLD, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_flagged"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def _decontaminate_oracle() -> str:
    pat = TX.term_pattern(DECONTAM_TERMS)
    return f"""
    WITH s AS (
        SELECT lang,
               len(regexp_extract_all(text, '{pat}')) AS n_hits,
               length(text)
                 - length(regexp_replace(text, '{pat}', '[REDACTED]', 'g'))
                 AS delta_chars
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_hit,
           CAST(SUM(n_hits) AS BIGINT) AS total_redactions,
           CAST(SUM(delta_chars) AS BIGINT) AS total_char_delta
    FROM s
    GROUP BY lang
    """


@register("doc_decontaminate", _decontaminate_oracle())
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scrub audit: redact whole-word denylist
    occurrences (eval strings / canaries / PII literals) and report, per
    language, how many documents and occurrences were touched. The scrub
    itself is ONE vectorized ``regexp_replace`` and the count ONE
    ``regexp_extract_all`` — word-boundary regex behaves identically in
    Java regex and RE2, so the oracle reuses the exact pattern. At 100 TB
    this is a map-only pass; the audit agg shuffles ~|langs| rows."""
    d = _t(spark, sf_dir, "documents")
    hits = TX.term_match_count(F.col("text"), DECONTAM_TERMS)
    scrubbed = TX.scrub_terms(F.col("text"), DECONTAM_TERMS)
    return (
        d.select(
            "lang",
            hits.alias("n_hits"),
            (F.length("text") - F.length(scrubbed)).alias("delta_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_hit"),
            F.sum("n_hits").cast("long").alias("total_redactions"),
            F.sum("delta_chars").cast("long").alias("total_char_delta"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------


def _strata_case(col: str) -> str:
    arms = " ".join(
        f"WHEN '{lang}' THEN {pm}" for lang, pm in STRATA_RATES_PM.items()
    )
    return f"CASE {col} {arms} ELSE 0 END"


def _stratified_oracle() -> str:
    return f"""
    WITH b AS (
        SELECT lang, n_chars,
               CAST(('0x' || substr(md5('{STRATA_SALT}|'
                        || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1000 AS bucket
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN bucket < {_strata_case('lang')}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           ROUND(SUM(CASE WHEN bucket < {_strata_case('lang')}
                     THEN n_chars ELSE 0 END)
                 / NULLIF(SUM(n_chars), 0), 6) AS char_keep_ratio
    FROM b
    GROUP BY lang
    """


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates_pm: dict[str, int],
    salt: str = STRATA_SALT,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its
    md5-derived bucket (pure function of salt+id, 0..999) falls under
    the stratum's keep-rate. No RNG state, no shuffle, reproducible
    under data growth and re-runs — the same hash-bucket trick as
    ``operators.relational.deterministic_split``, generalized to
    per-group rates. Rows whose stratum has no configured rate are dropped.

    Scale note: this is a map-only filter. At 100 TB it composes with
    the scan (predicate stays a Column expression) and never moves data.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    rate = F.lit(0)
    for lang, pm in rates_pm.items():
        rate = F.when(F.col(stratum_col) == lang, pm).otherwise(rate)
    return df.where(bucket < rate)


@register("doc_stratified_sample", _stratified_oracle())
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified downsampling audit: totals vs sampled
    counts and the char-mass keep ratio per language. Certifies
    :func:`stratified_sample`'s bucket assignment bit-for-bit (DuckDB
    reproduces the md5 buckets)."""
    d = _t(spark, sf_dir, "documents")
    sampled = stratified_sample(
        d, "doc_id", "lang", STRATA_RATES_PM
    ).select("doc_id", F.lit(1).alias("__keep"))
    return (
        d.join(sampled, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.coalesce(F.col("__keep"), F.lit(0)))
            .cast("long")
            .alias("n_sampled"),
            F.round(
                F.sum(F.when(F.col("__keep") == 1, F.col("n_chars")).otherwise(0))
                / F.nullif(F.sum("n_chars"), F.lit(0)),
                6,
            ).alias("char_keep_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus n-gram statistics
# ---------------------------------------------------------------------------


def _bigram_top_oracle(k: int = 20) -> str:
    toks = SQL_TOKS.format(col="text")
    return f"""
    WITH t AS (SELECT {toks} AS t FROM documents),
    g AS (SELECT unnest({SQL_BIGRAMS}) AS bigram FROM t),
    c AS (SELECT bigram, COUNT(*) AS n_occurrences FROM g GROUP BY bigram)
    SELECT bigram, n_occurrences
    FROM c
    ORDER BY n_occurrences DESC, bigram
    LIMIT {k}
    """


@register("corpus_bigram_top_terms", _bigram_top_oracle())
def corpus_bigram_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams: explode the (duplicates-kept)
    bigram arrays, one map-side-combining count agg, deterministic
    tie-broken top-k (TakeOrdered — never a global sort). The corpus
    phrase-frequency table that feeds boilerplate detection and
    tokenizer health checks. At 100 TB the combiner collapses each
    partition to its distinct bigrams before the single shuffle."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(TX.bigrams(F.col("text"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("bigram"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Context-window packing
# ---------------------------------------------------------------------------

#: Token budget per packed training sequence.
PACK_BUDGET = 256
#: Deterministic shards per source — the packing parallelism unit.
PACK_SHARDS = 8


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = PACK_BUDGET,
    part_col: str = "source",
    shards: int = PACK_SHARDS,
) -> DataFrame:
    """Assign documents to fixed token-budget training sequences.

    Contiguous-fill packing: within each ``(part_col, shard)`` stream,
    ordered by id, a document starts in sequence
    ``floor(cum_tokens_before / budget)``. Deterministic — no RNG, no
    data-dependent iteration — and exactly reproducible in SQL window
    functions, which is what the oracle does. A document longer than the
    budget keeps its start sequence (real packers split it; the
    assignment table is the part Spark owns either way).

    Scale: a single global cumsum would serialize the corpus through
    one window partition. Sharding by ``id % shards`` inside each
    source bounds every window partition to 1/shards of its source
    while keeping assignment a pure function of (id, tokens) — at
    100 TB raise ``shards`` to the write parallelism you want; packing
    quality is unchanged since fill is per-stream either way.

    Output: one row per (part, shard, seq_id) with doc/token counts —
    the packing manifest a sequence-builder job consumes.
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col),
        F.col(part_col),
        (F.col(id_col) % shards).alias("shard"),
        F.size(TX.tokens(F.col(text_col))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(part_col, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        c.withColumn(
            "seq_id", F.floor(F.col("cum_before") / budget).cast("long")
        )
        .groupBy(part_col, "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            F.min(id_col).alias("first_doc"),
            F.max(id_col).alias("last_doc"),
        )
    )


def _pack_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    return f"""
    WITH t AS (
        SELECT doc_id, source, doc_id % {PACK_SHARDS} AS shard,
               len({toks}) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT *,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM t
    )
    SELECT source, shard,
           CAST(FLOOR(cum_before / {PACK_BUDGET}.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c
    GROUP BY 1, 2, 3
    """


@register("doc_pack_sequences", _pack_oracle())
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing manifest: deterministic contiguous-fill
    assignment of documents to {PACK_BUDGET}-token training sequences,
    sharded for parallelism (see :func:`pack_sequences`)."""
    return pack_sequences(_t(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Embedding-column diagnostics
# ---------------------------------------------------------------------------


def _centroid_oracle() -> str:
    return """
    WITH e AS (
        SELECT label,
               unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ),
    c AS (
        SELECT label, dim,
               ROUND(AVG(CAST(v AS DOUBLE)), 9) AS m
        FROM e GROUP BY label, dim
    )
    SELECT label,
           CAST(MAX(dim) AS INTEGER) AS n_dims,
           ROUND(SQRT(SUM(m * m)), 6) AS centroid_norm
    FROM c
    GROUP BY label
    """


@register("embedding_centroid_by_label", _centroid_oracle())
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column via posexplode +
    two-level agg — the distributed mean-vector computation every
    IVF/k-means-style index build starts from. Per-dimension averages
    are rounded to 9 decimals BEFORE the norm so Spark's partial-agg
    summation order and DuckDB's agree bit-for-bit. At scale: one
    shuffle of (label, dim) partial sums — map-side combine reduces
    each partition to |labels|*|dims| rows regardless of row count."""
    e = _t(spark, sf_dir, "embeddings")
    per_dim = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 9).alias("m"))
    )
    return per_dim.groupBy("label").agg(
        F.max("dim").cast("integer").alias("n_dims"),
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias(
            "centroid_norm"
        ),
    )


def _norm_oracle() -> str:
    return """
    WITH n AS (
        SELECT label,
               SQRT(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(quantile_cont(nrm, 0.5), 6) AS median_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM n
    GROUP BY label
    """


@register("embedding_norm_quantiles", _norm_oracle())
def embedding_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm distribution of the embedding column (min /
    exact median / max) — the drift check run before cosine math, since
    un-normalized vectors silently break dot-product≈cosine shortcuts.
    The norm is a JVM-side ``aggregate`` fold over the array (no UDF);
    the exact median uses Spark's ``percentile`` — at 100 TB swap for
    ``percentile_approx`` and drop the oracle to rows-only, or keep
    exact per-label when |labels| is small (sort is per-group)."""
    e = _t(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.expr("percentile(nrm, 0.5)"), 6).alias("median_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Source mixing (temperature-weighted token-budget allocation)
# ---------------------------------------------------------------------------

#: Temperature exponent for mixture reweighting: target share per source
#: is proportional to (source tokens)^MIX_ALPHA. alpha=1 keeps the
#: natural mixture; alpha=0 samples sources uniformly; 0.5 is the
#: classic multilingual-training compromise (upsample the tail without
#: drowning the head).
MIX_ALPHA = 0.5


def _mixing_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    return f"""
    WITH t AS (
        SELECT source, len({toks}) AS nt FROM documents
    ),
    per AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM t GROUP BY source
    ),
    w AS (
        SELECT *, SQRT(CAST(n_tokens AS DOUBLE)) AS w FROM per
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_tokens,
               SUM(w) AS tot_w
        FROM w
    )
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens / tot_tokens, 6) AS natural_share,
           ROUND(w / tot_w, 6) AS target_share,
           ROUND((w / tot_w) * tot_tokens / n_tokens, 6)
               AS sampling_factor,
           ROUND((w / tot_w) * tot_tokens, 3) AS expected_tokens
    FROM w CROSS JOIN tot
    """


def mixing_weights(
    df: DataFrame,
    part_col: str,
    text_col: str,
    alpha: float = MIX_ALPHA,
) -> DataFrame:
    """Temperature-based source-mixture plan: per source, the natural
    token share, the alpha-reweighted target share, and the sampling
    factor (>1 → oversample/repeat epochs, <1 → downsample) that hits
    the target under a budget equal to the corpus size.

    Scale: token counting is a map-only Column expression; the per-source
    agg map-side combines to |sources| rows; the grand totals are ONE
    extra agg over those rows broadcast back — nothing driver-side, no
    second scan of the corpus. The output is the policy table a
    stratified sampler (:func:`stratified_sample`) or a repeat-epoch
    packer consumes.
    """
    t = df.select(
        F.col(part_col), F.size(TX.tokens(F.col(text_col))).alias("nt")
    )
    per = t.groupBy(part_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    # |sources| rows feed both the grand-total build and the final
    # select; left lazy each side re-scans the corpus for the agg.
    w = per.withColumn(
        "w", F.sqrt(F.col("n_tokens").cast("double"))
    ).localCheckpoint(eager=True)
    tot = w.agg(
        F.sum(F.col("n_tokens").cast("double")).alias("tot_tokens"),
        F.sum("w").alias("tot_w"),
    )
    share = F.col("w") / F.col("tot_w")
    return w.crossJoin(F.broadcast(tot)).select(
        part_col,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias(
            "natural_share"
        ),
        F.round(share, 6).alias("target_share"),
        F.round(share * F.col("tot_tokens") / F.col("n_tokens"), 6).alias(
            "sampling_factor"
        ),
        F.round(share * F.col("tot_tokens"), 3).alias("expected_tokens"),
    )


@register("corpus_mixing_weights", _mixing_oracle())
def corpus_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture policy table: temperature-reweighted (alpha=0.5)
    per-source sampling factors over the documents corpus (see
    :func:`mixing_weights`)."""
    return mixing_weights(_t(spark, sf_dir, "documents"), "source", "text")


# ---------------------------------------------------------------------------
# Quality-filter funnel (C4/Gopher-style staged gates)
# ---------------------------------------------------------------------------

FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 90
FUNNEL_MTL_LO = 4.25
FUNNEL_MTL_HI = 4.75
FUNNEL_MAX_DTR = 0.65
FUNNEL_MIN_SWR = 0.01
FUNNEL_STOPWORDS: tuple[str, ...] = ("the", "a")


def _funnel_oracle() -> str:
    toks = SQL_TOKS.format(col="lower(text)")
    sw = ", ".join(f"'{s}'" for s in FUNNEL_STOPWORDS)
    return f"""
    WITH t AS (
        SELECT source, {toks} AS t FROM documents
    ),
    f AS (
        SELECT source, len(t) AS nt,
               CASE WHEN len(t) > 0 THEN
                    list_sum(list_transform(t, x -> CAST(len(x) AS DOUBLE)))
                        / len(t) END AS mtl,
               CASE WHEN len(t) > 0 THEN
                    1.0 - len(list_distinct(t)) / len(t) END AS dtr,
               CASE WHEN len(t) > 0 THEN
                    len(list_filter(t, x -> x IN ({sw}))) / len(t)
                    END AS swr
        FROM t
    ),
    s AS (
        SELECT source, nt,
               (nt BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS})
                   AS s1,
               (mtl BETWEEN {FUNNEL_MTL_LO} AND {FUNNEL_MTL_HI}) AS s2,
               (dtr <= {FUNNEL_MAX_DTR}) AS s3,
               (swr >= {FUNNEL_MIN_SWR}) AS s4
        FROM f
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_length,
           CAST(SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_wordlen,
           CAST(SUM(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_repetition,
           CAST(SUM(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_all,
           CAST(SUM(CASE WHEN s1 AND s2 AND s3 AND s4 THEN nt ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM s
    GROUP BY source
    """


def quality_funnel(
    df: DataFrame, part_col: str, text_col: str
) -> DataFrame:
    """Staged quality-filter funnel: per source, how many documents
    survive each successive gate (length → mean word length →
    repetition → stopword presence) and the token mass the full filter
    keeps. The per-stage attrition table is the first artifact any
    corpus-cleaning run produces (C4 §2.2 / Gopher App. A style rules).

    All four gates are conjunctive flags computed in ONE scan — pure
    Column expressions over the token array, no UDFs, no per-stage
    passes; the only shuffle is the |sources|-row agg. At 100 TB the
    funnel costs exactly one map pass more than reading the data.
    """
    text = F.lower(F.col(text_col))
    toks = TX.tokens(text)
    nt = F.size(toks)
    mtl = TX.avg_token_length(text)
    dtr = TX.dup_token_ratio(text)
    swr = TX.stopword_ratio(text, FUNNEL_STOPWORDS)
    s1 = nt.between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS)
    s2 = mtl.between(FUNNEL_MTL_LO, FUNNEL_MTL_HI)
    s3 = dtr <= FUNNEL_MAX_DTR
    s4 = swr >= FUNNEL_MIN_SWR

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    return (
        df.select(
            F.col(part_col),
            nt.alias("nt"),
            s1.alias("s1"),
            (s1 & s2).alias("s12"),
            (s1 & s2 & s3).alias("s123"),
            (s1 & s2 & s3 & s4).alias("s1234"),
        )
        .groupBy(part_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n(F.col("s1")).alias("pass_length"),
            n(F.col("s12")).alias("pass_wordlen"),
            n(F.col("s123")).alias("pass_repetition"),
            n(F.col("s1234")).alias("pass_all"),
            F.sum(F.when(F.col("s1234"), F.col("nt")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


@register("doc_quality_funnel", _funnel_oracle())
def doc_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-filter attrition: documents surviving each
    successive C4/Gopher-style gate plus kept token mass (see
    :func:`quality_funnel`)."""
    return quality_funnel(_t(spark, sf_dir, "documents"), "source", "text")


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle manifest
# ---------------------------------------------------------------------------

SHUFFLE_BUCKETS = 32
SHUFFLE_SALT = "shuf-v1"


def _shuffle_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    return f"""
    WITH b AS (
        SELECT CAST(('0x' || substr(md5('{SHUFFLE_SALT}|'
                    || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {SHUFFLE_BUCKETS} AS bucket,
               doc_id, len({toks}) AS nt
        FROM documents
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS bucket_tokens,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM b
    GROUP BY bucket
    """


def shuffle_manifest(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = SHUFFLE_BUCKETS,
    salt: str = SHUFFLE_SALT,
) -> DataFrame:
    """Deterministic global-shuffle plan for training-order assignment:
    every document hashes (salted md5 of its id) into one of
    ``n_buckets`` shuffle buckets; reading buckets in order, each
    internally ordered by the same hash, is a reproducible
    pseudo-random permutation of the corpus — no RNG state, stable
    under re-runs and resumable mid-epoch.

    Scale: the bucket id is a map-side Column expression, so the actual
    shuffle is ONE repartition-by-bucket write (`partitionBy(bucket)`);
    at 100 TB pick n_buckets ≈ corpus/target-file-size. This query
    emits the audit manifest (per-bucket doc/token mass) that validates
    the permutation is balanced before the expensive write runs.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(salt), F.col(id_col).cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    return (
        df.select(
            bucket.alias("bucket"),
            F.col(id_col),
            F.size(TX.tokens(F.col(text_col))).alias("nt"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("bucket_tokens"),
            F.min(id_col).alias("min_doc"),
            F.max(id_col).alias("max_doc"),
        )
    )


@register("corpus_shuffle_manifest", _shuffle_oracle())
def corpus_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order shuffle audit: per-bucket document/token mass of
    the deterministic salted-hash permutation (see
    :func:`shuffle_manifest`)."""
    return shuffle_manifest(_t(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Corpus-wide repeated-chunk removal (C4/RefinedWeb line-dedup analog)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 16


def _chunk_dedup_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    cs = CHUNK_TOKENS
    return f"""
    WITH t AS (
        SELECT doc_id, {toks} AS t FROM documents
    ),
    base AS (
        SELECT doc_id, t,
               CAST(floor(len(t) / {cs}) AS INTEGER) AS nf
        FROM t
    ),
    withtail AS (
        SELECT doc_id, nf,
               array_to_string(list_slice(t, nf * {cs} + 1, len(t)), ' ')
                   AS tail
        FROM base
    ),
    ch AS (
        SELECT doc_id,
               unnest(list_transform(range(0, nf), j -> {{
                   'idx': j,
                   'c': array_to_string(
                       list_slice(t, j * {cs} + 1, (j + 1) * {cs}), ' ')
               }})) AS u
        FROM base
    ),
    ex AS (
        SELECT doc_id, CAST(u.idx AS INTEGER) AS idx, u.c AS chunk FROM ch
    ),
    ranked AS (
        SELECT doc_id, idx, chunk,
               ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                  ORDER BY doc_id, idx) AS rn
        FROM ex
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed,
               string_agg(CASE WHEN rn = 1 THEN chunk END,
                          ' ' ORDER BY idx) AS kept
        FROM ranked GROUP BY doc_id
    ),
    built AS (
        SELECT w.doc_id,
               CAST(w.nf AS BIGINT) AS n_chunks,
               COALESCE(p.n_removed, 0) AS n_removed,
               concat_ws(' ', NULLIF(p.kept, ''), NULLIF(w.tail, ''))
                   AS clean
        FROM withtail w LEFT JOIN perdoc p USING (doc_id)
    )
    SELECT doc_id, n_chunks, n_removed,
           CAST(len({SQL_TOKS.format(col='clean')}) AS BIGINT)
               AS clean_n_tokens,
           md5(clean) AS clean_md5
    FROM built
    ORDER BY doc_id
    """


@register("doc_chunk_dedup", _chunk_dedup_oracle())
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-chunk removal: every {CHUNK_TOKENS}-token
    chunk keeps only its first occurrence (smallest ``(doc_id, idx)``)
    across the whole corpus, and documents are rebuilt from surviving
    chunks — the C4/RefinedWeb span-dedup step between exact and fuzzy
    dedup. One window shuffle over ``md5(chunk)``; payload text never
    fans out (see :func:`operators.dedup.chunk_dedup`)."""
    from .operators.dedup import chunk_dedup

    return chunk_dedup(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        chunk_size=CHUNK_TOKENS,
    )


# ---------------------------------------------------------------------------
# N-gram-overlap decontamination (GPT-3-style 13-gram rule, n=8 here)
# ---------------------------------------------------------------------------

DECON_N = 4
#: Deterministic stand-in for the held-out eval set: docs with
#: doc_id % 97 == 7 play the benchmark; everything else is "training".
EVAL_MOD, EVAL_REM = 97, 7


def _ngram_decon_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    n = DECON_N
    g8 = (
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len(t) - {n - 2}), "
        f"i -> array_to_string(t[i:i+{n - 1}], ' '))) "
        "ELSE [array_to_string(t, ' ')] END"
    )
    return f"""
    WITH t AS (
        SELECT doc_id, source, {toks} AS t FROM documents
    ),
    ev AS (
        SELECT DISTINCT unnest(g8) AS g
        FROM (SELECT {g8} AS g8 FROM t
              WHERE doc_id % {EVAL_MOD} = {EVAL_REM})
    ),
    corp AS (
        SELECT doc_id, source, unnest(g8) AS g
        FROM (SELECT doc_id, source, {g8} AS g8 FROM t
              WHERE doc_id % {EVAL_MOD} <> {EVAL_REM})
    ),
    hit AS (
        SELECT DISTINCT c.doc_id FROM corp c JOIN ev ON ev.g = c.g
    ),
    base AS (
        SELECT doc_id, source FROM documents
        WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}
    )
    SELECT b.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           ROUND(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1.0 ELSE 0.0
                     END) / COUNT(*), 6) AS contamination_rate
    FROM base b LEFT JOIN hit h ON h.doc_id = b.doc_id
    GROUP BY b.source
    ORDER BY b.source
    """


@register("doc_ngram_decontaminate", _ngram_decon_oracle())
def doc_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination (the GPT-3/PaLM 13-gram rule):
    flag every training document sharing at least one n-gram with the
    held-out eval slice (deterministic doc_id % 97 == 7 stand-in for a
    benchmark table). Per-source contamination report. n=4 here — over
    the synthetic 40-word vocabulary that is the collision-rate analog
    of 13-grams over real text and flags ~2% of the corpus, so both
    branches of the gate are driver-certified (n=8 flags nothing).

    Scale shape: the eval n-gram set is benchmark-sized (thousands of
    docs, not corpus-sized) → collected into a broadcast semi-join
    against the exploded training n-grams, which streams at scan speed
    with NO corpus-side shuffle; the only shuffle is the per-doc
    distinct on flagged ids (sliver-sized)."""
    d = _t(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_REM
    staged = d.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("__t")
    )
    eval_g = (
        staged.filter(is_eval)
        .select(F.explode(TX.shingles_of(F.col("__t"), DECON_N)).alias("g"))
        .distinct()
    )
    corp_g = staged.filter(~is_eval).select(
        "doc_id",
        F.explode(TX.shingles_of(F.col("__t"), DECON_N)).alias("g"),
    )
    hits = (
        corp_g.join(F.broadcast(eval_g), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        d.filter(~is_eval)
        .select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
            F.round(
                F.sum(
                    F.coalesce(F.col("__hit"), F.lit(0)).cast("double")
                )
                / F.count(F.lit(1)),
                6,
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction pass)
# ---------------------------------------------------------------------------

#: Java-regex AND RE2-compatible patterns (no lookarounds, no backrefs),
#: so Spark and DuckDB compile identical automata.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\b555-[0-9]{4}\b"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _pii_oracle() -> str:
    return f"""
    WITH inj AS (
        SELECT source,
               text || ' reach user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS s
        FROM documents
    ),
    scr AS (
        SELECT source, s,
               len(regexp_extract_all(s, '{PII_EMAIL_RE}')) AS n_email,
               len(regexp_extract_all(s, '{PII_PHONE_RE}')) AS n_phone,
               len(regexp_extract_all(s, '{PII_IP_RE}')) AS n_ip,
               regexp_replace(regexp_replace(regexp_replace(
                   s, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{PII_PHONE_RE}', '<PHONE>', 'g'),
                      '{PII_IP_RE}', '<IP>', 'g') AS red
        FROM inj
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS emails_found,
           CAST(SUM(n_phone) AS BIGINT) AS phones_found,
           CAST(SUM(n_ip) AS BIGINT) AS ips_found,
           CAST(SUM(len(s) - len(red)) AS BIGINT) AS chars_redacted
    FROM scr GROUP BY source ORDER BY source
    """


def pii_scrub_profile(
    df: DataFrame, part_col: str, text_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Regex PII redaction audit: per partition, how many emails /
    phone numbers / IPv4 addresses the scrubber found and how many
    characters redaction removed. The pre-write compliance pass every
    web-scale corpus runs (C4 removed lines with "bad words" the same
    way; production pipelines scrub emails/phones/IPs before training).

    The synthetic corpus carries no organic PII, so the scrubber is
    exercised on deterministically injected contact strings (derived
    from the doc id — no RNG); the operator itself — chained
    regexp_replace + regexp_count at scan speed — is the real thing
    and is what a user pointing this at a real corpus would run.

    Scale: pure Column expressions in one map pass; the only shuffle is
    the |partitions|-row agg. Redaction of the full text column at
    100 TB is scan-bound, exactly as it should be.
    """
    injected = F.concat(
        F.col(text_col),
        F.lit(" reach user"),
        F.col(id_col).cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col(id_col) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col(id_col) % 256).cast("string"),
        F.lit("."),
        ((F.col(id_col) * 7) % 256).cast("string"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("s"), PII_EMAIL_RE, "<EMAIL>"
            ),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    return (
        df.select(F.col(part_col), injected.alias("s"))
        .select(
            part_col,
            "s",
            F.regexp_count(F.col("s"), F.lit(PII_EMAIL_RE)).alias(
                "n_email"
            ),
            F.regexp_count(F.col("s"), F.lit(PII_PHONE_RE)).alias(
                "n_phone"
            ),
            F.regexp_count(F.col("s"), F.lit(PII_IP_RE)).alias("n_ip"),
            red.alias("red"),
        )
        .groupBy(part_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_email").cast("long").alias("emails_found"),
            F.sum("n_phone").cast("long").alias("phones_found"),
            F.sum("n_ip").cast("long").alias("ips_found"),
            F.sum(F.length("s") - F.length("red"))
            .cast("long")
            .alias("chars_redacted"),
        )
        .orderBy(part_col)
    )


@register("doc_pii_scrub", _pii_oracle())
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII-redaction audit over deterministically injected
    contact strings (see :func:`pii_scrub_profile`)."""
    return pii_scrub_profile(_t(spark, sf_dir, "documents"), "source", "text")


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (funnel -> dedup -> packing manifest)
# ---------------------------------------------------------------------------


def funnel_pass(text_col) -> "F.Column":
    """Conjunction of the four quality-funnel gates (same expressions
    and constants as :func:`quality_funnel`)."""
    text = F.lower(text_col)
    nt = F.size(TX.tokens(text))
    mtl = TX.avg_token_length(text)
    dtr = TX.dup_token_ratio(text)
    swr = TX.stopword_ratio(text, FUNNEL_STOPWORDS)
    return (
        nt.between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS)
        & mtl.between(FUNNEL_MTL_LO, FUNNEL_MTL_HI)
        & (dtr <= FUNNEL_MAX_DTR)
        & (swr >= FUNNEL_MIN_SWR)
    )


def _funnel_comp_prefix(where: str = "") -> str:
    """The shared CTE chain ``tq → fl → qdocs → pairs → edges → reach
    → comp``: quality-funnel survivors plus near-dup components over
    the SURVIVOR-INDUCED graph (pairs recomputed on the filtered
    table — a dropped bridge doc genuinely disconnects its neighbors).
    Composed by the pipeline oracle, the curation leakage-split oracle
    and (``where``-restricted to the non-eval corpus) the
    quarantine-composed split oracle in ``queries_analytics``."""
    from .queries_llm import _minhash_oracle

    toks_l = SQL_TOKS.format(col="lower(text)")
    sw = ", ".join(f"'{s}'" for s in FUNNEL_STOPWORDS)
    pairs = _minhash_oracle(table="qdocs")
    src = f"documents {where}" if where else "documents"
    return f"""tq AS (
        SELECT doc_id, source, text, {toks_l} AS lt FROM {src}
    ),
    fl AS (
        SELECT doc_id, source, text,
               len(lt) AS nt,
               CASE WHEN len(lt) > 0 THEN
                    list_sum(list_transform(lt, x -> CAST(len(x) AS DOUBLE)))
                        / len(lt) END AS mtl,
               CASE WHEN len(lt) > 0 THEN
                    1.0 - len(list_distinct(lt)) / len(lt) END AS dtr,
               CASE WHEN len(lt) > 0 THEN
                    len(list_filter(lt, x -> x IN ({sw}))) / len(lt)
                    END AS swr
        FROM tq
    ),
    qdocs AS (
        SELECT doc_id, source, text FROM fl
        WHERE (nt BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS})
          AND (mtl BETWEEN {FUNNEL_MTL_LO} AND {FUNNEL_MTL_HI})
          AND (dtr <= {FUNNEL_MAX_DTR})
          AND (swr >= {FUNNEL_MIN_SWR})
    ),
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
    comp AS (SELECT id, MIN(root) AS component FROM reach GROUP BY id)"""


def _pipeline_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    return f"""
    WITH RECURSIVE {_funnel_comp_prefix()},
    losers AS (SELECT id AS doc_id FROM comp WHERE component <> id),
    kept AS (
        SELECT * FROM qdocs
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ),
    pt AS (
        SELECT doc_id, source, doc_id % {PACK_SHARDS} AS shard,
               len({toks}) AS n_tokens
        FROM kept
    ),
    pc AS (
        SELECT *,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM pt
    )
    SELECT source, shard,
           CAST(FLOOR(cum_before / {PACK_BUDGET}.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM pc
    GROUP BY 1, 2, 3
    """


@register("corpus_curation_pipeline", _pipeline_oracle())
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation: quality-funnel gate → MinHash/LSH near-dup
    components over the survivors (min-id keeper) → context-window
    packing manifest of the kept corpus. One query certifying the whole
    stack composes — any membership change at any stage flips the
    manifest's counts/boundaries and the value hash.

    Scale: each stage keeps its standalone plan (scan-speed gates, the
    banded LSH chain over the filtered sliver only — dedup after
    filtering is the production order since the gate is 100x cheaper
    per doc — and the sharded packing cumsum); the kept-corpus filter
    is an anti-join whose broadcast hint arms only under a measured
    loser count (VERDICT r5 #1 — dup-heavy crawls make it corpus-scale)."""
    from .operators.dedup import duplicate_components, minhash_dedup_pairs
    from .plans.layout import broadcast_if_small
    from .queries_llm import LSH_CHAIN

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    q = d.filter(funnel_pass(F.col("text")))
    pairs = minhash_dedup_pairs(
        q,
        "doc_id",
        "text",
        **LSH_CHAIN,
    )
    comp = duplicate_components(pairs)
    losers = comp.filter(F.col("component") != F.col("doc_id")).select(
        "doc_id"
    )
    kept = q.join(broadcast_if_small(losers), "doc_id", "left_anti")
    return pack_sequences(kept, "doc_id", "text")


def _curation_split_oracle() -> str:
    return f"""
    WITH RECURSIVE {_funnel_comp_prefix()},
    g AS (
        SELECT q.doc_id,
               COALESCE(c.component, q.doc_id) AS group_id,
               c.id IS NOT NULL AS is_dup_member
        FROM qdocs q LEFT JOIN comp c ON c.id = q.doc_id
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


@register("curation_leakage_split", _curation_split_oracle())
def curation_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage-safe split composed INTO the curation funnel — the
    production order: quality-gate first (100× cheaper per doc than
    dedup), then near-dup components over the SURVIVOR-INDUCED graph,
    then the component-routed train/val/test split of the surviving
    corpus. Induced, not filtered-global: a dropped bridge doc
    genuinely disconnects its neighbors, so two survivors whose only
    similarity path ran through rejected boilerplate split
    independently — which is correct, their direct similarity is below
    threshold.

    Note the deliberate difference from ``dedup_leakage_safe_split``:
    that query routes the RAW corpus via the persisted pair-graph
    artifact; this one recomputes the chain on the funnel's output
    (different doc set ⇒ different graph), certifying the composed
    plan end-to-end the way ``corpus_curation_pipeline`` certifies
    funnel→dedup→packing.

    Scale: the LSH chain runs on the filtered sliver only; the
    component-map join hint is measured-count guarded
    (:func:`broadcast_if_small`, VERDICT r5 #1 — dup members can be a
    large fraction of a crawl corpus, so the hint must never be
    unconditional); the split expression is narrow-only."""
    from .operators.dedup import (
        component_groups,
        duplicate_components,
        minhash_dedup_pairs,
    )
    from .queries_llm import LSH_CHAIN

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    q = d.filter(funnel_pass(F.col("text")))
    pairs = minhash_dedup_pairs(
        q,
        "doc_id",
        "text",
        **LSH_CHAIN,
    )
    comp = duplicate_components(pairs)
    a = deterministic_split(component_groups(q, "doc_id", comp), "group_id")
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


# ---------------------------------------------------------------------------
# BPE pair statistics (tokenizer training, iteration zero)
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 50


@register(
    "corpus_bpe_pair_counts",
    f"""
    WITH ex AS (
        SELECT unnest({SQL_TOKS.format(col='text')}) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok, COUNT(*) AS n FROM ex GROUP BY 1
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(tok)),
                                     i -> substr(tok, CAST(i AS INTEGER), 2)
              )) AS pair,
               n
        FROM vocab WHERE length(tok) >= 2
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY 1
    ORDER BY n_occurrences DESC, pair
    LIMIT {BPE_TOP_PAIRS}
    """,
)
def corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding statistics, iteration zero: corpus-weighted
    adjacent symbol-pair counts — the argmax of this table is the first
    BPE merge (Sennrich et al. 2016, public). The full tokenizer
    training loop re-runs this after each merge; the per-iteration cost
    is exactly this query, so its plan IS the trainer's scale story.

    Scale shape: the corpus collapses to the VOCABULARY before any
    character work — pair explosion runs over distinct tokens weighted
    by their counts (|vocab| ≪ corpus tokens), so the expensive explode
    is vocabulary-sized, not corpus-sized. Adjacent pairs are length-2
    substrings (one expression, no UDF); top-K selection is a
    deterministic TakeOrdered on (count DESC, pair ASC)."""
    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        vocab.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1),"
                    " i -> substring(tok, i, 2))"
                )
            ).alias("pair"),
            "n",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate (tokenizer diagnostics)
# ---------------------------------------------------------------------------

OOV_VOCAB_K = 30


@register(
    "corpus_oov_rate",
    f"""
    WITH ex AS (
        SELECT lang, unnest({SQL_TOKS.format(col='lower(text)')}) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS c FROM ex
            GROUP BY 1 ORDER BY c DESC, token LIMIT {OOV_VOCAB_K}
        )
    )
    SELECT ex.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS oov_rate
    FROM ex LEFT JOIN vocab v ON v.token = ex.token
    GROUP BY 1
    """,
)
def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language for a frequency-truncated
    top-K vocabulary — the coverage number that decides a tokenizer's
    vocab size and flags languages the vocabulary underserves (the
    head language always wins a frequency-ranked vocab; the tail's
    OOV rate is the fairness metric).

    Scale: the vocabulary is top-K-small by construction → broadcast
    left join against the exploded token stream at scan speed; the
    only shuffles are the vocabulary's own agg and the final per-lang
    agg (both tiny). Deterministic vocab: ties on count break by
    token."""
    d = _t(spark, sf_dir, "documents")
    ex = d.select(
        "lang",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("token"),
    )
    vocab = (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(OOV_VOCAB_K)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    oov = F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
    return (
        ex.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(oov).cast("long").alias("n_oov"),
            F.round(F.sum(oov) / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining (PMI) and DSIR importance weighting — round-3 wave
# ---------------------------------------------------------------------------

#: Minimum bigram occurrences for a PMI candidate: PMI of a
#: singleton bigram is pure noise (one co-occurrence of two rare
#: tokens maxes the score), so every collocation pipeline floors
#: the count first.
PMI_MIN_COUNT = 5
PMI_TOPK = 20


def _pmi_oracle() -> str:
    toks = SQL_TOKS.format(col="lower(text)")
    return f"""
    WITH t AS (SELECT {toks} AS t FROM documents),
    uni AS (
        SELECT token, COUNT(*) AS cu
        FROM (SELECT unnest(t) AS token FROM t) GROUP BY token
    ),
    tot_u AS (SELECT CAST(SUM(cu) AS DOUBLE) AS nu FROM uni),
    big AS (
        SELECT bigram, COUNT(*) AS cb
        FROM (SELECT unnest({SQL_BIGRAMS}) AS bigram FROM t)
        GROUP BY bigram
        HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ),
    tot_b AS (SELECT CAST(SUM(cb) AS DOUBLE) AS nb FROM
              (SELECT COUNT(*) AS cb
               FROM (SELECT unnest({SQL_BIGRAMS}) AS bigram FROM t)
               GROUP BY bigram))
    SELECT b.bigram,
           CAST(b.cb AS BIGINT) AS n_occurrences,
           ROUND(ln((b.cb / tb.nb) /
                    ((u1.cu / tu.nu) * (u2.cu / tu.nu))), 6) AS pmi
    FROM big b
    JOIN uni u1 ON u1.token = split_part(b.bigram, ' ', 1)
    JOIN uni u2 ON u2.token = split_part(b.bigram, ' ', 2)
    CROSS JOIN tot_u tu CROSS JOIN tot_b tb
    ORDER BY pmi DESC, b.bigram ASC
    LIMIT {PMI_TOPK}
    """


@register("corpus_bigram_pmi", _pmi_oracle())
def corpus_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations: the corpus's most
    over-represented word pairs relative to their unigram frequencies
    (PMI = ln P(ab)/(P(a)P(b)) over count-floored bigrams) — the
    statistic behind phrase/boilerplate detection and tokenizer-merge
    candidates, one step past raw bigram counts (which just surface
    stopword pairs).

    Scale: two explode+agg passes over one cached token frame build the
    unigram and bigram count tables (both vocab-sized); the scoring
    joins key on single tokens against the vocab-sized unigram table
    (AQE broadcasts it in practice), totals are broadcast scalars, and
    the top-k is TakeOrdered on the count-floored candidate sliver —
    no corpus-scale sort anywhere."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(TX.tokens(F.lower(F.col("text"))).alias("t"))
    # one tokenized frame feeds the unigram AND bigram aggregations
    t = t.localCheckpoint(eager=True)
    uni = (
        t.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cu"))
        .localCheckpoint(eager=True)
    )
    big_all = (
        t.select(F.explode(TX.bigrams_of(F.col("t"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=True)
    )
    nu = uni.agg(F.sum("cu").cast("double").alias("nu"))
    nb = big_all.agg(F.sum("cb").cast("double").alias("nb"))
    big = big_all.filter(F.col("cb") >= PMI_MIN_COUNT).select(
        "bigram",
        "cb",
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("__w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("__w2"),
    )
    u1 = uni.select(F.col("token").alias("__w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("token").alias("__w2"), F.col("cu").alias("cu2"))
    pmi = F.round(
        F.log(
            (F.col("cb") / F.col("nb"))
            / ((F.col("cu1") / F.col("nu")) * (F.col("cu2") / F.col("nu")))
        ),
        6,
    )
    return (
        big.join(u1, "__w1")
        .join(u2, "__w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "bigram",
            F.col("cb").cast("long").alias("n_occurrences"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(PMI_TOPK)
    )


#: DSIR target domain: English docs stand in for "the distribution we
#: want more of" (in production: a high-quality seed corpus).
DSIR_TARGET_LANG = "en"


def _dsir_oracle() -> str:
    toks = SQL_TOKS.format(col="lower(text)")
    return f"""
    WITH ex AS (
        SELECT doc_id, lang, unnest({toks}) AS token FROM documents
    ),
    call AS (SELECT token, COUNT(*) AS ca FROM ex GROUP BY token),
    ctgt AS (SELECT token, COUNT(*) AS ct FROM ex
             WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY token),
    scal AS (
        SELECT CAST((SELECT COUNT(*) FROM call) AS DOUBLE) AS v,
               CAST((SELECT SUM(ca) FROM call) AS DOUBLE) AS na,
               CAST((SELECT COALESCE(SUM(ct), 0) FROM ctgt) AS DOUBLE)
                   AS nt
    ),
    lr AS (
        SELECT e.doc_id,
               CAST(ROUND((ln((COALESCE(t.ct, 0) + 1) / (s.nt + s.v))
                           - ln((c.ca + 1) / (s.na + s.v)))
                          * 1000000.0, 0) AS BIGINT) AS lr_micro
        FROM ex e
        JOIN call c USING (token)
        LEFT JOIN ctgt t USING (token)
        CROSS JOIN scal s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           (ROUND(CAST(SUM(lr_micro) AS DOUBLE)
                  / (COUNT(*) * 1000000.0), 4) + 0.0) AS avg_logratio,
           CAST(SUM(lr_micro) AS BIGINT) > 0 AS target_like
    FROM lr GROUP BY doc_id ORDER BY doc_id
    """


@register("dsir_importance_weights", _dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document by the mean
    per-token log-ratio of an add-1-smoothed TARGET unigram LM (here:
    the corpus's English slice) over the full-corpus LM. Positive mean
    ⇒ the doc looks more like the target domain than the raw pool —
    the ranking a data-selection pass resamples by. Hashed-ngram DSIR
    swaps the token key for a hashed-feature key; the plan is
    identical.

    Scale: the same shape as ``doc_unigram_logprob`` with TWO count
    tables fit in one explode pass (the target table is a filtered
    re-aggregation, both vocab-sized); smoothing constants travel as
    one broadcast scalar row; per-token ratios are quantized to exact
    BIGINT micro-units so the per-doc sum is order-independent integer
    addition and the mean is ONE final double division — identical
    doubles summed in different partition orders are NOT enough (that
    was CORRECTNESS_r03's one hash mismatch)."""
    d = _t(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id",
        "lang",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("token"),
    )
    call = (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).alias("ca"))
        .localCheckpoint(eager=True)
    )
    ctgt = (
        ex.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("ct"))
        .localCheckpoint(eager=True)
    )
    scal = F.broadcast(
        call.agg(
            F.count(F.lit(1)).cast("double").alias("v"),
            F.sum("ca").cast("double").alias("na"),
        ).crossJoin(
            ctgt.agg(
                F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("nt")
            )
        )
    )
    lr_micro = F.round(
        (
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("nt") + F.col("v"))
            )
            - F.log((F.col("ca") + 1) / (F.col("na") + F.col("v")))
        )
        * 1000000.0,
        0,
    ).cast("long")
    scored = (
        ex.join(call, "token")
        .join(ctgt, "token", "left")
        .crossJoin(scal)
        .select("doc_id", lr_micro.alias("lr_micro"))
    )
    # exact BIGINT ledger: the sum is order-independent, so the final
    # single double division is bit-identical across engines/partition
    # orders (the 6-dp-double-sum version drifted on the driver's
    # local[32] partitioning — CORRECTNESS_r03's one red row); nz()
    # normalizes the -0.0 a tiny negative sum rounds to in DuckDB but
    # not in Spark (CORRECTNESS_r04's one red row)
    s_micro = F.sum("lr_micro").cast("long")
    avg = nz(
        F.round(s_micro.cast("double") / (F.count(F.lit(1)) * 1000000.0), 4)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            avg.alias("avg_logratio"),
            (s_micro > 0).alias("target_like"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bounded-memory sketch architectures: Bloom membership, Misra-Gries
# heavy hitters (round 6; operators/sketches.py)
# ---------------------------------------------------------------------------

#: Misra-Gries capacity for the heavy-hitters query. 32 over the
#: synthetic 31-token vocabulary means the sf-gate output is the
#: near-uniform head above n/32 (~half the vocabulary — a dense,
#: tie-heavy band that certifies the exact rescore hard); the sketch's
#: truncation path is certified separately by adversarial property
#: tests (tests/test_sketches.py), the precedent being DECON_N=4 as the
#: collision-rate analog of 13-gram decontamination.
HH_CAPACITY = 32

#: Bloom geometry: bits-per-known-item and probe count. 16 bits/item at
#: k=2 gives a DELIBERATELY loose ~1.4% false-positive rate so the
#: FP-audit arm of the query is exercised and counted at every sf (a
#: production filter runs k≈7 at 10-14 bits/item for <1%; the load
#: factor here is scale-invariant by construction — m grows with the
#: measured known-set size, the n-scaled-geometry pattern the SRP band
#: ladder established).
BLOOM_BITS_PER_ITEM = 16
BLOOM_K = 2
BLOOM_M_FLOOR = 64  # keeps m positive when the eval slice is empty

KCENTER_K = 8


def _heavy_hitters_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    return f"""
    WITH t AS (SELECT {toks} AS t FROM documents),
    tok AS (SELECT unnest(t) AS token FROM t),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(*) * 1000000 // (SELECT n FROM n) AS BIGINT)
               AS share_ppm
    FROM tok GROUP BY token
    HAVING COUNT(*) >= (SELECT n FROM n) // {HH_CAPACITY} + 1
    ORDER BY n_occurrences DESC, token
    """


@register("corpus_heavy_hitters", _heavy_hitters_oracle())
def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token heavy hitters (count >= n DIV capacity + 1) via the
    Misra-Gries sketch -> exact-rescore architecture: one scan with a
    CONSTANT-size per-partition summary proposes candidates (provably a
    superset of everything above the threshold — the n/(capacity+1)
    retention bound), a second scan rescores only candidates through a
    broadcast semi-join. For huge item domains (n-grams, URLs — the
    boilerplate-detection case, where per-partition distinct ~ partition
    size) this replaces the exact groupBy's corpus-scale shuffle with a
    P x capacity sliver; the OUTPUT is exact either way, which is why a
    plain SQL oracle certifies the whole architecture.

    Python appears only as the declared Arrow stage (mapInPandas MG
    summary, operators/sketches.py misra_gries_candidates)."""
    from .operators.sketches import heavy_hitters_exact

    items = _t(spark, sf_dir, "documents").select(
        F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    return (
        heavy_hitters_exact(items, "token", HH_CAPACITY)
        .select(
            F.col("item").alias("token"), "n_occurrences", "share_ppm"
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
    )


#: fp(text) in DuckDB — the repo-wide exact-dedup fingerprint.
_SQL_FP = r"md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))"


def _bloom_oracle() -> str:
    m = (
        f"(SELECT CAST({BLOOM_BITS_PER_ITEM} * COUNT(DISTINCT fp) "
        f"+ {BLOOM_M_FLOOR} AS BIGINT) FROM ev)"
    )
    pos = [
        f"CAST(('0x' || substr(md5('{j}|' || fp), 1, 15)) AS BIGINT) % {m}"
        for j in range(BLOOM_K)
    ]
    pos_cols = ", ".join(f"{p} AS p{j}" for j, p in enumerate(pos))
    bloom_hit = " AND ".join(
        f"(p{j} IN (SELECT pos FROM evpos))" for j in range(BLOOM_K)
    )
    ev_pos_rows = " UNION ALL ".join(
        f"SELECT {p} AS pos FROM ev" for p in pos
    )
    return f"""
    WITH ev AS (
        SELECT DISTINCT {_SQL_FP} AS fp FROM documents
        WHERE doc_id % {EVAL_MOD} = {EVAL_REM}
    ),
    evpos AS (SELECT DISTINCT pos FROM ({ev_pos_rows})),
    corp AS (
        SELECT doc_id, source, {_SQL_FP} AS fp FROM documents
        WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}
    ),
    probe AS (SELECT doc_id, source, fp, {pos_cols} FROM corp),
    flags AS (
        SELECT doc_id, source,
               ({bloom_hit}) AS bloom_hit,
               (fp IN (SELECT fp FROM ev)) AS exact_hit
        FROM probe
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_hits,
           CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_hits,
           CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           ROUND(SUM(CASE WHEN bloom_hit AND NOT exact_hit
                     THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS fp_rate
    FROM flags GROUP BY source ORDER BY source
    """


@register("dedup_bloom_membership", _bloom_oracle())
def dedup_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Known-set membership at crawl scale: probe every training
    document's content fingerprint against a broadcast BLOOM BITMAP of
    the held-out eval slice's fingerprints (the doc_id % 97 == 7
    benchmark stand-in), per-source audit of bloom hits vs exact hits
    vs false positives. The pattern a 100 TB decontamination/recrawl
    pass runs when the known set (benchmark fps, seen URLs) is too big
    to semi-join per batch but its BITS fit in a broadcast: the probe
    is k O(1) map-side bit tests — no shuffle, no corpus-side state —
    and Bloom's one-sided error means a downstream exact join on just
    the flagged sliver restores exactness (the exact arm here measures
    precisely that sliver).

    The exact arm doubles as the self-audit: n_bloom_hits >=
    n_exact_hits always (no false negatives — property-tested), and
    n_false_positives / fp_rate measure the deliberately-loose
    16-bits-per-item k=2 geometry (~1.4%, scale-invariant because m is
    n-scaled from the measured known-set size). All arithmetic integer
    or 6-dp-rounded; bit positions are the repo's portable md5 hash, so
    the oracle reproduces the bitmap bit-for-bit."""
    from .operators.sketches import bloom_build, bloom_probe

    d = _t(spark, sf_dir, "documents")
    fp = F.md5(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    )
    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_REM
    ev = d.filter(is_eval).select(fp.alias("fp")).distinct()
    # n-scaled geometry: m tracks the measured known-set size so the
    # load factor (and FP rate) is scale-invariant. The count is a
    # sliver-sized action, same contract as broadcast_if_small.
    m_bits = BLOOM_BITS_PER_ITEM * ev.count() + BLOOM_M_FLOOR
    bloom = bloom_build(ev, "fp", m_bits, BLOOM_K)
    corp = d.filter(~is_eval).select("doc_id", "source", fp.alias("fp"))
    probed = bloom_probe(corp, "fp", bloom, m_bits, BLOOM_K)
    flagged = probed.join(
        F.broadcast(ev.withColumn("__ex", F.lit(1))), "fp", "left"
    ).select(
        "source",
        F.col("bloom_hit"),
        (F.col("__ex").isNotNull()).alias("exact_hit"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("bloom_hit").cast("long"))
            .cast("long")
            .alias("n_bloom_hits"),
            F.sum(F.col("exact_hit").cast("long"))
            .cast("long")
            .alias("n_exact_hits"),
            F.sum(
                (F.col("bloom_hit") & ~F.col("exact_hit")).cast("long")
            )
            .cast("long")
            .alias("n_false_positives"),
            F.round(
                F.sum(
                    (F.col("bloom_hit") & ~F.col("exact_hit")).cast(
                        "double"
                    )
                )
                / F.count(F.lit(1)),
                6,
            ).alias("fp_rate"),
        )
        .orderBy("source")
    )


#: Count-Min geometry. DELIBERATELY tight (4 rows x 16 buckets over a
#: ~31-token vocabulary) so hash collisions land at every test SF and
#: the overestimate-audit arm is exercised with real nonzero values —
#: the Bloom query's loose-geometry precedent. A production sketch over
#: an n-gram/URL domain runs width ~ 2/eps (e.g. 2^20 buckets for
#: eps ~ 2e-6 of stream mass) at the same depth; the plan shape is
#: geometry-invariant because the shuffle key space IS the geometry.
CMS_DEPTH = 4
CMS_WIDTH = 16
CMS_SALT = "cms-v1"


def _cms_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    bucket = (
        "CAST(('0x' || substr(md5('{salt}-{j}|' || token), 1, 15)) "
        f"AS BIGINT) % {CMS_WIDTH}"
    )
    pair_rows = " UNION ALL ".join(
        f"SELECT token, n_exact, {j} AS d, "
        + bucket.format(salt=CMS_SALT, j=j)
        + " AS bucket FROM exact"
        for j in range(CMS_DEPTH)
    )
    return f"""
    WITH t AS (SELECT {toks} AS t FROM documents),
    tok AS (SELECT unnest(t) AS token FROM t),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM tok GROUP BY token
    ),
    pairs AS ({pair_rows}),
    sk AS (
        SELECT d, bucket, CAST(SUM(n_exact) AS BIGINT) AS cnt
        FROM pairs GROUP BY d, bucket
    ),
    est AS (
        SELECT token, CAST(MIN(cnt) AS BIGINT) AS cms_estimate
        FROM pairs JOIN sk USING (d, bucket) GROUP BY token
    )
    SELECT token, n_exact, cms_estimate,
           CAST(cms_estimate - n_exact AS BIGINT) AS overestimate
    FROM exact JOIN est USING (token)
    ORDER BY token
    """


@register("corpus_cms_frequency", _cms_oracle())
def corpus_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-frequency estimation via the Count-Min sketch, audited
    against the exact count per token — the fourth mergeable
    bounded-memory sketch beside Bloom (membership), Misra-Gries
    (top-set proposal), and KMV (cardinality), and the one a 100 TB
    pipeline uses when it needs "how often does THIS item occur"
    without a corpus-scale groupBy: the counter matrix is depth x width
    CELLS regardless of item-domain size, partial aggregation collapses
    each partition to that constant before the exchange, and counters
    are additive so per-batch sketches merge by cell-wise sum (the
    streaming twin, ``CmsFrequencyMonitorSink``, is bit-equivalent by
    that property — e2e-tested).

    The exact arm is the self-audit: Count-Min error is ONE-SIDED
    (collisions only add), so ``overestimate = cms_estimate - n_exact``
    is >= 0 on every row (property-tested) — the guarantee that lets a
    consumer treat the estimate as a trustworthy upper bound and
    exact-rescore only the sliver that matters. The deliberately tight
    4 x 16 geometry forces real collisions at every SF so the audit arm
    measures nonzero overestimates, not a vacuous zero column. All
    arithmetic integer; buckets are the repo's portable md5 hash, so
    the oracle replays the counter matrix bit-for-bit."""
    from .operators.sketches import cms_build, cms_estimate

    items = _t(spark, sf_dir, "documents").select(
        F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    sketch = cms_build(items, "token", CMS_DEPTH, CMS_WIDTH, CMS_SALT)
    exact = items.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    est = cms_estimate(
        exact.select("token"),
        "token",
        sketch,
        CMS_DEPTH,
        CMS_WIDTH,
        CMS_SALT,
    )
    return (
        exact.join(est, "token")
        .select(
            "token",
            "n_exact",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("n_exact"))
            .cast("long")
            .alias("overestimate"),
        )
        .orderBy("token")
    )


def _kcenter_oracle() -> str:
    dist = (
        "CAST(ROUND(list_sum(list_transform(range(1, len({a}.v) + 1), "
        "i -> ({a}.v[i] - {b}.v[i]) * ({a}.v[i] - {b}.v[i]))) "
        "* 1000000, 0) AS BIGINT)"
    )
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) "
        "AS v FROM embeddings)",
        "s0 AS MATERIALIZED (SELECT 0 AS round, vec_id, v, "
        "CAST(0 AS BIGINT) AS d FROM e ORDER BY vec_id LIMIT 1)",
        f"d1 AS MATERIALIZED (SELECT e.vec_id, e.v, "
        f"{dist.format(a='e', b='c')} AS d FROM e CROSS JOIN s0 c)",
    ]
    for r in range(1, KCENTER_K):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT {r} AS round, vec_id, v, d "
            f"FROM d{r} WHERE d > 0 ORDER BY d DESC, vec_id ASC LIMIT 1)"
        )
        if r < KCENTER_K - 1:
            parts.append(
                f"d{r + 1} AS MATERIALIZED (SELECT p.vec_id, p.v, "
                f"LEAST(p.d, {dist.format(a='p', b='c')}) AS d "
                f"FROM d{r} p CROSS JOIN s{r} c)"
            )
    union = " UNION ALL ".join(
        f"SELECT round, vec_id, d FROM s{r}" for r in range(KCENTER_K)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(round AS INTEGER) AS round, vec_id,
           CAST(d AS BIGINT) AS dist_micro
    FROM ({union}) ORDER BY round
    """
    )


@register("embedding_kcenter_coreset", _kcenter_oracle())
def embedding_kcenter_coreset(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy farthest-point k-center coreset (k=8) over the embedding
    table — the diversity-sampling primitive (Gonzalez 2-approx) a
    curation pass uses to pick a maximally-spread subset for eval
    panels, cluster init, or coverage-first data selection. Output is
    the selection sequence ``(round, vec_id, dist_micro)`` — the
    non-increasing k-center radius ladder, which doubles as the
    coverage diagnostic (a slowly-decaying ladder = the corpus still
    has unexplored modes).

    Exactness: per-center squared-L2 folds left-to-right in doubles
    and quantizes to integer micro-units BEFORE the running min, so
    min/argmax compare exact integers and the unrolled MATERIALIZED-CTE
    oracle (the supply_chain_pagerank pattern) replays every selection
    bit-for-bit, tie-break included. Scale: the center model is
    driver-side (k x 64 doubles), each round is one exchange-free
    map+argmax pass over the once-checkpointed corpus — k scans is the
    greedy floor; no join touches the vectors
    (operators/similarity.py kcenter_coreset)."""
    from .operators.similarity import kcenter_coreset

    return kcenter_coreset(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", KCENTER_K
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-Res,
# deterministic; round 6)
# ---------------------------------------------------------------------------

ARES_SALT = "ares-v1"
ARES_K = 100
#: 2^60 — the md5-derived 60-bit hash's range, as an exact double.
_ARES_RANGE = float(1 << 60)


def _ares_key_nano(id_col: str, weight: Column, salt: str) -> Column:
    """The guarded Efraimidis-Spirakis key as integer nano-units:
    ``round(ln(u) / w * 1e9)`` with u = (md5_60bit(salt|id)+1)/2^60 and
    w validated > 0 at execution time (scan-side ``raise_error``). ONE
    definition shared by :func:`weighted_sample_topk` and the
    per-stratum draw — the r7 clamp-removal fix must hold in every
    duplicate of this expression, not just one (review finding)."""
    w_raw = weight.cast("double")
    w = F.when(
        w_raw.isNull() | (w_raw <= 0.0),
        F.raise_error(
            F.concat(
                F.lit(
                    "weighted sampling: weight must be > 0 "
                    "(NULL/zero/negative at id="
                ),
                F.col(id_col).cast("string"),
                F.lit(")"),
            )
        ).cast("double"),
    ).otherwise(w_raw)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.lit(salt), F.col(id_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (h + 1).cast("double") / F.lit(_ARES_RANGE)
    return F.round(F.log(u) / w * 1e9, 0).cast("long")


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: Column | str,
    k: int,
    salt: str = ARES_SALT,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (the
    Efraimidis-Spirakis A-Res scheme): each row gets
    key = ln(u) / w for a hash-derived uniform u = (h+1)/2^60 (pure
    function of salt+id — no RNG state, reproducible under re-runs and
    data growth), and the sample is the top-k rows by key. Higher
    weight => stochastically higher key => proportionally higher
    inclusion probability (exactly w_i/Σw for k=1); this is how a
    curation pass draws a quality-weighted subset in ONE pass.

    Weights must be strictly positive: the E-S inclusion guarantee is
    undefined at w <= 0, so a NULL/zero/negative weight raises at
    execution time (scan-side ``raise_error`` — no validation pass).
    Fractional weights in (0, 1] — the typical quality-score input —
    are used AS IS (ADVICE r6: the former silent ``>= 1.0`` clamp
    degraded exactly those draws to uniform sampling).

    Keys quantize to integer nano-units before ranking (repo float
    policy: compare exact integers, tie-break on id), so any SQL engine
    replays the sample bit-for-bit.

    Scale shape: a map-only key projection + a distributed partial
    top-k (``orderBy().limit(k)`` = TakeOrdered: each partition keeps
    its local k, the driver merges P×k rows) — no shuffle of the
    corpus, k-sized result. The follow-up rank window runs on the
    k-row result, not the corpus."""
    from pyspark.sql.window import Window

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    key = _ares_key_nano(id_col, w, salt).alias("key_nano")
    topk = (
        df.select(F.col(id_col), key)
        .orderBy(F.col("key_nano").desc(), F.col(id_col).asc())
        .limit(k)
    )
    rank_w = Window.orderBy(
        F.col("key_nano").desc(), F.col(id_col).asc()
    )
    return topk.select(
        F.row_number().over(rank_w).cast("int").alias("rank"),
        id_col,
        "key_nano",
    )


def _weighted_sample_oracle() -> str:
    return f"""
    WITH keyed AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(ROUND(
                   ln((CAST(('0x' || substr(md5('{ARES_SALT}|'
                           || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       + 1) / {_ARES_RANGE!r})
                   / CAST(n_chars AS DOUBLE) * 1e9,
               0) AS BIGINT) AS key_nano
        FROM documents
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY key_nano DESC, doc_id)
                AS INTEGER) AS rank,
           doc_id, source, n_chars, key_nano
    FROM keyed
    ORDER BY key_nano DESC, doc_id
    LIMIT {ARES_K}
    """


@register("doc_weighted_sample", _weighted_sample_oracle())
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sample (k=100, weight = n_chars standing
    in for a quality score): the A-Res weighted-reservoir draw a mixing
    pass uses to select training data proportionally to per-document
    quality in one scan. Deterministic (hash-uniform keys, integer
    nano-unit quantization, id tie-break) so the SQL oracle replays the
    exact sample; statistically, inclusion probability is proportional
    to weight (property-tested over salt sweeps in
    tests/test_sketches.py).

    Scale: map-only keys + TakeOrdered partial top-k — the corpus never
    shuffles; complements doc_stratified_sample (per-group rates) with
    per-ROW continuous weights."""
    d = _t(spark, sf_dir, "documents")
    sampled = weighted_sample_topk(d, "doc_id", "n_chars", ARES_K)
    return sampled.join(
        d.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")),
        "doc_id",
    ).select("rank", "doc_id", "source", "n_chars", "key_nano").orderBy("rank")


ARES_PER_SOURCE_K = 10


def _weighted_sample_by_source_oracle() -> str:
    return f"""
    WITH keyed AS (
        SELECT doc_id, source,
               CAST(ROUND(
                   ln((CAST(('0x' || substr(md5('{ARES_SALT}|'
                           || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       + 1) / {_ARES_RANGE!r})
                   / CAST(n_chars AS DOUBLE) * 1e9,
               0) AS BIGINT) AS key_nano
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, key_nano,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY key_nano DESC, doc_id) AS INTEGER) AS rank
        FROM keyed
    )
    SELECT source, rank, doc_id, key_nano
    FROM ranked WHERE rank <= {ARES_PER_SOURCE_K}
    ORDER BY source, rank
    """


@register(
    "doc_weighted_sample_by_source", _weighted_sample_by_source_oracle()
)
def doc_weighted_sample_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-stratum weighted sampling: the A-Res draw of
    ``doc_weighted_sample`` applied PER SOURCE (k=10 each) — the actual
    mixing-pass primitive (draw a quality-weighted quota from every
    source independently, then union into the training mix). Same
    deterministic keys, ranked within source.

    Scale: one map-only key projection + one hash-partition-by-source
    window — a single shuffle of (source, id, key) slivers, never the
    text; per-group top-k needs no global sort. Certifies the window
    form of the same sample the TakeOrdered form certifies globally."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    key = _ares_key_nano(
        "doc_id", F.col("n_chars"), ARES_SALT
    ).alias("key_nano")
    w = Window.partitionBy("source").orderBy(
        F.col("key_nano").desc(), F.col("doc_id").asc()
    )
    return (
        d.select("source", "doc_id", key)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= ARES_PER_SOURCE_K)
        .select("source", "rank", "doc_id", "key_nano")
        .orderBy("source", "rank")
    )


# ---------------------------------------------------------------------------
# Temporal novelty scoring (round 6)
# ---------------------------------------------------------------------------

#: 3-gram shingles in DuckDB — must mirror TX.shingles_of(t, 3)
_SQL_SHINGLES3 = (
    "CASE WHEN len(t) >= 3 THEN "
    "list_distinct(list_transform(range(1, len(t)-1), "
    "i -> array_to_string(t[i:i+2], ' '))) "
    "ELSE [array_to_string(t, ' ')] END"
)


def _novelty_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    return f"""
    WITH t AS (SELECT doc_id, source, {toks} AS t FROM documents),
    ex AS (
        SELECT doc_id, source, unnest({_SQL_SHINGLES3}) AS g FROM t
    ),
    first AS (SELECT g, MIN(doc_id) AS first_id FROM ex GROUP BY g)
    SELECT ex.doc_id, ex.source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_id < ex.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen_before,
           CAST((COUNT(*) - SUM(CASE WHEN f.first_id < ex.doc_id
                                THEN 1 ELSE 0 END)) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM ex JOIN first f ON f.g = ex.g
    GROUP BY ex.doc_id, ex.source
    ORDER BY ex.doc_id
    """


def _doc_novelty_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared gram substrate of the novelty family: (doc_id, source,
    n_grams, n_seen_before) over distinct per-doc word 3-grams, with
    first-occurrence = MIN(doc_id) per gram — integers end to end.
    Consumed by the per-doc scores and the per-source rollup so the
    two can never drift on the substrate definition."""
    d = _t(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("__t")
    )
    ex = staged.select(
        "doc_id",
        "source",
        F.explode(TX.shingles_of(F.col("__t"), 3)).alias("g"),
    )
    first = ex.groupBy("g").agg(F.min("doc_id").alias("__first"))
    return (
        ex.join(first, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("__first") < F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_seen_before"),
        )
    )


#: Integer ppm novelty share from (n_grams, n_seen_before) — the ONE
#: expression both novelty queries and their oracles replicate.
_PPM_EXPR = "(n_grams - n_seen_before) * 1000000 DIV n_grams"


@register("doc_novelty_scores", _novelty_oracle())
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal novelty per document: the share of its distinct word
    3-grams that FIRST appeared in an earlier document (doc_id order
    standing in for crawl time). The memorization/novelty signal a
    curation pass uses to downweight recycled text and measure how
    much genuinely-new content each crawl day adds (the per-doc dual
    of the dedup family's corpus-level duplicate mass).

    Exactness: first-occurrence is MIN(doc_id) per gram — integers end
    to end; novelty is an integer ppm share.

    Scale shape: one explode of distinct per-doc shingles (zipped-
    slice n-grams — the documented O(n) construction), one groupBy on
    the gram for first-occurrence, one co-partitioned join back (AQE
    reuses the gram hash partitioning), one per-doc agg. Gram rows
    carry (doc_id, 8-byte hashable gram) — never the text; the same
    cost class as doc_ngram_decontaminate's corpus side."""
    return (
        _doc_novelty_frame(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            "n_grams",
            "n_seen_before",
            F.expr(_PPM_EXPR).cast("long").alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


def _source_novelty_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    ppm = "(n_grams - n_seen_before) * 1000000 // n_grams"
    return f"""
    WITH t AS (SELECT doc_id, source, {toks} AS t FROM documents),
    ex AS (
        SELECT doc_id, source, unnest({_SQL_SHINGLES3}) AS g FROM t
    ),
    first AS (SELECT g, MIN(doc_id) AS first_id FROM ex GROUP BY g),
    doc AS (
        SELECT ex.doc_id, ex.source,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_id < ex.doc_id THEN 1
                        ELSE 0 END) AS BIGINT) AS n_seen_before
        FROM ex JOIN first f ON f.g = ex.g
        GROUP BY ex.doc_id, ex.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(n_seen_before) AS BIGINT) AS n_seen_before,
           CAST((SUM(n_grams) - SUM(n_seen_before)) * 1000000
                // SUM(n_grams) AS BIGINT) AS pooled_novelty_ppm,
           CAST(SUM({ppm}) // COUNT(*) AS BIGINT)
               AS mean_doc_novelty_ppm,
           CAST(MIN({ppm}) AS BIGINT) AS min_doc_novelty_ppm,
           CAST(MAX({ppm}) AS BIGINT) AS max_doc_novelty_ppm
    FROM doc
    GROUP BY source
    ORDER BY source
    """


@register("source_novelty_rollup", _source_novelty_oracle())
def source_novelty_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source novelty distribution — the drift-dashboard view of
    the novelty substrate (VERDICT r7 missing #3): for each crawl
    source, how novel is its text, pooled AND per-doc. ``pooled``
    weighs every gram equally (a source of few huge recycled docs
    reads low); ``mean/min/max`` summarize the per-doc ppm
    distribution (the dashboard's drill-down bounds). Joins the
    quality/Zipf/seasonal per-source drift family; the streaming twin
    is ``NoveltyMonitorSink.novelty_by_source``.

    Exactness: all-integer arithmetic (counts, sums, DIV) over the
    shared ``_doc_novelty_frame`` substrate — nothing to round.

    Scale shape: the per-doc frame's cost class (gram explode + one
    gram-keyed join), then ONE extra groupBy on source carrying four
    integers per doc — the rollup is free relative to the substrate."""
    doc = _doc_novelty_frame(spark, sf_dir).withColumn(
        "__ppm", F.expr(_PPM_EXPR).cast("long")
    )
    return (
        doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_seen_before").cast("long").alias("n_seen_before"),
            F.sum("__ppm").cast("long").alias("__ppm_sum"),
            F.min("__ppm").cast("long").alias("min_doc_novelty_ppm"),
            F.max("__ppm").cast("long").alias("max_doc_novelty_ppm"),
        )
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_seen_before",
            F.expr(_PPM_EXPR).cast("long").alias("pooled_novelty_ppm"),
            F.expr("__ppm_sum DIV n_docs")
            .cast("long")
            .alias("mean_doc_novelty_ppm"),
            "min_doc_novelty_ppm",
            "max_doc_novelty_ppm",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Token-budget greedy selection + near-dup source cross-tab (round 7)
# ---------------------------------------------------------------------------

#: Selection budget as a fraction of total corpus tokens (DIV 4 = 25%)
#: — n-scaled like the bloom geometry, so the cut bites at every SF.
BUDGET_DIV = 4


#: Shared quality-density score: 1e6 * distinct-token count DIV token
#: count — the integer ppm form the whole budget-selection/calibration
#: family ranks on (ONE definition; review finding r8: the oracles and
#: the Spark frames must not carry drifting private copies).
_SCORE_SQL = (
    "CAST(CASE WHEN len({t}) = 0 THEN 0 "
    "ELSE (1000000 * len(list_distinct({t}))) // len({t}) END AS BIGINT)"
)


def _quality_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, score_micro) — ONE tokenization
    projection feeding the shared quality-density score; the Spark
    twin of ``_SCORE_SQL``, consumed by the budget-selection pair and
    the per-source calibration so the score definition cannot drift
    between them (the ``_doc_novelty_frame`` discipline). Callers
    decide checkpointing."""
    d = _t(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("__t")
    )
    return staged.select(
        "doc_id",
        "source",
        F.size("__t").cast("long").alias("n_tokens"),
        F.when(F.size("__t") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "1000000 * CAST(size(array_distinct(__t)) AS BIGINT) "
                "DIV size(__t)"
            )
        )
        .alias("score_micro"),
    )


def _token_budget_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    score = _SCORE_SQL.format(t=toks)
    return f"""
    WITH m AS (
        SELECT doc_id, source,
               CAST(len({toks}) AS BIGINT) AS n_tokens,
               {score} AS score_micro
        FROM documents
    ),
    c AS (
        SELECT *,
               SUM(n_tokens) OVER (
                   ORDER BY score_micro DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM m
    ),
    sel AS (
        SELECT * FROM c
        WHERE cum_tokens <= (SELECT SUM(n_tokens) FROM m)
                            // {BUDGET_DIV}
    )
    SELECT m.source,
           CAST(COUNT(s.doc_id) AS BIGINT) AS n_selected,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(s.n_tokens), 0) AS BIGINT)
               AS selected_tokens,
           CAST(SUM(m.n_tokens) AS BIGINT) AS total_tokens,
           ROUND(100.0 * COALESCE(SUM(s.n_tokens), 0)
                 / SUM(m.n_tokens), 2) AS sel_pct
    FROM m LEFT JOIN sel s USING (doc_id)
    GROUP BY m.source ORDER BY m.source
    """


@register("curation_token_budget_selection", _token_budget_oracle())
def curation_token_budget_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy data selection under a TOKEN BUDGET — the pass that
    assembles a fixed-size training mix from a larger pool: rank every
    document by quality density (distinct-token ratio in integer
    ppm — the dup_token_ratio gate's signal as a continuous score),
    take the best documents until the cumulative token count reaches
    the budget (25% of the corpus), and report the per-source
    selection profile (which sources the budget actually buys).

    Exactness: the score is integer (1e6 * distinct DIV total — no
    float rounding at the boundary), the ranking a total order
    (score DESC, doc_id), and the running token sum exact bigint
    addition, so the budget cut lands on the same document in any
    engine.

    Scale: the ranking + prefix-sum run through
    :func:`operators.relational.global_rank_cumsum` — range-partition
    sort, per-partition offsets folded driver-side — NOT a
    single-partition window; the budget scalar is one sliver agg
    (same contract as the bloom geometry count); the summary joins
    the k-selected sliver back to per-source totals."""
    from .operators.relational import global_rank_cumsum

    m = _quality_frame(spark, sf_dir).localCheckpoint(
        eager=True
    )  # feeds budget agg + rank + totals
    budget = (
        m.agg(F.sum("n_tokens").cast("long")).collect()[0][0]
        // BUDGET_DIV
    )
    ranked = global_rank_cumsum(
        m,
        [F.col("score_micro").desc(), F.col("doc_id").asc()],
        "n_tokens",
        cum_out="cum_tokens",
    )
    sel = (
        ranked.filter(F.col("cum_tokens") <= budget)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("n_tokens").cast("long").alias("selected_tokens"),
        )
    )
    tot = m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return (
        tot.join(sel, "source", "left")
        .select(
            "source",
            F.coalesce("n_selected", F.lit(0)).cast("long").alias(
                "n_selected"
            ),
            "n_docs",
            F.coalesce("selected_tokens", F.lit(0))
            .cast("long")
            .alias("selected_tokens"),
            "total_tokens",
            F.round(
                100.0
                * F.coalesce("selected_tokens", F.lit(0))
                / F.col("total_tokens"),
                2,
            ).alias("sel_pct"),
        )
        .orderBy("source")
    )


def _pair_source_matrix_oracle(expr_a: str, expr_b: str, col_a: str, col_b: str) -> str:
    """ONE template for both pair-graph source matrices (symmetric
    crosstab and directed copy attribution) — the two differ ONLY in
    how a pair's two sources map to the output columns, so the join
    scaffold and the micro-unit accounting cannot drift between them
    (review finding r8 #2)."""
    from .queries_llm import _minhash_oracle

    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    s AS (
        SELECT {expr_a} AS {col_a},
               {expr_b} AS {col_b},
               CAST(ROUND(p.jaccard * 1000000, 0) AS BIGINT)
                   AS j_micro
        FROM pairs p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
    )
    SELECT {col_a}, {col_b},
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(j_micro) AS BIGINT) AS sum_jaccard_micro
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """


def _pair_source_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of the template's ``s`` CTE: every verified pair
    with BOTH endpoint sources (``__sa`` = earlier doc's source, ``__sb``
    = later doc's source — pairs are id_a < id_b) and the exact
    micro-jaccard. Both matrix queries select/group over this one
    frame."""
    from .queries_llm import minhash_pair_graph

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = minhash_pair_graph(spark, sf_dir)
    sa = d.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")
    )
    sb = d.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "__sa",
            "__sb",
            F.round(F.col("jaccard") * 1000000, 0)
            .cast("long")
            .alias("j_micro"),
        )
    )


def _pair_crosstab_oracle() -> str:
    return _pair_source_matrix_oracle(
        """LEAST(da.source, db.source)""",
        """GREATEST(da.source, db.source)""",
        "source_a",
        "source_b",
    )


@register("dedup_pair_source_crosstab", _pair_crosstab_oracle())
def dedup_pair_source_crosstab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHICH SOURCES duplicate each other: the verified near-dup pair
    graph cross-tabbed by (source_a, source_b) — the mirror/re-host
    detector a corpus-mixing pass reads before weighting sources (two
    sources sharing heavy near-dup mass should not both get full
    weight; within-source mass signals boilerplate instead). Pair
    order normalizes LEAST/GREATEST so a pair counts once per
    unordered source pair; jaccard sums in exact integer micro-units
    (per-pair values are already 6-dp-rounded, so the quantization is
    exact and the sum associative — no float-order drift).

    Scale: the eleventh consumer of the PERSISTED pair-graph artifact
    (:func:`queries_llm.minhash_pair_graph`) — no corpus rescan, no
    shingle work; two narrow (doc_id, source) joins onto the
    pair-count-sized sliver (the shared ``_pair_source_frame``), then
    a sources²-bounded aggregation."""
    return (
        _pair_source_frame(spark, sf_dir)
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            "j_micro",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("j_micro").cast("long").alias("sum_jaccard_micro"),
        )
        .orderBy("source_a", "source_b")
    )


OUTLIER_TOP_K = 3


def _label_outlier_oracle() -> str:
    return f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    x AS (
        SELECT label, unnest(v) AS val,
               generate_subscripts(v, 1) AS dim
        FROM e
    ),
    c AS (
        SELECT label, dim, ROUND(AVG(val), 9) AS m
        FROM x GROUP BY label, dim
    ),
    cent AS (
        SELECT label, list(m ORDER BY dim) AS cv FROM c GROUP BY label
    ),
    d AS (
        SELECT e.vec_id, e.label,
               CAST(ROUND(list_sum(list_transform(
                   range(1, len(e.v) + 1),
                   i -> (e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])))
                   * 1000000, 0) AS BIGINT) AS d2_micro
        FROM e JOIN cent USING (label)
    ),
    r AS (
        SELECT label, vec_id, d2_micro,
               CAST(ROW_NUMBER() OVER (PARTITION BY label
                    ORDER BY d2_micro DESC, vec_id) AS INTEGER) AS rank
        FROM d
    )
    SELECT label, rank, vec_id, d2_micro
    FROM r WHERE rank <= {OUTLIER_TOP_K}
    ORDER BY label, rank
    """


@register("embedding_label_outliers", _label_outlier_oracle())
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled/noisy-sample detector: per label, the {OUTLIER_TOP_K}
    vectors FARTHEST (squared L2) from their label's centroid — the
    audit list a training-data QA pass inspects first (a vector far
    from everything that shares its label is the canonical annotation-
    noise signature; the geometric dual of
    ``dedup_embedding_label_audit``'s identical-vectors-different-
    labels signal).

    Exactness discipline: centroid dims round to 9 dp BEFORE any
    consumer (the ``embedding_centroid_by_label`` precedent — both
    engines then hold bit-identical doubles), distances fold
    left-to-right in doubles and quantize to integer micro-units
    before ranking, ranks tie-break on vec_id — the oracle replays
    the selection bit-for-bit.

    Scale: the centroid model is labels x dims — broadcast, but only
    under the measured-count guard (``broadcast_if_small``): an
    enumerable label domain fits by construction, while a free-text
    label column (the r5 split-map failure class) falls back to a
    plain join and lets AQE decide from runtime stats. The distance is
    one map-side zip_with fold per vector; per-label top-k is a window
    over (label) hash partitions, carrying only (label, id, d2)
    slivers."""
    from .operators.relational import top_k_per_group
    from .plans.layout import broadcast_if_small

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    c = (
        e.select("label", F.posexplode("v").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 9).alias("m"))
    )
    cent = c.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, m))), "
            "s -> s.m)"
        ).alias("cv")
    )
    d2 = (
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.col("cv"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("d2_micro")
    )
    scored = e.join(broadcast_if_small(cent), "label").select(
        "label", "vec_id", d2
    )
    return top_k_per_group(
        scored,
        partition_cols=["label"],
        order_by=[F.col("d2_micro").desc(), F.col("vec_id").asc()],
        k=OUTLIER_TOP_K,
    ).orderBy("label", "rank")


# ---------------------------------------------------------------------------
# Per-source quality calibration + source-capped budget selection (round 8)
# ---------------------------------------------------------------------------

def _calibrated_quality_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    score = _SCORE_SQL.format(t=toks)
    return f"""
    WITH m AS (
        SELECT doc_id, source, {score} AS score_micro FROM documents
    ),
    r AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY score_micro DESC, doc_id
               ) AS src_rank,
               COUNT(*) OVER (PARTITION BY source) AS n_src
        FROM m
    )
    SELECT doc_id, source, score_micro,
           CAST(src_rank AS BIGINT) AS src_rank,
           CAST(CASE WHEN n_src <= 1 THEN 0
                ELSE ((src_rank - 1) * 1000000) // (n_src - 1)
                END AS BIGINT) AS calib_ppm
    FROM r
    ORDER BY doc_id
    """


@register("quality_source_calibrated", _calibrated_quality_oracle())
def quality_source_calibrated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source RANK-calibrated quality — the cross-source fairness
    step a mixing pipeline runs before any global quality cut: raw
    quality scores are not comparable across sources (a verbose source
    scores systematically lower on token-diversity than a terse one),
    so each document gets its percentile WITHIN its source
    (``calib_ppm``: 0 = the source's best, 1e6 = its worst). A global
    threshold on the calibrated score then takes the same top share of
    EVERY source, where the same threshold on the raw score would let
    one source's register dominate the mix. Complements
    ``doc_quality_deciles`` (global ntile machinery) with the
    partitioned normalization.

    Exactness: score is integer ppm; ranks are a total order (score
    DESC, doc_id); calibration is ((rank-1)*1e6) DIV (n-1) — integers
    end to end, single-doc sources pinned to 0.

    Scale shape: ONE tokenization projection, then a window
    partitioned by source (hash-partitioned — never the
    single-partition global sort; within-source ordering is the
    per-partition sort of the window exchange)."""
    from pyspark.sql.window import Window

    m = _quality_frame(spark, sf_dir).drop("n_tokens")
    w = Window.partitionBy("source").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("source")
    return (
        m.withColumn("src_rank", F.row_number().over(w).cast("long"))
        .withColumn("__n_src", F.count(F.lit(1)).over(wn))
        .select(
            "doc_id",
            "source",
            "score_micro",
            "src_rank",
            F.when(F.col("__n_src") <= 1, F.lit(0).cast("long"))
            .otherwise(
                F.expr("((src_rank - 1) * 1000000) DIV (__n_src - 1)")
            )
            .cast("long")
            .alias("calib_ppm"),
        )
        .orderBy("doc_id")
    )


#: Per-source ceiling as a fraction of the GLOBAL budget (DIV 8 =
#: 12.5%): with ~20 roughly-equal sources each holding ~5% of corpus
#: tokens and a 25% global budget, a 12.5%-of-budget ceiling (~3.1% of
#: corpus tokens) binds for quality-dense sources while the global cut
#: still bites — both constraints are active at every test SF.
SRC_CAP_DIV = 8


def _capped_budget_oracle() -> str:
    toks = SQL_TOKS.format(col="text")
    score = _SCORE_SQL.format(t=toks)
    return f"""
    WITH m AS (
        SELECT doc_id, source,
               CAST(len({toks}) AS BIGINT) AS n_tokens,
               {score} AS score_micro
        FROM documents
    ),
    b AS (
        SELECT SUM(n_tokens) // {BUDGET_DIV} AS budget,
               SUM(n_tokens) // {BUDGET_DIV} // {SRC_CAP_DIV}
                   AS src_cap
        FROM m
    ),
    pool AS (
        SELECT m.* FROM (
            SELECT *,
                   SUM(n_tokens) OVER (
                       PARTITION BY source
                       ORDER BY score_micro DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW
                   ) AS cum_src
            FROM m
        ) m, b
        WHERE m.cum_src <= b.src_cap
    ),
    sel AS (
        SELECT p.* FROM (
            SELECT *,
                   SUM(n_tokens) OVER (
                       ORDER BY score_micro DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW
                   ) AS cum_tokens
            FROM pool
        ) p, b
        WHERE p.cum_tokens <= b.budget
    )
    SELECT m.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(m.n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(p.doc_id) AS BIGINT) AS n_pool,
           CAST(COUNT(s.doc_id) AS BIGINT) AS n_selected,
           CAST(COALESCE(SUM(s.n_tokens), 0) AS BIGINT)
               AS selected_tokens
    FROM m
    LEFT JOIN pool p USING (doc_id)
    LEFT JOIN sel s USING (doc_id)
    GROUP BY m.source
    ORDER BY m.source
    """


@register("curation_capped_budget_selection", _capped_budget_oracle())
def curation_capped_budget_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget selection with a PER-SOURCE CEILING — the
    domain-mixing form of ``curation_token_budget_selection``: no
    single source may fill more than 1/{SRC_CAP_DIV} of the global
    budget, so a quality-dense source cannot crowd the mix (the cap
    every production mixing recipe applies before the global cut).
    Two-stage greedy, both stages deterministic: (1) within each
    source, keep the best documents until the source's running token
    sum reaches the cap — a window PARTITIONED by source; (2) across
    the capped pool, keep the best documents until the global budget
    — the same distributed rank/prefix-sum machinery as the uncapped
    query. Output is the per-source profile: pool size (cap survivors)
    vs final selection, so the report shows WHICH constraint bound
    each source.

    Exactness: integer ppm scores, total-order ranking (score DESC,
    doc_id), exact bigint prefix sums at both stages — the cap and
    budget cuts land on the same documents in any engine.

    Scale shape: stage 1 is a hash-partitioned window (source
    partitions); stage 2 runs through
    :func:`operators.relational.global_rank_cumsum` (range-partition
    sort + driver-folded offsets — never a single-partition window);
    the two scalars ride one sliver agg."""
    from pyspark.sql.window import Window

    from .operators.relational import global_rank_cumsum

    m = _quality_frame(spark, sf_dir).localCheckpoint(
        eager=True
    )  # feeds scalars + both stages + totals
    total_tokens = m.agg(F.sum("n_tokens").cast("long")).collect()[0][0]
    budget = total_tokens // BUDGET_DIV
    src_cap = budget // SRC_CAP_DIV
    w_src = Window.partitionBy("source").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    pool = (
        m.withColumn("cum_src", F.sum("n_tokens").over(w_src))
        .filter(F.col("cum_src") <= src_cap)
        .drop("cum_src")
        .localCheckpoint(eager=True)  # feeds stage 2 + pool profile
    )
    sel = (
        global_rank_cumsum(
            pool,
            [F.col("score_micro").desc(), F.col("doc_id").asc()],
            "n_tokens",
            cum_out="cum_tokens",
        )
        .filter(F.col("cum_tokens") <= budget)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("n_tokens").cast("long").alias("selected_tokens"),
        )
    )
    pool_prof = pool.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pool")
    )
    tot = m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return (
        tot.join(pool_prof, "source", "left")
        .join(sel, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.coalesce("n_pool", F.lit(0)).cast("long").alias("n_pool"),
            F.coalesce("n_selected", F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.coalesce("selected_tokens", F.lit(0))
            .cast("long")
            .alias("selected_tokens"),
        )
        .orderBy("source")
    )


def _copy_direction_oracle() -> str:
    return _pair_source_matrix_oracle(
        "da.source", "db.source", "source_orig", "source_dup"
    )


@register("dedup_copy_direction_matrix", _copy_direction_oracle())
def dedup_copy_direction_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHO COPIES WHOM: the near-dup pair graph as a DIRECTED
    provenance matrix. The graph's pairs are normalized id_a < id_b
    and doc_id order stands in for crawl time (the
    ``doc_novelty_scores`` convention), so id_a's source published
    first — each pair attributes as (source_orig → source_dup). The
    directional dual of ``dedup_pair_source_crosstab``: the crosstab
    says two sources SHARE near-dup mass, this says which way it
    flows (a scraper/mirror shows up as a heavy off-diagonal row
    pointing AT it; the diagonal is within-source recycling over
    time). Same exact-integer accounting (6-dp jaccard → micro
    units).

    Scale: the twelfth consumer of the persisted pair-graph artifact
    (:func:`queries_llm.minhash_pair_graph`) — no corpus rescan; the
    shared ``_pair_source_frame`` sliver, then a sources²-bounded
    aggregation."""
    return (
        _pair_source_frame(spark, sf_dir)
        .select(
            F.col("__sa").alias("source_orig"),
            F.col("__sb").alias("source_dup"),
            "j_micro",
        )
        .groupBy("source_orig", "source_dup")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("j_micro").cast("long").alias("sum_jaccard_micro"),
        )
        .orderBy("source_orig", "source_dup")
    )
