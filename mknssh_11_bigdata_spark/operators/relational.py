"""Relational operator library — SURVEY.md §2.2-2.5 inventory.

Everything here composes built-in Column expressions (JVM-side,
whole-stage-codegen'd); there are deliberately zero Python UDFs. Each
function is a pure ``DataFrame -> DataFrame`` transform so callers build
one fused Catalyst plan.

Reference citations point into /root/reference/ and mark which inventory
row (SURVEY.md §2) a function re-expresses; ⚠ rows are places where the
reference's implementation was an anti-pattern and this module implements
the *intent* with a scale-safe primitive (SURVEY.md §4.4).

It also holds the scoring that a batch query and its streaming twin
share (``hourly_anomaly_from_counts``, ``zipf_drift_from_source_counts``)
and the hash-bucket ``deterministic_split``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import nz

__all__ = [
    "conditional_counts",
    "top_n",
    "top_k_per_group",
    "one_hot",
    "bucketize",
    "membership_flag",
    "null_profile",
    "cumulative_sum",
    "histogram",
    "global_rank_cumsum",
    "global_running_max",
    "deterministic_split",
    "sql_literal",
    "sql_ident",
    "hourly_anomaly_from_counts",
    "zipf_drift_from_source_counts",
]


def sql_literal(value: str | int | float | bool) -> str:
    """SQL text that parses back to exactly ``F.lit(value)``: same value,
    same type.

    Wide projections are built as SQL text because every ``Column``
    method is a Py4J round trip (one ``F.col`` costs ~13, one
    ``coalesce(cast(array_contains(..)))`` flag ~50), while a
    ``selectExpr`` costs one per expression string. Strings escape
    ``\\`` and ``'``, and spell ``$`` as ``\\u0024`` so the parser's
    ``${var}`` substitution (on by default) never sees a reference.
    Doubles use ``repr``, which round-trips every double, with the
    ``D`` suffix (a bare ``1.5`` is a DECIMAL); ``inf``/``nan`` have no
    numeric literal and go through a string cast.
    """
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value!r}' AS DOUBLE)"
    if isinstance(value, str):
        escaped = (
            value.replace("\\", "\\\\")
            .replace("'", "\\'")
            .replace("$", "\\u0024")
        )
        return f"'{escaped}'"
    raise TypeError(f"no exact SQL literal for {type(value).__name__}")


def sql_ident(name: str) -> str:
    """SQL text naming exactly the column ``name`` (dots, spaces and
    backticks included). A name containing ``${`` would be rewritten by
    variable substitution inside backticks, so it goes through the
    ``IDENTIFIER`` clause, whose string argument escapes ``$``."""
    quoted = "`" + name.replace("`", "``") + "`"
    if "${" in name:
        return f"IDENTIFIER({sql_literal(quoted)})"
    return quoted


def conditional_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    conditions: dict[str, Column],
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    """Group and count rows matching each named condition (pivot-free).

    Re-expresses the reference's principals profile (inventory A2,
    ``scripts/data_processing.py:147-154``): one hash aggregation with
    map-side partial combine; each condition becomes
    ``sum(when(cond, 1) else 0)``. Adding conditions adds expressions,
    not shuffles — O(1) passes regardless of how many flags you need.
    """
    aggs = [
        F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).alias(name)
        for name, cond in conditions.items()
    ]
    return df.groupBy(*group_cols).agg(*aggs, *extra_aggs)


def top_n(
    df: DataFrame,
    order_by: Sequence[Column],
    n: int,
    tie_breakers: Sequence[Column] = (),
) -> DataFrame:
    """Deterministic global top-N.

    The reference's entity ranking (inventory T1,
    ``scripts/data_processing.py:284-286``) used ``orderBy().limit(N)``
    with no total order — ties at rank N varied run to run (SURVEY §4.4.5).
    Appending ``tie_breakers`` (typically the primary key) makes the
    ordering total. Physically this stays a ``TakeOrderedAndProject`` —
    each partition keeps a size-N heap and only N rows per partition reach
    the driver-side merge, no global sort. Scale: O(partitions × N), safe
    at any row count for the N≈1000 the pipeline uses.
    """
    return df.orderBy(*order_by, *tie_breakers).limit(n)


def top_k_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group via a ranking window.

    The window the reference was missing (SURVEY §2.7): its global
    orderBy+limit cannot answer "best k per group". ``row_number`` over
    ``partitionBy`` shuffles once on the group key; with AQE skew-join
    handling a hot group splits across tasks at the sort stage.
    ``order_by`` must be a total order (append a key column) or ranks are
    nondeterministic.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def one_hot(
    df: DataFrame,
    column: str,
    vocabulary: Sequence[str] | None = None,
    prefix: str | None = None,
    is_array: bool = False,
) -> tuple[DataFrame, list[str]]:
    """One-hot 0/1 int flag columns for each vocabulary value.

    Re-expresses the reference's dynamic genre one-hot (inventory F3/F5,
    ``scripts/data_processing.py:122-137``) with two fixes (SURVEY §4.3):

    * **Deterministic column order** — the reference's column set came
      from an unordered ``collect()``; we sort the vocabulary.
    * **Cheap vocabulary pass** — when ``vocabulary`` is None we run one
      ``agg(collect_set)`` on the (pruned, possibly exploded) column
      instead of the reference's ``distinct().rdd.flatMap().collect()``
      RDD hop (inventory S7 ⚠).

    The data-dependent-schema pattern is inherently two-phase (an action
    must run to learn the vocabulary); at 100 TB pass an explicit
    ``vocabulary`` to skip the extra job.
    """
    src = sql_ident(column)
    if vocabulary is None:
        if is_array:
            row = df.where(f"{src} IS NOT NULL").selectExpr(
                f"array_distinct(flatten(collect_set({src})))"
            ).first()
        else:
            row = df.selectExpr(f"collect_set({src})").first()
        vocabulary = sorted(v for v in (row[0] or []) if v is not None)
    prefix = prefix if prefix is not None else f"{column}_"
    names = [f"{prefix}{value}" for value in vocabulary]
    test = "array_contains({}, {})" if is_array else "({} = {})"
    flags = [
        f"coalesce(CAST({test.format(src, sql_literal(value))} AS INT), 0)"
        f" AS {sql_ident(name)}"
        for value, name in zip(vocabulary, names)
    ]
    # ONE projection, not a withColumn-per-value loop: each withColumn is
    # a full analyzer pass over a growing projection — O(vocab²)
    # analysis cost that stalls the driver on wide vocabularies (1k-value
    # test in tests/test_relational.py). SQL text, not Column objects:
    # one Py4J round trip per flag instead of ~50.
    return df.selectExpr("*", *flags), names


def bucketize(
    df: DataFrame,
    column: str,
    edges: Sequence[float],
    out: str,
    null_bucket: int | None = None,
) -> DataFrame:
    """Assign ``out`` = i for value in [edges[i-1], edges[i]) — a chained
    ``when`` ladder, i.e. the reference's runtimeMinutes bucket (inventory
    F6, ``scripts/data_processing.py:158-164``) generalized.

    Bucket 0 is ``value < edges[0]``; bucket ``len(edges)`` is
    ``value >= edges[-1]``. NULLs get ``null_bucket`` (default: stay NULL
    — the reference silently sent NULLs to the last bucket, SURVEY §4.4.3).
    """
    src = sql_ident(column)
    null = (
        "CAST(NULL AS INT)" if null_bucket is None else sql_literal(null_bucket)
    )
    ladder = " ".join(
        f"WHEN {src} < {sql_literal(edge)} THEN {i}"
        for i, edge in enumerate(edges)
    )
    return df.withColumn(
        out,
        F.expr(
            f"CAST(CASE WHEN {src} IS NULL THEN {null} {ladder}"
            f" ELSE {len(edges)} END AS INT)"
        ),
    )


def membership_flag(
    df: DataFrame,
    key_col: str,
    ids: DataFrame,
    out: str,
    is_array: bool = False,
) -> DataFrame:
    """Flag rows whose key (or any element of an array key) is in ``ids``.

    Re-expresses the reference's regex membership test (inventory J7 ⚠,
    ``scripts/data_processing.py:290-298``): a 1000-term unanchored
    ``rlike`` alternation that (a) cost O(rows × terms) and (b) matched id
    *prefixes* (``nm123`` flagged ``nm1234``, SURVEY §4.4.1). Here:
    broadcast left-semi join → exact membership, one codegen'd hash probe
    per row, no shuffle of the big side while ``ids`` stays broadcastable
    (N≈1000 ids ≪ the 10 MB default threshold).

    ``ids`` must have exactly one column.
    """
    id_name = ids.columns[0]
    if is_array:
        # Array case: explode the distinct key arrays once, semi-join the
        # elements against ids, and join the matched arrays back.
        matched = (
            df.select(key_col)
            .distinct()
            .withColumn("__mf_elem", F.explode(F.col(key_col)))
            .join(
                F.broadcast(ids.withColumnRenamed(id_name, "__mf_elem")),
                "__mf_elem",
                "left_semi",
            )
            .select(key_col)
            .distinct()
            .withColumn(out, F.lit(1))
        )
        return df.join(matched, key_col, "left").na.fill({out: 0})
    flagged = (
        ids.withColumnRenamed(id_name, key_col)
        .distinct()
        .withColumn(out, F.lit(1))
    )
    return df.join(F.broadcast(flagged), key_col, "left").na.fill({out: 0})


def null_profile(df: DataFrame) -> DataFrame:
    """Per-column null/NaN counts in ONE pass.

    The reference's EDA (inventory M8 ⚠, ``scripts/data_analysis.py:28-41``)
    ran ``df.count()`` repeatedly uncached; this is a single aggregation —
    one scan regardless of column count. Output: one row,
    ``<col>_nulls`` per column plus ``row_count``.
    """
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for name, dtype in df.dtypes:
        cond = F.col(name).isNull()
        if dtype in ("double", "float"):
            cond = cond | F.isnan(F.col(name))
        aggs.append(F.sum(cond.cast("long")).alias(f"{name}_nulls"))
    return df.agg(*aggs)


def cumulative_sum(
    df: DataFrame,
    order_by: Sequence[str],
    value_col: str,
    out: str,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Running total — the Spark-side version of the pandas ``cumsum`` the
    reference dropped to the driver for (inventory A11,
    ``analysis.ipynb#cell30``). Unpartitioned cumulative sums serialize
    into a single task; at scale always pass ``partition_by``."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out, F.sum(value_col).over(w))


def histogram(df: DataFrame, column: str, count_col: str = "cnt") -> DataFrame:
    """Value histogram via groupBy-count (inventory A9,
    ``analysis.ipynb#cell30`` — rating histogram). Map-side partial
    aggregation makes this one small shuffle of (distinct values) rows."""
    return df.groupBy(column).agg(F.count(F.lit(1)).alias(count_col))


def global_ntile(
    df: DataFrame,
    n_tiles: int,
    order_by: Sequence[Column],
    out: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed NTILE over a TOTAL order — the scale-safe form of
    ``ntile(n).over(Window.orderBy(...))``, which forces every row
    through ONE task (Spark warns "No Partition Defined for Window").

    Plan: range-repartition on the sort key (a distributed sort), pin
    the partitioning with one materialization, count rows per
    partition (tiny second job), turn the counts into per-partition
    rank offsets (driver-side array of #partitions ints), then
    global rank = offset[pid] + per-partition row_number — the window
    now partitions by ``spark_partition_id`` and runs fully parallel.
    Tile assignment reproduces SQL NTILE exactly (bucket sizes differ
    by at most one, larger buckets FIRST):

        base = n // k; rem = n % k            # k = n_tiles
        rank <= rem*(base+1):  tile = (rank-1) // (base+1) + 1
        else:                  tile = rem + (rank-rem*(base+1)-1)//base + 1

    ``order_by`` must be a total order (add a unique tiebreaker) or
    tile assignment is nondeterministic — same contract as NTILE.

    The materialization is of the frame being ranked, which in decile/
    quantile use is already aggregated (per-customer, per-doc — far
    smaller than the facts). The driver-side offsets are one int per
    partition, not data."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = (
        df.repartitionByRange(parts, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin pids across the two jobs
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in ordered.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total = sum(counts.values())
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.element_at(
        F.array(
            *[F.lit(offsets.get(p, 0)) for p in range(max(counts, default=0) + 1)]
        ),
        F.col("__pid") + 1,
    )
    local_w = Window.partitionBy("__pid").orderBy(*order_by)
    base, rem = divmod(total, n_tiles)
    rank = off_expr + F.row_number().over(local_w)
    if base == 0:
        tile = rank  # n < k: every bucket has one row
    else:
        big = base + 1
        cut = rem * big
        tile = F.when(
            rank <= F.lit(cut), ((rank - 1) / big).cast("int") + 1
        ).otherwise(
            F.lit(rem) + ((rank - F.lit(cut) - 1) / base).cast("int") + 1
        )
    return ordered.withColumn(out, tile.cast("int")).drop("__pid")


def global_rank_cumsum(
    df: DataFrame,
    order_by: Sequence[Column],
    value_col: str,
    rank_out: str = "rank",
    cum_out: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global ROW_NUMBER + inclusive prefix-sum over a
    TOTAL order — the scale-safe form of
    ``row_number()/sum().over(Window.orderBy(...))``, which forces the
    whole frame through ONE task.

    Same two-phase shape as :func:`global_ntile`: range-repartition on
    the sort key (a distributed sort), pin partition ids with one
    materialization, then one tiny per-partition aggregation job
    collects (row count, value sum) per partition — one pair of numbers
    per partition, not data — from which driver-side running offsets
    are folded into each partition's local ``row_number``/running
    ``sum``. The result equals the single-partition window exactly but
    every partition ranks in parallel.

    ``order_by`` must be a total order (add a unique tiebreaker), and
    ``value_col`` must be an integral column if exact cross-engine
    parity of the prefix sums is required (bigint addition is
    associative; double addition is not). NULLs in ``value_col`` follow
    ``SUM() OVER`` exactly: skipped by the running sum, and the output
    is NULL only while the global prefix has seen no non-null value
    (the naive ``v_off + local_sum`` fold instead returned NULL for any
    row whose within-partition prefix was all-NULL — ADVICE r3)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = (
        df.repartitionByRange(parts, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin pids across the two jobs
    )
    stats = {
        r["__pid"]: (r["cnt"], r["vsum"] or 0, r["nn"])
        for r in ordered.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_col).alias("vsum"),
            F.count(value_col).alias("nn"),  # non-null count
        )
        .collect()
    }
    n_off, v_off, nn_off = {}, {}, {}
    nacc, vacc, nnacc = 0, 0, 0
    for pid in sorted(stats):
        n_off[pid], v_off[pid], nn_off[pid] = nacc, vacc, nnacc
        nacc += stats[pid][0]
        vacc += stats[pid][1]
        nnacc += stats[pid][2]
    top = max(stats, default=0) + 1
    n_expr = F.element_at(
        F.array(*[F.lit(n_off.get(p, 0)) for p in range(top)]),
        F.col("__pid") + 1,
    )
    v_expr = F.element_at(
        F.array(*[F.lit(v_off.get(p, 0)) for p in range(top)]),
        F.col("__pid") + 1,
    )
    nn_expr = F.element_at(
        F.array(*[F.lit(nn_off.get(p, 0)) for p in range(top)]),
        F.col("__pid") + 1,
    )
    local_w = Window.partitionBy("__pid").orderBy(*order_by)
    local_sum = F.sum(value_col).over(local_w)
    # SUM() OVER semantics: NULL only while NO non-null value has
    # appeared in the whole global prefix; otherwise nulls are skipped
    # and the offset of earlier partitions still carries through.
    cum_expr = F.when(
        local_sum.isNull() & (nn_expr == 0), F.lit(None)
    ).otherwise(v_expr + F.coalesce(local_sum, F.lit(0)))
    return (
        ordered.withColumn(
            rank_out, (n_expr + F.row_number().over(local_w)).cast("long")
        )
        .withColumn(cum_out, cum_expr)
        .drop("__pid")
    )


def global_running_max(
    df: DataFrame,
    order_by: Sequence[Column],
    value_col: str,
    out: str = "running_max",
    strict: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed running MAX over a TOTAL order — the scale-safe form
    of ``max().over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    -1))``, which forces the whole frame through ONE task.

    Same two-phase shape as :func:`global_rank_cumsum` with a max fold
    (max is associative, so the offset for partition p is simply the
    max of all earlier partitions' maxima): range-repartition on the
    sort key, pin partition ids with one materialization, collect ONE
    max per partition, fold driver-side running offsets, and combine
    each row's local strictly-preceding window max with its partition's
    offset via null-skipping ``greatest``.

    ``strict=True`` (the default) excludes the current row — the frame
    a streaming engine's watermark sees: "the high-water mark among
    events that ARRIVED before this one". The first row's result is
    NULL (no preceding rows). ``order_by`` must be a total order (add a
    unique tiebreaker): with duplicate sort keys the strictly-preceding
    frame is ordering-dependent and results are nondeterministic.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = (
        df.repartitionByRange(parts, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin pids across the two jobs
    )
    dtype = ordered.schema[value_col].dataType
    stats = {
        r["__pid"]: r["vmax"]
        for r in ordered.groupBy("__pid")
        .agg(F.max(value_col).alias("vmax"))
        .collect()
    }
    offs: dict[int, object] = {}
    acc = None
    for pid in sorted(stats):
        offs[pid] = acc
        if stats[pid] is not None:
            acc = stats[pid] if acc is None else max(acc, stats[pid])
    top = max(stats, default=0) + 1
    off_expr = F.element_at(
        F.array(*[F.lit(offs.get(p)).cast(dtype) for p in range(top)]),
        F.col("__pid") + 1,
    )
    local_w = Window.partitionBy("__pid").orderBy(*order_by)
    frame = local_w.rowsBetween(
        Window.unboundedPreceding, -1 if strict else 0
    )
    return (
        ordered.withColumn(
            out, F.greatest(off_expr, F.max(value_col).over(frame))
        )
        .drop("__pid")
    )


ANOMALY_TRAIL = 24  # trailing observed hours in the baseline frame
ANOMALY_Z = 3.0


def hourly_anomaly_from_counts(hourly: DataFrame) -> DataFrame:
    """The anomaly scoring downstream of the (event_type, hour_ts,
    n_events) spine — trailing-{ANOMALY_TRAIL}-hour mean/stddev frame,
    z-score, threshold flag. Shared by the batch query
    ``event_hourly_anomaly`` and the streaming
    ``HourlyAnomalySink`` (which maintains the spine incrementally),
    so the two twins cannot drift expression-by-expression."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-ANOMALY_TRAIL, -1)
    )
    scored = hourly.select(
        "event_type",
        "hour_ts",
        "n_events",
        F.avg("n_events").over(w).alias("base_mean"),
        F.stddev("n_events").over(w).alias("base_std"),
    )
    z = (F.col("n_events") - F.col("base_mean")) / F.col("base_std")
    return (
        scored.filter(
            F.col("base_std").isNotNull() & (F.col("base_std") > 0)
        )
        .select(
            "event_type",
            "hour_ts",
            "n_events",
            F.round(F.col("base_mean"), 4).alias("base_mean"),
            nz(F.round(z, 4)).alias("zscore"),
            (F.abs(z) >= ANOMALY_Z).alias("is_anomaly"),
        )
        .orderBy("event_type", "hour_ts")
    )


#: doc_id-mod-N crawl shards of ``doc_source_quality_drift`` and its
#: streaming twin ``SourceQualityDriftSink``.
_DRIFT_SHARDS = 5


def zipf_drift_from_source_counts(sfreq: DataFrame) -> DataFrame:
    """The Zipf-drift computation downstream of the (source, token, f)
    count table — per-source exact-integer OLS fits, corpus-wide fit
    from a second-stage rollup of the SAME counts, drift as raw-slope
    subtraction before one final rounding. Shared by the batch query
    ``corpus_zipf_source_drift`` and the streaming
    ``ZipfSourceDriftSink`` (which maintains ``sfreq`` incrementally),
    so the two twins cannot drift expression-by-expression."""

    def _pts(ranked_df):
        return ranked_df.select(
            "*",
            F.round(F.log(F.col("r").cast("double")) * 1000000, 0)
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("f").cast("double")) * 1000000, 0)
            .cast("long")
            .alias("y"),
        )

    _sums = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    ]

    def _slope():
        return (
            F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        ).cast("double") / (
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        ).cast(
            "double"
        )

    w = Window.partitionBy("source").orderBy(
        F.col("f").desc(), F.col("token").asc()
    )
    fits = (
        _pts(sfreq.withColumn("r", F.row_number().over(w).cast("long")))
        .groupBy("source")
        .agg(*_sums)
        .select("source", "n", _slope().alias("slope"))
    )
    gfreq = sfreq.groupBy("token").agg(F.sum("f").cast("long").alias("f"))
    granked = global_rank_cumsum(
        gfreq,
        [F.col("f").desc(), F.col("token").asc()],
        "f",
        rank_out="r",
        cum_out="__cum",
    )
    gfit = _pts(granked).agg(*_sums).select(_slope().alias("gslope"))
    return (
        fits.crossJoin(F.broadcast(gfit))
        .select(
            "source",
            F.col("n").alias("n_terms"),
            nz(F.round(F.col("slope"), 6)).alias("zipf_slope"),
            nz(F.round(F.col("slope") - F.col("gslope"), 6)).alias(
                "slope_drift"
            ),
        )
        .orderBy("source")
    )


def deterministic_split(
    df: DataFrame,
    id_col: str,
    splits: list[tuple[str, int]] | None = None,
    salt: str = "v1",
    split_col: str = "split",
) -> DataFrame:
    """Reproducible train/val/test assignment by hashed-id bucket.

    The scale-path counterpart of :func:`pipelines.ml.train_test_split`
    (reference ``model_train_explain.py:60-83`` splits a collected
    pandas frame — impossible at 100 TB). Each row's split is a pure
    function of (salt, id): md5-prefix integer mod 100 → contiguous
    percentile buckets. Properties a production curation pipeline needs:

    * deterministic across runs/cluster sizes/partitionings (no RNG,
      no ``rand()`` re-rolling per retry);
    * stable under data growth — a doc keeps its split when new docs
      arrive (unlike percentile ranks or ``randomSplit``);
    * narrow-only: no shuffle, no sample pass; the assignment inlines
      into whatever scan reads the table;
    * ``salt`` versions the assignment so a re-split is an explicit,
      auditable choice.

    ``splits`` is a list of (name, percent) summing to 100, default
    80/10/10 train/val/test.
    """
    if splits is None:
        splits = [("train", 80), ("val", 10), ("test", 10)]
    if sum(p for _, p in splits) != 100:
        raise ValueError(f"split percents must sum to 100: {splits}")
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
        % 100
    )
    expr = F.lit(splits[-1][0])  # last split takes the remainder
    cum = 0
    conds = []
    for name, pct in splits[:-1]:
        cum += pct
        conds.append((cum, name))
    for cum, name in reversed(conds):
        expr = F.when(bucket < cum, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)
