"""Query registry: every SURVEY.md §2 operator as a (Spark, oracle-SQL) pair.

Each entry is a named query over the driver's testdata tables
(TESTDATA.md). The Spark side composes the engine's operator library; the
oracle side is ANSI SQL DuckDB runs on the same parquet files. The driver
compares row counts, schemas and order-insensitive value hashes — so both
sides alias computed columns identically and round floating aggregates to
a fixed scale (doubles summed in different orders differ in the last ulps;
rounding makes the comparison well-defined).

Reference citations in each query's docstring say which inventory row
(SURVEY.md §2) it exercises.
"""

from __future__ import annotations

from importlib import import_module

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.numeric import nz
from .operators.relational import (
    bucketize,
    conditional_counts,
    cumulative_sum,
    histogram,
    membership_flag,
    null_profile,
    one_hot,
    top_k_per_group,
    top_n,
)
# QUERIES and register are re-exported
from .registry import MODULE_ORDER, QUERIES, register  # noqa: F401
from .sources.readers import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _in_year(col: str, year: int) -> Column:
    """``year(col) == y`` as a PUSHABLE range predicate. The function
    form wraps the column in an expression, so parquet row-group
    min/max pruning (and partition pruning on date-partitioned layouts)
    cannot apply — the scan reads every row. The half-open range
    compares the raw column, pushes to the reader, and is NULL-safe
    identically (both forms are null-false)."""
    lo = F.lit(f"{year}-01-01").cast("timestamp")
    hi = F.lit(f"{year + 1}-01-01").cast("timestamp")
    return (F.col(col) >= lo) & (F.col(col) < hi)


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.2-2.5)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                            AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                       AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
           ROUND(AVG(l_quantity), 6)                            AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                       AS avg_price,
           ROUND(AVG(l_discount), 6)                            AS avg_disc,
           COUNT(*)                                             AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter → hash agg with multiple measures (inventory P4, A5/A10-style;
    the classic scan-heavy aggregation). Map-side partial agg + pushed
    shipdate filter: .explain shows PushedFilters on the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "yearly_returnflag_trend",
    """
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS order_year,
           l.l_returnflag,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           ROUND(AVG(l.l_discount), 6) AS avg_disc,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def yearly_returnflag_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: the genre-year trends shape (inventory A5 + J1,
    ``/root/reference/scripts/data_analysis.py:44-116`` — filter → join →
    group by (key, year) → mean/sum). Fact-to-fact equi-join: shuffles
    both sides on the join key once; the (year, flag) agg reuses nothing
    but is tiny after the join. At 100 TB, AQE handles skewed order keys."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.col("l_returnflag"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "top_revenue_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim filter → join → agg → deterministic top-N (inventory
    J1 + T1; the reference's T1 had nondeterministic ties, SURVEY §4.4.5 —
    fixed here by the o_orderkey tie-breaker). The filtered customer side
    is small → AQE converts to broadcast join; top-N is
    TakeOrderedAndProject, not a global sort."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = c.join(o, c.c_custkey == o.o_custkey).join(
        li, F.col("l_orderkey") == F.col("o_orderkey")
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    return top_n(
        agg,
        order_by=[F.col("revenue").desc()],
        n=10,
        tie_breakers=[F.col("o_orderkey").asc()],
    )


@register(
    "region_revenue",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey  = c.c_custkey
    JOIN supplier s  ON l.l_suppkey  = s.s_suppkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE s.s_nationkey = c.c_nationkey
      AND EXTRACT(YEAR FROM o.o_orderdate) = 1996
    GROUP BY 1, 2
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way star join (inventory J1-J6 generalized; TPC-H Q5 shape:
    local-supplier volume). Dims (supplier/nation/region) are explicitly
    broadcast — zero shuffle for them; only the orders⋈lineitem fact join
    shuffles. This is THE plan shape that must hold at 100 TB: facts
    shuffle once, dims never do."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(_in_year("o_orderdate", 1996))
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(s.s_nationkey == c.c_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "segment_profile",
    """
    SELECT c_mktsegment,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
           CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rich,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           ROUND(AVG(c_acctbal), 6) AS avg_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def segment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation profile (inventory A2 — the principals
    profile shape, ``data_processing.py:147-154``): count / count_distinct
    / N× sum(when) in ONE hash aggregation."""
    c = _t(spark, sf_dir, "customer")
    return conditional_counts(
        c,
        ["c_mktsegment"],
        {
            "n_negative": F.col("c_acctbal") < 0,
            "n_rich": F.col("c_acctbal") > 5000,
        },
        extra_aggs=[
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        ],
    )


@register(
    "priority_onehot_totals",
    """
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "prio_1-URGENT",
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "prio_2-HIGH",
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "prio_3-MEDIUM",
           CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "prio_4-NOT SPECIFIED",
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "prio_5-LOW",
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def priority_onehot_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic one-hot (inventory F3/F5, the genre one-hot of
    ``data_processing.py:122-137``) with a deterministic, sorted
    vocabulary discovered via one collect_set agg (SURVEY §4.3), then
    aggregated so the oracle stays fixed-schema."""
    o = _t(spark, sf_dir, "orders")
    flagged, names = one_hot(o, "o_orderpriority", prefix="prio_")
    return flagged.groupBy("o_orderstatus").agg(
        *[F.sum(n).alias(n) for n in names],
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "quantity_buckets",
    """
    SELECT CASE WHEN l_quantity IS NULL THEN NULL
                WHEN l_quantity < 10 THEN 0
                WHEN l_quantity < 25 THEN 1
                WHEN l_quantity < 40 THEN 2
                ELSE 3 END AS qty_bucket,
           COUNT(*) AS n_items,
           ROUND(AVG(l_extendedprice), 6) AS avg_price
    FROM lineitem
    GROUP BY 1
    """,
)
def quantity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketize (inventory F6 — the runtimeMinutes bucket ladder,
    ``data_processing.py:158-164``), with explicit NULL semantics instead
    of the reference's silent NULL→last-bucket (SURVEY §4.4.3)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        bucketize(li, "l_quantity", edges=[10, 25, 40], out="qty_bucket")
        .groupBy("qty_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        )
    )


@register(
    "top_customer_order_flags",
    """
    WITH top_cust AS (
        SELECT c_custkey FROM customer
        ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 100
    )
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM top_cust)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_top_cust_orders,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def top_customer_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership flag via broadcast join (inventory J7 ⚠ — the
    reference's unanchored 1000-term regex, ``data_processing.py:290-298``,
    which cost O(rows×terms) and matched id prefixes; SURVEY §4.4.1).
    Here: deterministic top-N ids → broadcast hash probe, exact equality."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    top_ids = top_n(
        c.select("c_custkey", "c_acctbal"),
        order_by=[F.col("c_acctbal").desc()],
        n=100,
        tie_breakers=[F.col("c_custkey").asc()],
    ).select("c_custkey")
    flagged = membership_flag(
        o.withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey",
        top_ids,
        out="is_top",
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.sum("is_top").cast("long").alias("n_top_cust_orders"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "discount_histogram",
    """
    SELECT l_discount, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_discount
    """,
)
def discount_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram by raw double key (inventory A9 — the rating histogram,
    ``analysis.ipynb#cell30``). Grouping by stored doubles is exact (no
    arithmetic), so both engines bucket identically."""
    return histogram(_t(spark, sf_dir, "lineitem"), "l_discount")


@register(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (inventory T4). Partial-aggregate dedup before shuffle."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "cumulative_yearly_revenue",
    """
    WITH yearly AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT order_year, revenue,
           ROUND(SUM(revenue) OVER (ORDER BY order_year
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS cum_revenue
    FROM yearly
    """,
)
def cumulative_yearly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window cumulative sum (SURVEY §2.7 — the reference did cumsum in
    pandas, ``analysis.ipynb#cell30``; inventory A11). The running total
    operates on the already-aggregated (tiny) yearly table, so the
    single-task unpartitioned window is fine at any input scale."""
    o = _t(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    out = cumulative_sum(
        yearly, order_by=["order_year"], value_col="revenue", out="cum_revenue"
    )
    return out.withColumn("cum_revenue", F.round("cum_revenue", 2))


@register(
    "top3_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER)
                   AS rank
        FROM orders
    ) WHERE rank <= 3
    """,
)
def top3_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window (SURVEY §2.7 gap — the
    reference could only do global top-N). Total order (price DESC, key
    ASC) makes ranks deterministic."""
    o = _t(spark, sf_dir, "orders")
    return top_k_per_group(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        partition_cols=["o_orderpriority"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )


@register(
    "customers_without_orders",
    """
    SELECT n.n_name AS nation, COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND EXTRACT(YEAR FROM o.o_orderdate) = 1995)
    GROUP BY 1
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS) — absent from the reference (SURVEY §2.3:
    equi-joins only); first-class here. The 1995 filter keeps the result
    non-trivially non-empty at every SF. Broadcast the nation dim."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(_in_year("o_orderdate", 1995))
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "orders_null_profile",
    """
    SELECT COUNT(*) AS row_count,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderkey_nulls,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey_nulls,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus_nulls,
           CAST(SUM(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderdate_nulls,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderpriority_nulls
    FROM orders
    """,
)
def orders_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass null/NaN profile (inventory P8 + M8 ⚠ — replaces the
    reference's 6× uncached ``df.count()`` EDA, ``data_analysis.py:28-41``)."""
    return null_profile(_t(spark, sf_dir, "orders"))


@register(
    "region_nation_rollup",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           ROUND(SUM(c.c_acctbal), 2) AS total_bal,
           COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — beyond the reference (SURVEY §2.4: plain
    groupBy only). Subtotals + grand total in one shuffle."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "c_acctbal")
        .rollup("region", "nation")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@register(
    "custkeys_1995_not_1996",
    """
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
    """,
)
def custkeys_1995_not_1996(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT) — set ops were absent from the reference
    (SURVEY §2.7). Customers active in 1995 but not 1996."""
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(_in_year("o_orderdate", 1995)).select("o_custkey")
    y96 = o.filter(_in_year("o_orderdate", 1996)).select("o_custkey")
    # subtract == SQL EXCEPT (distinct set semantics); exceptAll would keep
    # multiplicity and diverge from the oracle.
    return y95.subtract(y96)


@register(
    "lineitem_describe",
    """
    SELECT 'l_quantity' AS column_name,
           COUNT(l_quantity) AS n_non_null,
           ROUND(AVG(l_quantity), 6) AS mean,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS stddev,
           ROUND(MIN(l_quantity), 6) AS min_val,
           ROUND(MAX(l_quantity), 6) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           COUNT(l_extendedprice),
           ROUND(AVG(l_extendedprice), 6),
           ROUND(STDDEV_SAMP(l_extendedprice), 6),
           ROUND(MIN(l_extendedprice), 6),
           ROUND(MAX(l_extendedprice), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           COUNT(l_discount),
           ROUND(AVG(l_discount), 6),
           ROUND(STDDEV_SAMP(l_discount), 6),
           ROUND(MIN(l_discount), 6),
           ROUND(MAX(l_discount), 6)
    FROM lineitem
    """,
)
def lineitem_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``describe()``-shape summary stats (inventory A10/M8 — the
    reference ran ``df.describe()`` plus 6 uncached ``count()``s,
    ``data_analysis.py:28-41``): ONE aggregation over all columns,
    unpivoted to the long (column, stats) layout. Spark's stddev is
    the sample stddev ≡ STDDEV_SAMP."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.round(F.avg(c), 6).alias(f"{c}__mean"),
            F.round(F.stddev(c), 6).alias(f"{c}__sd"),
            F.round(F.min(c), 6).alias(f"{c}__min"),
            F.round(F.max(c), 6).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"{c}__n").alias("n_non_null"),
                        F.col(f"{c}__mean").alias("mean"),
                        F.col(f"{c}__sd").alias("stddev"),
                        F.col(f"{c}__min").alias("min_val"),
                        F.col(f"{c}__max").alias("max_val"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    )
    return stacked.select("s.*")


@register(
    "custkeys_both_years",
    """
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
    """,
)
def custkeys_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (INTERSECT) — completes the set-op surface with
    subtract/anti-join. Customers active in both 1995 and 1996."""
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(_in_year("o_orderdate", 1995)).select("o_custkey")
    y96 = o.filter(_in_year("o_orderdate", 1996)).select("o_custkey")
    return y95.intersect(y96)


@register(
    "segment_priority_cube",
    """
    SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE (c.c_mktsegment, o.o_orderpriority)
    """,
)
def segment_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all four marginal combinations in ONE
    shuffle via Expand) — the OLAP completion of the rollup query."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .cube("segment", "priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


SPEND_EDGES = [100_000.0, 1_000_000.0, 2_000_000.0]
TOP_SPENDERS = 100


def _feature_table_oracle() -> str:
    seg_flags = ",\n           ".join(
        f"CASE WHEN c_mktsegment = '{s}' THEN 1 ELSE 0 END"
        f" AS c_mktsegment_{s}"
        for s in ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                  "MACHINERY")
    )
    e0, e1, e2 = SPEND_EDGES
    return f"""
    WITH agg AS (
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_finished,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_open,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_partial,
               ROUND(SUM(o_totalprice), 2) AS total_spend
        FROM orders GROUP BY o_custkey
    ),
    top_ids AS (
        SELECT o_custkey FROM agg
        ORDER BY total_spend DESC, o_custkey ASC LIMIT {TOP_SPENDERS}
    ),
    joined AS (
        SELECT c.c_custkey, c.c_mktsegment, c.c_nationkey,
               COALESCE(a.n_orders, 0) AS n_orders,
               COALESCE(a.n_finished, 0) AS n_finished,
               COALESCE(a.n_open, 0) AS n_open,
               COALESCE(a.n_partial, 0) AS n_partial,
               COALESCE(a.total_spend, 0.0) AS total_spend
        FROM customer c LEFT JOIN agg a ON c.c_custkey = a.o_custkey
    )
    SELECT j.c_custkey,
           n.n_name,
           {seg_flags},
           j.n_orders, j.n_finished, j.n_open, j.n_partial,
           j.total_spend,
           CASE WHEN j.total_spend < {e0} THEN 0
                WHEN j.total_spend < {e1} THEN 1
                WHEN j.total_spend < {e2} THEN 2
                ELSE 3 END AS spend_bucket,
           CASE WHEN j.c_custkey IN (SELECT o_custkey FROM top_ids)
                THEN 1 ELSE 0 END AS is_top_spender
    FROM joined j JOIN nation n ON j.c_nationkey = n.n_nationkey
    """


@register("customer_feature_table", _feature_table_oracle())
def customer_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's flagship COMPOSITION: the reference's whole
    ``generate_dataset`` shape (``data_processing.py:340-374``) on the
    driver's star schema — conditional-count profile (A2) ⋈ left join
    with explicit null semantics (J2-J4/§4.4.6) → dynamic one-hot (F3,
    deterministic vocabulary) → bucketize (F6) → deterministic top-N
    (T1) → broadcast semi-join membership flag (J7) → dimension join.
    One oracle certifies all the library operators working together."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    agg = conditional_counts(
        o,
        ["o_custkey"],
        {
            "n_finished": F.col("o_orderstatus") == "F",
            "n_open": F.col("o_orderstatus") == "O",
            "n_partial": F.col("o_orderstatus") == "P",
        },
        extra_aggs=[
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        ],
    )
    # The per-customer agg is consumed twice (top-N broadcast build +
    # the customer join probe); left lazy each consumer re-aggregates
    # the full orders fact. Checkpoint the NARROW (custkey + 6 numeric)
    # result — the same materialization discipline as the dedup chains.
    agg = agg.localCheckpoint(eager=True)
    top_ids = top_n(
        agg.select("o_custkey", "total_spend"),
        [F.col("total_spend").desc()],
        TOP_SPENDERS,
        tie_breakers=[F.col("o_custkey").asc()],
    ).select("o_custkey")
    joined = (
        c.select("c_custkey", "c_mktsegment", "c_nationkey")
        .join(agg, c.c_custkey == agg.o_custkey, "left")
        .drop("o_custkey")
        .na.fill(
            {
                "n_orders": 0,
                "n_finished": 0,
                "n_open": 0,
                "n_partial": 0,
                "total_spend": 0.0,
            }
        )
    )
    # Vocabulary from the (dimension-sized) customer table, not the
    # joined frame: the left join cannot introduce segment values, and
    # collecting from `joined` would evaluate the whole composition —
    # including the orders agg — once more just to learn 5 strings.
    segs = sorted(
        r[0]
        for r in c.select("c_mktsegment").distinct().collect()
        if r[0] is not None
    )
    onehot, _seg_cols = one_hot(joined, "c_mktsegment", vocabulary=segs)
    bucketed = bucketize(
        onehot, "total_spend", SPEND_EDGES, out="spend_bucket"
    )
    flagged = membership_flag(
        bucketed, "c_custkey",
        top_ids.withColumnRenamed("o_custkey", "c_custkey"),
        out="is_top_spender",
    )
    return (
        flagged.join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            flagged.c_nationkey == F.col("n_nationkey"),
        )
        .drop("c_mktsegment", "c_nationkey", "n_nationkey")
    )


@register(
    "salted_status_totals",
    """
    SELECT l_linestatus AS status,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 2) AS total_qty,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def salted_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation on a pathologically hot key:
    l_linestatus has ~2 distinct values, so a naive groupBy funnels the
    whole table through 2 reducers. ``salted_agg`` (plans/layout.py)
    splits each key across 16 salt partials and recombines — semantics
    identical to the plain GROUP BY, which is exactly what the oracle
    certifies. ROUND placement differs on purpose: partial sums combine
    unrounded, rounding applies once at the end."""
    from .plans.layout import salted_agg

    li = _t(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_quantity", "l_extendedprice"
    )
    out = salted_agg(
        li,
        ["l_linestatus"],
        {
            "n_items": ("*", "count"),
            "total_qty": ("l_quantity", "sum"),
            "max_price": ("l_extendedprice", "max"),
        },
    )
    return out.select(
        F.col("l_linestatus").alias("status"),
        "n_items",
        F.round("total_qty", 2).alias("total_qty"),
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "yearly_revenue_yoy",
    """
    WITH yearly AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT order_year, revenue,
           (ROUND(revenue - LAG(revenue) OVER (ORDER BY order_year), 2)
            + 0.0) AS yoy_delta,
           (ROUND(100.0 * (revenue - LAG(revenue) OVER (ORDER BY order_year))
                  / LAG(revenue) OVER (ORDER BY order_year), 4) + 0.0)
               AS yoy_pct
    FROM yearly
    """,
)
def yearly_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG window analytics — year-over-year revenue delta/percent, the
    trends extension SURVEY §2.7 calls for (reference did cumsum in
    pandas, ``analysis.ipynb#cell30``). The unpartitioned window runs on
    the post-agg frame (one row per year), so the single-partition sort
    is O(#years) regardless of input SF — safe at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.year("o_orderdate").alias("order_year")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("order_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "order_year",
        "revenue",
        nz(F.round(F.col("revenue") - prev, 2)).alias("yoy_delta"),
        nz(F.round(100.0 * (F.col("revenue") - prev) / prev, 4)).alias(
            "yoy_pct"
        ),
    )


@register(
    "customer_spend_deciles",
    """
    WITH spend AS (
        SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spend
        FROM orders GROUP BY 1
    ),
    tiled AS (
        SELECT total_spend,
               NTILE(10) OVER (ORDER BY total_spend DESC, o_custkey ASC)
                   AS decile
        FROM spend
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           ROUND(MIN(total_spend), 2) AS min_spend,
           ROUND(MAX(total_spend), 2) AS max_spend,
           ROUND(AVG(total_spend), 6) AS avg_spend
    FROM tiled GROUP BY decile
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile segmentation of customers by lifetime spend — the
    ranking-window counterpart of the bucketize operator (F6) with
    data-driven edges. Total order (spend DESC, custkey ASC) makes tile
    assignment deterministic.

    Runs through :func:`global_ntile` — a plain
    ``ntile(10).over(Window.orderBy(...))`` forces ALL per-customer
    rows through ONE task (single-partition WindowExec; measured 6.8x
    wall at 10x data). The distributed form range-sorts, then ranks
    per partition with a broadcast offset array — identical NTILE
    output (oracle unchanged), fully parallel."""
    from .operators.relational import global_ntile

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    tiled = global_ntile(
        spend,
        10,
        [F.col("total_spend").desc(), F.col("o_custkey").asc()],
        out="decile",
    )
    return (
        tiled.select("total_spend", "decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("total_spend"), 2).alias("min_spend"),
            F.round(F.max("total_spend"), 2).alias("max_spend"),
            F.round(F.avg("total_spend"), 6).alias("avg_spend"),
        )
    )


PRICE_BANDS = [
    ("budget", 900.0, 930.0),
    ("mid", 930.0, 960.0),
    ("premium", 960.0, 1000.0),
]


@register(
    "returned_order_priority_counts",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders_with_returns
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY 1 ORDER BY 1
    """,
)
def returned_order_priority_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q4 shape — EXISTS over a fact table: orders with at least
    one returned line item, counted per priority. The EXISTS compiles
    to a fact-to-fact LEFT-SEMI join on the order key (one shuffle per
    side, no duplication of matched orders — the semi join's point vs
    an inner join + distinct). The returnflag filter pushes to the
    lineitem scan, shrinking the probe side before the shuffle.

    Complements J7's broadcast-left-semi membership flag with the
    SHUFFLE semi-join plan a 100 TB EXISTS needs when neither side is
    broadcastable."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders_with_returns"))
        .orderBy("o_orderpriority")
    )


SMALL_QTY_BRAND = "Brand#4"
SMALL_QTY_FRACTION = 0.2


@register(
    "small_quantity_revenue",
    f"""
    WITH pa AS (
        SELECT l_partkey,
               {SMALL_QTY_FRACTION} * AVG(l_quantity) AS qty_cut
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_orders,
           ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_weekly_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = '{SMALL_QTY_BRAND}'
      AND l.l_quantity < pa.qty_cut
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated-aggregate DECORRELATION: "revenue
    lost to small orders" needs each lineitem compared against 20% of
    ITS part's average quantity. The correlated subquery rewrites to a
    per-part aggregate joined back on partkey — one extra shuffle of
    vocab-small (partkey, cut) rows instead of a per-row subquery; the
    brand filter broadcasts. Engine-stable float: quantities are
    integral doubles, so the per-part mean is order-independent and the
    strict < comparison cannot straddle an ulp.

    No §2 counterpart (the reference has no correlated aggregates) —
    completes the classic join-agg pattern set."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == SMALL_QTY_BRAND
    )
    pa = li.groupBy("l_partkey").agg(
        (F.lit(SMALL_QTY_FRACTION) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small_orders"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias(
                "avg_weekly_revenue"
            ),
        )
    )


@register(
    "part_price_band_join",
    """
    WITH bands(band, lo, hi) AS (
        VALUES {values}
    )
    SELECT b.band,
           COUNT(*) AS n_parts,
           ROUND(AVG(p.p_retailprice), 6) AS avg_price,
           ROUND(AVG(p.p_size), 6) AS avg_size
    FROM part p
    JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """.format(
        values=", ".join(
            f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS
        )
    ),
)
def part_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi RANGE join — fact rows matched to [lo, hi) interval dims.
    The reference has no range joins (SURVEY §2.3 'no theta/range');
    this is the idiomatic Spark plan for one: broadcast the tiny band
    table so the theta condition runs as BroadcastNestedLoopJoin (no
    shuffle, no cartesian blowup — O(rows × bands) with bands constant).
    At 100 TB the same plan holds: bands stay driver-small."""
    p = _t(spark, sf_dir, "part")
    # VALUES literal, not createDataFrame: stays JVM-side (createDataFrame
    # on local rows goes through a Python RDD => one Python worker spin-up
    # per run just to ship 3 constant rows).
    bands = spark.sql(
        "SELECT * FROM VALUES {} AS bands(band, lo, hi)".format(
            ", ".join(
                f"('{b}', CAST({lo} AS DOUBLE), CAST({hi} AS DOUBLE))"
                for b, lo, hi in PRICE_BANDS
            )
        )
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
            F.round(F.avg("p_size"), 6).alias("avg_size"),
        )
    )


@register(
    "nation_priority_grouping_sets",
    """
    SELECT n.n_name AS nation, o.o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n.n_name), (o.o_orderpriority))
    """,
)
def nation_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third grouping-set shape alongside
    the rollup and cube queries: two disjoint marginals ((nation),
    (priority)) computed in ONE pass via Expand, where naive SQL would
    UNION two scans. Dimension joins broadcast (nation: 25 rows,
    customer pruned to 2 cols)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
    )
    return joined.groupingSets(
        [["nation"], ["priority"]], "nation", "priority"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "brand_price_extremes",
    """
    SELECT p_brand,
           arg_max(p_name, p_retailprice + p_partkey / 1e12) AS priciest_part,
           ROUND(MAX(p_retailprice), 2) AS max_price,
           arg_min(p_name, p_retailprice + p_partkey / 1e12) AS cheapest_part,
           ROUND(MIN(p_retailprice), 2) AS min_price
    FROM part
    GROUP BY p_brand
    """,
)
def brand_price_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX/ARGMIN aggregates (``max_by``/``min_by`` ≡ DuckDB
    arg_max/arg_min) — "which part is the priciest per brand" in ONE
    hash-agg pass, where a window row_number would shuffle + sort. The
    ordering measure adds p_partkey (globally unique) scaled to 1e-12 —
    below any real price gap — so price ties break identically in both
    engines (plain max_by on a tied measure is nondeterministic)."""
    p = _t(spark, sf_dir, "part")
    ord_measure = F.col("p_retailprice") + F.col("p_partkey") / F.lit(1e12)
    return p.groupBy("p_brand").agg(
        F.max_by("p_name", ord_measure).alias("priciest_part"),
        F.round(F.max("p_retailprice"), 2).alias("max_price"),
        F.min_by("p_name", ord_measure).alias("cheapest_part"),
        F.round(F.min("p_retailprice"), 2).alias("min_price"),
    )


@register(
    "revenue_by_dow",
    """
    SELECT CAST(EXTRACT(DOW FROM o_orderdate) + 1 AS INTEGER) AS dow,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           ROUND(AVG(o_totalprice), 6) AS avg_order
    FROM orders
    GROUP BY 1
    """,
)
def revenue_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension aggregation: day-of-week seasonality. Spark's
    ``dayofweek`` is 1=Sunday..7=Saturday; DuckDB's EXTRACT(DOW) is
    0=Sunday..6 — the oracle shifts by one to the same convention."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.dayofweek("o_orderdate").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_order"),
    )


# Extension registrations (LLM-data-pipeline + events/streaming-batch),
# in the registry's canonical module order. Imported last so their
# @register calls land in the same QUERIES dict.
for _module in MODULE_ORDER[1:]:
    import_module(f".{_module}", __package__)
