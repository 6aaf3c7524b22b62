"""Property-based tests (hypothesis) for the determinism-critical
column functions, plus salted-agg equivalence (SURVEY.md §5.4-5.5)."""

from __future__ import annotations

import bisect
import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

TOKEN = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None)
@given(st.lists(TOKEN, min_size=1, max_size=12), st.integers(1, 5))
def test_rolling_fingerprint_whitespace_invariant(spark, toks, pad):
    from mknssh_11_bigdata_spark.functions.text import rolling_fingerprint

    single = " ".join(toks)
    padded = (" " * pad).join(toks) + " " * pad
    df = spark.createDataFrame([(single,), (padded,)], ["text"])
    fps = [
        r.fp
        for r in df.select(
            rolling_fingerprint(F.col("text")).alias("fp")
        ).collect()
    ]
    assert fps[0] == fps[1]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=10
    ),
    st.lists(
        st.floats(-1e5, 1e5, allow_nan=False),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_bucketize_matches_bisect(spark, values, raw_edges):
    from mknssh_11_bigdata_spark.operators.relational import bucketize

    edges = sorted(raw_edges)
    df = spark.createDataFrame([(v,) for v in values], ["v"])
    got = {
        r.v: r.b
        for r in bucketize(df, "v", edges, out="b").collect()
    }
    # bisect_right puts v == edge into the next bucket, matching the
    # operator's half-open [lo, hi) contract
    for v in values:
        assert got[v] == bisect.bisect_right(edges, v)


#: Text the SQL renderer must escape: quotes, backslashes, the
#: six-character text \u0041 (a unicode escape if left raw), backticks,
#: ${...} variable references, dots, spaces, non-ASCII, the empty string.
TRICKY = st.sampled_from(
    ["'", "\\", "\\u0041", "`", "``x", "${spark.app.name}", "${x}",
     "a.b", "a b", "é😀", "", "%_", "\\'"]
)
NAME = st.one_of(TRICKY.filter(bool), st.text(min_size=1, max_size=6))
VALUE = st.one_of(TRICKY, st.text(max_size=6))


@settings(max_examples=12, deadline=None)
@given(
    st.lists(st.one_of(VALUE, st.none()), min_size=1, max_size=6),
    st.lists(VALUE, max_size=4),
    NAME,
    st.one_of(st.none(), VALUE),
    st.booleans(),
    st.booleans(),
)
def test_one_hot_sql_text_matches_column_reference(
    spark, values, extra_vocab, column, prefix, is_array, discover
):
    """one_hot builds its flags as SQL text; for any value, column name
    and prefix they must equal flags built from F.col/F.lit."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from mknssh_11_bigdata_spark.operators.relational import one_hot

    if is_array:
        rows = [([v, "z"] if v is not None else None,) for v in values]
        dtype = ArrayType(StringType())
    else:
        rows = [(v,) for v in values]
        dtype = StringType()
    # build under a plain name, then rename: the reference never parses
    # the tricky name
    plain = spark.createDataFrame(rows, StructType([StructField("c", dtype)]))
    df = plain.withColumnRenamed("c", column)
    if discover:
        seen: set[str] = set()
        for (v,) in rows:
            if v is not None:
                seen.update(v if is_array else [v])
        vocab = sorted(seen)
        got, names = one_hot(df, column, prefix=prefix, is_array=is_array)
    else:
        vocab = sorted(set(values[:2]) - {None} | set(extra_vocab))
        got, names = one_hot(
            df, column, vocabulary=vocab, prefix=prefix, is_array=is_array
        )
    pre = prefix if prefix is not None else f"{column}_"
    assert names == [f"{pre}{v}" for v in vocab]
    c = F.col("c")
    ref = plain.select(
        c,
        *[
            F.coalesce(
                (F.array_contains(c, v) if is_array else c == F.lit(v)).cast(
                    "int"
                ),
                F.lit(0),
            ).alias(name)
            for v, name in zip(vocab, names)
        ],
    )
    assert got.columns == [column, *names]
    assert got.dtypes[1:] == ref.dtypes[1:]
    assert got.collect() == ref.collect()


@settings(max_examples=10, deadline=None)
@given(
    st.one_of(
        st.tuples(
            st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=8),
            st.lists(
                st.integers(-(2**40), 2**40), min_size=1, max_size=4, unique=True
            ),
        ),
        st.tuples(
            st.lists(
                st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=8
            ),
            st.lists(
                st.floats(-1e5, 1e5, allow_nan=False).filter(
                    lambda e: not e.is_integer()
                ),
                min_size=1,
                max_size=4,
                unique=True,
            ),
        ),
    ),
    NAME,
)
def test_bucketize_sql_text_int_and_fractional_edges(spark, data, column):
    """Integer edges on a bigint column and non-integral float edges on
    a double column land exactly where bisect puts them, under any
    column name."""
    from mknssh_11_bigdata_spark.operators.relational import bucketize

    values, raw_edges = data
    edges = sorted(raw_edges)
    df = spark.createDataFrame([(v,) for v in values], ["v"]).withColumnRenamed(
        "v", column
    )
    out = bucketize(df, column, edges, out="b")
    assert out.dtypes[-1] == ("b", "int")
    for v, b in out.collect():
        assert b == bisect.bisect_right(edges, v), (v, edges)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.one_of(
            VALUE,
            st.booleans(),
            st.integers(-(2**63), 2**63 - 1),
            st.floats(allow_nan=True, allow_infinity=True),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_sql_literal_round_trips_value_and_type(spark, values):
    from mknssh_11_bigdata_spark.operators.relational import sql_literal

    one = spark.range(1)
    got = one.selectExpr(
        *[f"{sql_literal(v)} AS c{i}" for i, v in enumerate(values)]
    )
    ref = one.select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)])
    assert got.dtypes == ref.dtypes
    for v, g in zip(values, got.first()):
        if isinstance(v, float) and math.isnan(v):
            assert math.isnan(g)
        else:
            assert g == v and type(g) is type(v), (v, g)
            if isinstance(v, float):  # -0.0 keeps its sign
                assert math.copysign(1, g) == math.copysign(1, v)


def test_salted_agg_equals_plain_agg(spark):
    from mknssh_11_bigdata_spark.plans.layout import salted_agg
    from mknssh_11_bigdata_spark.sources.readers import load_table

    from conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events")
    plain = {
        r.event_type: (r.n, round(r.s, 2), r.mn, r.mx)
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.event_type: (r.n, round(r.s, 2), r.mn, r.mx)
        for r in salted_agg(
            e.select("event_type", "value"),
            ["event_type"],
            {
                "n": ("*", "count"),
                "s": ("value", "sum"),
                "mn": ("value", "min"),
                "mx": ("value", "max"),
            },
            salt=8,
        ).collect()
    }
    assert salted == plain


def test_sketch_stats_error_bounds(spark):
    """HLL++ distinct estimate within 3x its 5% default rsd; t-digest
    median within 2% of the exact interpolated median."""
    from mknssh_11_bigdata_spark.queries import QUERIES
    from pyspark.sql import functions as F

    from conftest import SF_ORACLE

    approx = {
        r.event_type: r
        for r in QUERIES["event_type_sketch_stats"]
        .spark(spark, SF_ORACLE)
        .collect()
    }
    from mknssh_11_bigdata_spark.sources.readers import load_table

    exact = {
        r.event_type: r
        for r in load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.percentile("value", F.lit(0.5)).alias("median_value"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for et, a in approx.items():
        x = exact[et]
        assert abs(a.approx_users - x.users) <= max(0.15 * x.users, 2), et
        assert abs(a.approx_median_value - x.median_value) <= 0.02 * abs(
            x.median_value
        ), et


@settings(max_examples=8, deadline=None)
@given(st.lists(TOKEN, min_size=0, max_size=14), st.integers(2, 4))
def test_shingles_match_python_ngrams(spark, toks, n):
    """shingles_of (zipped slices) must equal the naive Python n-gram
    model: distinct space-joined windows; short docs yield their whole
    text as one shingle."""
    from mknssh_11_bigdata_spark.functions.text import shingles

    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], ["text"])
    got = sorted(
        df.select(shingles(F.col("text"), n).alias("s")).collect()[0].s
    )
    if len(toks) >= n:
        want = sorted(
            {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        )
    else:
        want = [" ".join(toks)]
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(TOKEN, min_size=0, max_size=14))
def test_bigrams_match_python_pairs(spark, toks):
    """bigrams_of keeps duplicates and ordering (multiset semantics)."""
    from mknssh_11_bigdata_spark.functions.text import bigrams

    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], ["text"])
    got = df.select(bigrams(F.col("text")).alias("b")).collect()[0].b
    want = [
        f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
    ]
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=11).map(
            " ".join
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(2, 4),
)
def test_chunk_dedup_matches_python_model(spark, texts, cs):
    """chunk_dedup must equal the sequential first-occurrence model:
    walk documents in (doc_id, chunk_idx) order, keep a chunk iff its
    text was never seen before; tails always survive."""
    from mknssh_11_bigdata_spark.operators.dedup import chunk_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_chunks, r.n_removed, r.clean_n_tokens)
        for r in chunk_dedup(df, "doc_id", "text", chunk_size=cs).collect()
    }
    seen: set[str] = set()
    for i, t in rows:
        toks = [x for x in t.split(" ") if x]
        nf = len(toks) // cs
        kept_tokens = list(toks[nf * cs :])  # tail survives
        removed = 0
        for j in range(nf):
            chunk = " ".join(toks[j * cs : (j + 1) * cs])
            if chunk in seen:
                removed += 1
            else:
                seen.add(chunk)
                kept_tokens += chunk.split(" ")
        assert got[i][0] == nf, (i, got[i])
        assert got[i][1] == removed, (i, got[i])
        assert got[i][2] == len(kept_tokens), (i, got[i])


@settings(max_examples=8, deadline=None)
@given(st.lists(TOKEN, min_size=0, max_size=20))
def test_winnow_picks_match_python_model(spark, toks):
    """winnow_picks must equal the naive Python winnowing model:
    3-gram md5-prefix hashes, rightmost minimum per window of 4,
    distinct packed (position, hash) picks."""
    import hashlib

    from mknssh_11_bigdata_spark.functions.text import (
        ROLL_MOD,
        WINNOW_PAIR_BASE,
        WINNOW_W,
        gram_hashes,
        tokens,
        winnow_picks,
    )

    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], ["text"])
    got = sorted(
        df.select(tokens(F.col("text")).alias("t"))
        .select(gram_hashes(F.col("t")).alias("h"))
        .select(winnow_picks(F.col("h")).alias("p"))
        .collect()[0]
        .p
    )

    def h(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % ROLL_MOD

    grams = [
        h(" ".join(toks[i : i + 3])) for i in range(len(toks) - 2)
    ]
    want = set()
    if len(grams) >= WINNOW_W:
        for j in range(len(grams) - WINNOW_W + 1):
            win = grams[j : j + WINNOW_W]
            mv = min(win)
            # rightmost occurrence of the window minimum
            rp = j + max(i for i, v in enumerate(win) if v == mv)
            want.add((rp + 1) * WINNOW_PAIR_BASE + mv)
    assert got == sorted(want)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10_000_000),  # price cents
            st.integers(min_value=0, max_value=10),          # discount %
        ),
        min_size=1,
        max_size=200,
    )
)
@settings(deadline=None, max_examples=200)
def test_quarter_cent_ledger_is_exact(lines):
    """The SQL_REV_EXACT claim (queries_tpch.py): for 2-decimal prices
    and discounts, round(price*(1-disc)*10000) in DOUBLE arithmetic
    recovers the exact integer quarter-cent value — so sums are exact
    and engine-independent. True value: price_cents*(100-disc_pct)."""
    total_true = 0
    total_led = 0.0
    for pc, dc in lines:
        price = pc / 100.0
        disc = dc / 100.0
        led = round(price * (1.0 - disc) * 10000.0)
        true = pc * (100 - dc)
        assert led == true, (pc, dc, led, true)
        total_true += true
        total_led += float(led)
    # sums of integral doubles below 2^53 stay exact
    assert total_led == float(total_true)


@given(
    n=st.integers(min_value=1, max_value=400),
    k=st.integers(min_value=2, max_value=17),
    mod=st.integers(min_value=2, max_value=50),
)
@settings(deadline=None, max_examples=10)
def test_global_ntile_equals_window_ntile(spark, n, k, mod):
    """Distributed NTILE ≡ window NTILE for arbitrary sizes, tile
    counts, and tie densities (mod controls duplicate sort keys; id
    breaks ties into a total order)."""
    from pyspark.sql import Window

    from mknssh_11_bigdata_spark.operators.relational import global_ntile

    df = spark.range(n).select(
        F.col("id"), (F.col("id") * 131 % mod).alias("v")
    )
    order = [F.col("v").desc(), F.col("id").asc()]
    expected = {
        (r["id"], r["t"])
        for r in df.select(
            "id", F.ntile(k).over(Window.orderBy(*order)).alias("t")
        ).collect()
    }
    got = {
        (r["id"], r["tile"])
        for r in global_ntile(df, k, order).select("id", "tile").collect()
    }
    assert got == expected


def test_pagerank_l1_delta_decays_geometrically(spark):
    """The convergence-audit series must decay ~0.85× per damped round
    (the theoretical contraction factor): strictly decreasing, with
    every consecutive ratio inside a loose [0.7, 0.95] band — the
    evidence behind the fixed 8-round budget, now driver-certified as
    data by ``pagerank_convergence_audit``."""
    from mknssh_11_bigdata_spark.queries import QUERIES

    rows = (
        QUERIES["pagerank_convergence_audit"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    deltas = [r["l1_delta_micro"] for r in sorted(rows, key=lambda r: r["round"])]
    assert len(deltas) == 8 and all(d > 0 for d in deltas)
    assert all(a > b for a, b in zip(deltas, deltas[1:]))
    ratios = [b / a for a, b in zip(deltas, deltas[1:])]
    assert all(0.7 <= r <= 0.95 for r in ratios), ratios
