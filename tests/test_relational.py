"""Operator-level unit tests (SURVEY.md §5.1) — tiny in-memory frames,
asserting the *chosen* semantics for the document-and-diverge items
(SURVEY §4.4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mknssh_11_bigdata_spark.operators.relational import (
    bucketize,
    cumulative_sum,
    membership_flag,
    null_profile,
    one_hot,
    top_k_per_group,
    top_n,
)


def test_top_n_tie_determinism(spark):
    # Reference bug §4.4.5: ties at rank N were nondeterministic.
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("c", 1.0), ("d", 2.0)], ["id", "score"]
    )
    out = [
        r.id
        for r in top_n(
            df, [F.col("score").desc()], 2, tie_breakers=[F.col("id").asc()]
        ).collect()
    ]
    assert out == ["d", "a"]


def test_membership_flag_exact_not_prefix(spark):
    # Reference bug §4.4.1: unanchored regex matched id prefixes
    # (nm1 in the top list flagged nm10 too). Ours must be exact.
    df = spark.createDataFrame(
        [("t1", "nm1"), ("t2", "nm10"), ("t3", "nm2")], ["tconst", "person"]
    )
    ids = spark.createDataFrame([("nm1",)], ["id"])
    out = {
        r.tconst: r.flag
        for r in membership_flag(df, "person", ids, out="flag").collect()
    }
    assert out == {"t1": 1, "t2": 0, "t3": 0}


def test_membership_flag_array_semantics(spark):
    # Array mode: any element in the id set flags the row (the J7
    # crew-list intent).
    df = spark.createDataFrame(
        [("t1", ["nm1", "nm99"]), ("t2", ["nm10"]), ("t3", [])],
        ["tconst", "crew"],
    )
    ids = spark.createDataFrame([("nm1",)], ["id"])
    out = {
        r.tconst: r.flag
        for r in membership_flag(
            df, "crew", ids, out="flag", is_array=True
        ).collect()
    }
    assert out == {"t1": 1, "t2": 0, "t3": 0}


def test_one_hot_deterministic_sorted_vocabulary(spark):
    # Reference quirk §4.3: one-hot column order followed collect()
    # order. Ours sorts the vocabulary.
    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], ["g"])
    _, names = one_hot(df, "g")
    assert names == ["g_a", "g_b", "g_c"]
    flagged, _ = one_hot(df, "g", vocabulary=["a", "b", "c"])
    rows = flagged.orderBy("g").collect()
    assert [r.g_a for r in rows] == [1, 1, 0, 0]


def test_one_hot_array_mode(spark):
    df = spark.createDataFrame(
        [(1, ["x", "y"]), (2, ["y"]), (3, None)], ["id", "tags"]
    )
    flagged, names = one_hot(df, "tags", is_array=True)
    assert names == ["tags_x", "tags_y"]
    got = {r.id: (r.tags_x, r.tags_y) for r in flagged.collect()}
    # NULL array => 0 flags (not NULL), matching one-hot-for-ML intent.
    assert got == {1: (1, 1), 2: (0, 1), 3: (0, 0)}


def test_one_hot_wide_vocabulary_single_projection(spark):
    """1k-value vocabulary: must stay a single select (one analyzer
    pass), not a withColumn-per-value loop whose analysis cost grows
    quadratically with vocabulary width (VERDICT r1 #8)."""
    vocab = [f"v{i:04d}" for i in range(1000)]
    df = spark.createDataFrame([("v0007",), ("v0999",)], ["g"])
    flagged, names = one_hot(df, "g", vocabulary=vocab)
    assert len(names) == 1000
    # exactly one Project over the scan — the loop version stacks 1000
    plan = flagged._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Project") <= 1, plan[:500]
    rows = flagged.orderBy("g").collect()
    assert rows[0].g_v0007 == 1 and rows[0].g_v0999 == 0
    assert rows[1].g_v0999 == 1 and sum(rows[1][1:]) == 1


def test_bucketize_edges_and_nulls(spark):
    # Reference quirk §4.4.3: NULL runtime silently fell into the last
    # bucket. Ours keeps NULL (or an explicit null_bucket).
    df = spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, 39.9), (4, 40.0), (5, None)],
        ["id", "v"],
    )
    out = {
        r.id: r.b
        for r in bucketize(df, "v", edges=[10, 25, 40], out="b").collect()
    }
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: None}
    out2 = {
        r.id: r.b
        for r in bucketize(
            df, "v", edges=[10, 25, 40], out="b", null_bucket=-1
        ).collect()
    }
    assert out2[5] == -1


def test_cumulative_sum_partitioned(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 5.0), ("b", 1, 1.0)], ["k", "t", "v"]
    )
    out = {
        (r.k, r.t): r.cum
        for r in cumulative_sum(
            df, ["t"], "v", "cum", partition_by=["k"]
        ).collect()
    }
    assert out == {("a", 1): 10.0, ("a", 2): 15.0, ("b", 1): 1.0}


def test_top_k_per_group_rank_determinism(spark):
    df = spark.createDataFrame(
        [("g", "x", 1.0), ("g", "y", 1.0), ("g", "z", 0.5)],
        ["grp", "id", "v"],
    )
    out = top_k_per_group(
        df, ["grp"], [F.col("v").desc(), F.col("id").asc()], k=2
    ).collect()
    assert [(r.id, r.rank) for r in out] == [("x", 1), ("y", 2)]


def test_null_profile_counts_nan_and_null(spark):
    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, 1.0)], ["id", "v"]
    )
    row = null_profile(df).collect()[0]
    assert row.row_count == 3
    assert row.id_nulls == 0
    assert row.v_nulls == 2


def test_deterministic_split_properties(spark):
    """Split must be a pure function of (salt, id): identical across
    runs and partitionings, all rows covered, salt changes the
    assignment, and rows keep their split when the table grows."""
    from mknssh_11_bigdata_spark.operators.relational import (
        deterministic_split,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = deterministic_split(df, "doc_id")
    b = deterministic_split(df.repartition(7), "doc_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    counts = {
        r["split"]: r["n"]
        for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == 2000
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]

    # growth stability: first half's assignment unchanged within full table
    half = deterministic_split(
        spark.range(0, 1000).withColumnRenamed("id", "doc_id"), "doc_id"
    )
    full_first_half = {r.doc_id: r.split for r in a.collect() if r.doc_id < 1000}
    assert {r.doc_id: r.split for r in half.collect()} == full_first_half

    salted = deterministic_split(df, "doc_id", salt="v2")
    assert {tuple(r) for r in salted.collect()} != {tuple(r) for r in a.collect()}

    import pytest
    with pytest.raises(ValueError):
        deterministic_split(df, "doc_id", splits=[("a", 50), ("b", 40)])


def test_driver_window_registry_ordering():
    """The driver-window rotation is DERIVED from recorded CORRECTNESS
    rows (VERDICT r2 #1): every uncertified or this-round-recertifying
    query sorts before every certified one, the uncertified front is
    itself banded pending-before-fresh, and every PENDING name (already
    recorded non-green, or declared recertification debt — the names
    that would otherwise starve) fits the driver's ~50-row window.
    Fresh names (never seen by the driver) may overflow; they wait one
    round by construction."""
    import hashlib
    import pathlib
    import subprocess
    import sys

    # ahead of queries.py unless an earlier test imported it already (a
    # full run collects tests/test_curation.py, which imports it first)
    import mknssh_11_bigdata_spark.queries_curation  # noqa: F401

    root = pathlib.Path(__file__).resolve().parent.parent
    if str(root) not in sys.path:  # the driver shim lives at the repo root
        sys.path.insert(0, str(root))
    from __spark_entry__ import (
        _RECERTIFY,
        _driver_certified,
        _scan_correctness,
        oracle_sql,
        queries,
    )

    from mknssh_11_bigdata_spark.queries import QUERIES

    # the driver order recorded before the ordering moved out of the
    # library: md5 of the "\n"-joined queries() and oracle_sql() keys,
    # taken the driver's way — a fresh process that imports the shim
    # first — and in this process, whatever the import order was
    want = [
        "b3b67f68b9777c57ca93c8fdebd9f095",
        "f54cce653c2e9ff0a026f423784735c8",
    ]
    probe = (
        "import hashlib, sys; sys.path.insert(0, sys.argv[1]); "
        "import __spark_entry__ as e; "
        "print(*(hashlib.md5('\\n'.join(keys).encode()).hexdigest() "
        "for keys in (e.queries(), e.oracle_sql())))"
    )
    digest = subprocess.run(
        [sys.executable, "-c", probe, str(root)],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    assert digest == want
    assert [
        hashlib.md5("\n".join(keys).encode()).hexdigest()
        for keys in (queries(), oracle_sql())
    ] == want
    names = list(queries())
    recorded, certified = _scan_correctness()
    assert certified == _driver_certified()
    front = [n for n in names if n not in certified]
    back = [n for n in names if n in certified]
    assert names == front + back  # uncertified strictly first
    assert set(_RECERTIFY) <= set(QUERIES)  # no stale recertify names
    pending = [
        n for n in front if n in recorded or n in _RECERTIFY
    ]
    fresh = [n for n in front if n not in pending]
    assert front == pending + fresh  # pending band strictly first
    # recertify semantics: a name required to re-certify in a round for
    # which no CORRECTNESS record exists yet must sort into the front
    rounds = set()
    for p in root.glob("CORRECTNESS_r*.json"):
        import re

        m = re.search(r"_r(\d+)\.json$", p.name)
        if m:
            rounds.add(int(m.group(1)))
    for name, rnd in _RECERTIFY.items():
        if not any(r >= rnd for r in rounds):
            assert name in front, (
                f"{name} awaits round-{rnd} recertification but sorted "
                "into the certified back"
            )
    # window arithmetic: every name with a pending certification debt
    # must actually fit — only never-recorded fresh names may wait
    assert len(pending) <= 50, (
        f"{len(pending)} pending queries exceed the driver's 50-row "
        "CORRECTNESS window; some would never earn a hash row"
    )


def test_global_ntile_matches_window_ntile(spark):
    """global_ntile must reproduce SQL NTILE exactly — including the
    larger-buckets-first remainder rule — for n % k == 0, n % k != 0,
    and n < k."""
    from pyspark.sql import Window, functions as F

    from mknssh_11_bigdata_spark.operators.relational import global_ntile

    for n, k in [(40, 10), (25, 10), (7, 10), (1, 3)]:
        df = spark.range(n).select(
            F.col("id"), (F.col("id") * 37 % 19).alias("v")
        )
        order = [F.col("v").desc(), F.col("id").asc()]
        w = Window.orderBy(*order)
        expected = {
            (r["id"], r["t"])
            for r in df.select("id", F.ntile(k).over(w).alias("t")).collect()
        }
        got = {
            (r["id"], r["tile"])
            for r in global_ntile(df, k, order).select("id", "tile").collect()
        }
        assert got == expected, (n, k)


def test_global_ntile_no_unpartitioned_window(spark):
    """The distributed form must not contain a single-partition window:
    every windowspec partitions by the pid column."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.relational import global_ntile

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    out = global_ntile(df, 10, [F.col("v").desc(), F.col("id").asc()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\](?:, \[(.*?)\])?", plan):
        part = m.group(2)
        assert "ASC" not in part and "DESC" not in part, (
            "unpartitioned window found: " + m.group(0)[:120]
        )


def test_global_rank_cumsum_matches_window(spark):
    """global_rank_cumsum must reproduce the single-partition
    ROW_NUMBER + running SUM exactly — including n smaller than the
    partition count and duplicate sort values broken by a tiebreaker."""
    from pyspark.sql import Window, functions as F

    from mknssh_11_bigdata_spark.operators.relational import (
        global_rank_cumsum,
    )

    for n in (40, 3):
        df = spark.range(n).select(
            F.col("id"),
            (F.col("id") * 37 % 7).alias("v"),  # duplicate sort keys
            (F.col("id") * 13 % 101).alias("amt"),
        )
        order = [F.col("v").desc(), F.col("id").asc()]
        w = (
            Window.orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        expected = {
            (r["id"], r["r"], r["c"])
            for r in df.select(
                "id",
                F.row_number()
                .over(Window.orderBy(*order))
                .cast("long")
                .alias("r"),
                F.sum("amt").over(w).alias("c"),
            ).collect()
        }
        got = {
            (r["id"], r["rank"], r["cum"])
            for r in global_rank_cumsum(df, order, "amt").select(
                "id", "rank", "cum"
            ).collect()
        }
        assert got == expected, n


def test_global_rank_cumsum_null_values_match_window(spark):
    """NULLs in value_col must follow SUM() OVER exactly: skipped by
    the running sum, NULL output only while the global prefix has seen
    no non-null value. Regression for the ADVICE r3 latent defect where
    an all-NULL within-partition prefix dropped earlier partitions'
    running sum (v_off + NULL = NULL). Layouts force both edge shapes:
    a leading all-NULL run (global-prefix NULL rows) and NULL runs at
    partition heads with non-null mass behind them."""
    from pyspark.sql import Window, functions as F

    from mknssh_11_bigdata_spark.operators.relational import (
        global_rank_cumsum,
    )

    for null_mod, n in ((3, 48), (2, 10)):
        # value NULL unless id % null_mod == 0, and the sort order puts
        # big ids first, so the global prefix starts with a NULL-only
        # run (n-1, n-2, … down to the first multiple of null_mod)
        df = spark.range(n).select(
            F.col("id"),
            F.when(
                F.col("id") % null_mod == 0,
                F.col("id") * 13 % 101,
            ).alias("amt"),
        )
        order = [F.col("id").desc()]
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, 0
        )
        expected = {
            (r["id"], r["c"])
            for r in df.select(
                "id", F.sum("amt").over(w).alias("c")
            ).collect()
        }
        got = {
            (r["id"], r["cum"])
            for r in global_rank_cumsum(df, order, "amt")
            .select("id", "cum")
            .collect()
        }
        assert got == expected, (null_mod, n)
        assert any(c is None for _, c in got)  # the NULL head exists


def test_global_rank_cumsum_no_unpartitioned_window(spark):
    """The distributed form must not contain a single-partition
    window: every windowspec partitions by the pid column."""
    import re

    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.relational import (
        global_rank_cumsum,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    out = global_rank_cumsum(
        df, [F.col("v").desc(), F.col("id").asc()], "v"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\](?:, \[(.*?)\])?", plan):
        part = m.group(2)
        assert "ASC" not in part and "DESC" not in part, (
            "unpartitioned window found: " + m.group(0)[:120]
        )


def test_release_checkpoints_frees_blocks(spark):
    """release_checkpoints must unpersist every localCheckpoint block
    (the bench/drive inter-query hygiene call) and report the count."""
    from mknssh_11_bigdata_spark.session import release_checkpoints

    release_checkpoints(spark)  # start clean (fixture session is shared)
    df = spark.range(100).localCheckpoint(eager=True)
    assert df.count() == 100
    assert release_checkpoints(spark) >= 1
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_cli_list_and_run(capsys):
    """CLI smoke: `list` prints every registered query; unknown names
    exit 2 with a pointer."""
    from mknssh_11_bigdata_spark.__main__ import main
    from mknssh_11_bigdata_spark.queries import QUERIES

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in QUERIES:
        assert name in out
    assert main(["run", "no_such_query"]) == 2


def test_zorder_key_exact_interleave(spark):
    """Morton key exactness on a tiny grid: with bits=2 and domains
    [0,3], the key must equal the hand-interleaved value
    (A bits at even positions, B at odd)."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.plans.layout import zorder_key

    rows = [(a, b) for a in range(4) for b in range(4)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = {
        (r.a, r.b): r.z
        for r in df.withColumn(
            "z", zorder_key(F.col("a"), 0, 3, F.col("b"), 0, 3, bits=2)
        ).collect()
    }

    def morton(a, b):
        z = 0
        for i in range(2):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in out.items():
        assert z == morton(a, b), (a, b, z)


def test_global_running_max_matches_window(spark):
    """global_running_max must reproduce the single-partition
    strictly-preceding (and inclusive) running MAX exactly — including
    n smaller than the partition count, NULL values, and the
    all-preceding-NULL prefix."""
    from pyspark.sql import Window, functions as F

    from mknssh_11_bigdata_spark.operators.relational import (
        global_running_max,
    )

    for n in (50, 3):
        df = spark.range(n).select(
            F.col("id"),
            # nondecreasing-free zigzag with NULL holes
            F.when(
                F.col("id") % 7 != 3, (F.col("id") * 37 % 23)
            ).alias("v"),
        )
        order = [F.col("id").asc()]
        for strict in (True, False):
            lo, hi = Window.unboundedPreceding, (-1 if strict else 0)
            w = Window.orderBy(*order).rowsBetween(lo, hi)
            expected = {
                (r["id"], r["m"])
                for r in df.select(
                    "id", F.max("v").over(w).alias("m")
                ).collect()
            }
            got = {
                (r["id"], r["m"])
                for r in global_running_max(
                    df, order, "v", out="m", strict=strict
                )
                .select("id", "m")
                .collect()
            }
            assert got == expected, (n, strict)


def test_global_running_max_no_unpartitioned_window(spark):
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.relational import (
        global_running_max,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 13 % 31).alias("v")
    )
    out = global_running_max(df, [F.col("id").asc()], "v", out="m")
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\](?:, \[(.*?)\])?", plan):
        part = m.group(2)
        assert "ASC" not in part and "DESC" not in part, (
            "unpartitioned window found: " + m.group(0)[:120]
        )
