"""Physical-plan audits: the queries must not just be correct — they
must compile to the plan shape that survives 100× scale. Each assertion
pins the property that makes the query scale-safe (broadcast instead of
shuffle, single Expand instead of N scans, pushdown reaching the scan).
Plan text is version-sensitive, so assertions target operator names, not
full plan strings."""

from __future__ import annotations

from mknssh_11_bigdata_spark.queries import QUERIES

from conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = QUERIES[name].spark(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_range_band_join_is_broadcast_nested_loop(spark):
    """Tiny interval dim must broadcast — a shuffle or cartesian here
    would be catastrophic at scale."""
    plan = _plan(spark, "part_price_band_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_single_expand_no_union(spark):
    """GROUPING SETS compiles to ONE Expand over one scan — not a UNION
    of per-marginal scans (which would read the fact table twice)."""
    plan = _plan(spark, "nation_priority_grouping_sets")
    assert plan.count("Expand") >= 1
    assert "Union" not in plan


def test_cube_single_expand_no_union(spark):
    plan = _plan(spark, "segment_priority_cube")
    assert "Expand" in plan and "Union" not in plan


def test_pricing_summary_pushdown_and_pruning(spark):
    """The scan-heavy aggregation must push its date filter into the
    parquet scan and prune to the referenced columns only."""
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned read schema: no l_orderkey/l_partkey in the scan
    read = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_salted_agg_two_aggregation_phases(spark):
    """Salted plan = partial-by-(key,salt) then combine-by-key: at least
    two HashAggregate pairs and exactly one exchange keyed on the salt
    phase (plus the final single-key exchange)."""
    plan = _plan(spark, "salted_status_totals")
    assert plan.count("HashAggregate") >= 4  # 2 logical phases x partial/final


def test_top_revenue_orders_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject, never a
    global sort of the full aggregate."""
    plan = _plan(spark, "top_revenue_orders")
    assert "TakeOrderedAndProject" in plan


def test_membership_flag_no_bnl_join(spark):
    """The membership-flag query (reference's regex J7 reimplemented)
    must stay an equi-join family plan — broadcast hash or sort-merge —
    never a nested-loop over the id list."""
    plan = _plan(spark, "top_customer_order_flags")
    assert "BroadcastNestedLoopJoin" not in plan


def test_cc_star_rounds_single_shuffle_join(spark):
    """Each connected-components half-round (large-star / small-star)
    compiles to exactly ONE join — the per-node neighborhood min must
    ride a single aggregation + a single join, because at scale each
    extra join is a full shuffle of the edge list per iteration."""
    from mknssh_11_bigdata_spark.operators.dedup import (
        _large_star,
        _small_star,
    )

    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (5, 4)], "src long, dst long"
    )
    for op in (_large_star, _small_star):
        plan = (
            op(edges)._jdf.queryExecution().executedPlan().toString()
        )
        joins = sum(
            plan.count(j)
            for j in (
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastHashJoin",
            )
        )
        assert joins == 1, (op.__name__, plan)
        # two logical aggregations only (neighborhood min + output
        # distinct); partial-agg nodes are duplicated per union branch,
        # so the physical ceiling is 3 nodes per logical agg
        assert plan.count("HashAggregate") <= 6, (op.__name__, plan)


def test_spread_probe_no_rdd_conversion(spark, monkeypatch, tmp_path):
    """spread()'s under-partitioned probe must read the scan's file
    listing, never df.rdd (which forces physical planning of the whole
    sub-plan into a Python RDD per call — a driver-side cost paid by
    every dedup/similarity query; VERDICT r1 'What's wrong' #3)."""
    from pyspark.sql import DataFrame

    from mknssh_11_bigdata_spark.plans.layout import spread

    many = str(tmp_path / "many")
    one = str(tmp_path / "one")
    spark.range(100).repartition(8).write.parquet(many)
    spark.range(100).coalesce(1).write.parquet(one)
    df_many = spark.read.parquet(many)
    df_one = spark.read.parquet(one)

    def boom(self):  # pragma: no cover - fires only on regression
        raise AssertionError("spread() forced an RDD conversion")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    # local[4] => defaultParallelism 4: 8 files is already spread enough
    assert spread(df_many) is df_many
    # a single compact file must be repartitioned to cluster parallelism
    out = spread(df_one)
    assert out is not df_one
    monkeypatch.undo()
    assert out.rdd.getNumPartitions() == 4


def test_deterministic_split_prunes_text_column(spark):
    """The split assignment is a pure function of doc_id — the scan must
    not read the (huge) text column at 100 TB."""
    import re

    plan = _plan(spark, "doc_deterministic_split")
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    assert "text" not in m.group(1), m.group(1)
    assert "doc_id" in m.group(1), m.group(1)


def test_int8_topk_broadcasts_query_side(spark):
    """Quantized ANN must broadcast the (small) query set — the corpus
    scan-scores without a shuffle until the per-query ranking."""
    plan = _plan(spark, "embedding_int8_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_chunk_dedup_prunes_scan_to_id_and_text(spark):
    """Span dedup reads only (doc_id, text) — lang/source/n_chars must
    be pruned from every documents scan in the plan."""
    plan = _plan(spark, "doc_chunk_dedup")
    for frag in plan.split("ReadSchema")[1:]:
        read = frag.splitlines()[0]
        assert "n_chars" not in read and "lang" not in read


def test_unigram_logprob_broadcasts_scalar_total(spark):
    """The corpus-total join must be a broadcast of one row, never a
    shuffle; the token-frequency join may shuffle (vocab-sized)."""
    plan = _plan(spark, "doc_unigram_logprob")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


#: Unpartitioned windows allowed ONLY over bounded already-aggregated
#: frames (years; the post-limit top-100 vocabulary; daily spines) —
#: single source of truth lives in tools/plan_audit.py so the test and
#: the PLANS.md audit can never drift apart.
import importlib.util as _ilu
import pathlib as _pl

_spec = _ilu.spec_from_file_location(
    "plan_audit",
    _pl.Path(__file__).resolve().parent.parent / "tools" / "plan_audit.py",
)
_plan_audit = _ilu.module_from_spec(_spec)
_spec.loader.exec_module(_plan_audit)
_BOUNDED_WINDOW_OK = _plan_audit.BOUNDED_WINDOW_OK


def test_fleet_plan_invariants(fleet_frames):
    """ONE compile pass over every registered query enforcing the
    fleet-wide scale invariants: (1) no CartesianProduct — every cross
    join must carry a broadcast side; (2) no single-partition window
    (ntile/rank over Window.orderBy with no partition — the one-task
    sort) outside the documented bounded-input set; use
    operators.relational.global_ntile for global ranking instead.
    (The compile pass itself is the shared session-scoped
    ``fleet_frames`` fixture — r9: three fleet sweeps each rebuilt
    every query's frame, tripling ~100 s of construction.)"""
    import re

    offenders = []
    for name in QUERIES:
        plan = fleet_frames[name][1]
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if name not in _BOUNDED_WINDOW_OK:
            for m in re.finditer(
                r"Window \[(.*?)\], \[(.*?)\](?:, \[(.*?)\])?", plan
            ):
                part = m.group(2)
                if "ASC" in part or "DESC" in part:
                    offenders.append((name, "single-partition window"))
                    break
    assert offenders == [], offenders


#: Queries whose plans legitimately contain Python stages: Arrow-batched
#: mapInPandas/applyInPandas operators (multimodal codecs, explicit
#: stateful fold). Everything else must stay fully JVM-side.
_PYTHON_STAGE_OK = {
    "multimodal_payload_profile",
    "multimodal_frame_sample",
    "multimodal_media_features",
    "stateful_sessionization",
    "tier_crossing_alerts",
    "dedup_semdedup_prune_fast",  # declared Arrow/numpy dense-math arm
    "embedding_topk_ivf_fast",  # declared Arrow/numpy dense-math arm
    "corpus_heavy_hitters",  # declared Arrow MG sketch stage (r6)
}


def test_no_python_stages_outside_declared_operators(fleet_frames):
    """Fleet-wide invariant: zero row-at-a-time Python UDFs anywhere,
    and Arrow-batched Python stages only in the declared set. (Plans
    come from the shared ``fleet_frames`` compile pass.)"""
    offenders = []
    for name in QUERIES:
        plan = fleet_frames[name][1]
        if "BatchEvalPython" in plan:
            offenders.append((name, "row-at-a-time PythonUDF"))
        if (
            any(
                marker in plan
                for marker in ("MapInPandas", "FlatMapGroupsInPandas")
            )
            and name not in _PYTHON_STAGE_OK
        ):
            offenders.append((name, "undeclared pandas stage"))
    assert offenders == [], offenders


def test_pii_scrub_prunes_scan_to_used_columns(spark):
    """The redaction pass reads (doc_id, text, source) only — lang and
    n_chars must be pruned from the documents scan, and the whole
    expression chain must stay in whole-stage codegen (no Python)."""
    plan = _plan(spark, "doc_pii_scrub")
    for frag in plan.split("ReadSchema")[1:]:
        read = frag.splitlines()[0]
        assert "n_chars" not in read and "lang" not in read
    assert "BatchEvalPython" not in plan


def test_small_quantity_revenue_broadcasts_brand_dim(spark):
    """Q17 shape: the filtered part dim must broadcast; the per-part
    aggregate join shuffles on partkey (no BNL, no cartesian)."""
    plan = _plan(spark, "small_quantity_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_returned_orders_is_left_semi_join(spark):
    """Q4 shape: EXISTS must compile to a LeftSemi join, not an inner
    join + distinct (which would duplicate matched orders)."""
    plan = _plan(spark, "returned_order_priority_counts")
    assert "LeftSemi" in plan


def test_trade_volume_broadcasts_both_nation_roles(spark):
    """Q7 shape: the dual-role nation dim must broadcast twice (two
    BroadcastHashJoins), and the shipdate range filter must reach the
    lineitem scan."""
    plan = _plan(spark, "nation_pair_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_market_share_single_aggregate_pass(spark):
    """Q8 shape: guarded sum + total sum + ratio in ONE aggregation —
    the plan must contain no Union (two-scan rewrite) and exactly one
    final-aggregate keying on order_year."""
    plan = _plan(spark, "nation_market_share")
    assert "Union" not in plan
    assert "CartesianProduct" not in plan


def test_returned_top_customers_take_ordered(spark):
    """Q10 shape: the deterministic top-20 must compile to
    TakeOrderedAndProject over the aggregate, never a global Sort."""
    plan = _plan(spark, "returned_revenue_top_customers")
    assert "TakeOrderedAndProject" in plan


def test_order_count_distribution_outer_join_survives(spark):
    """Q13 shape: the priority exclusion must ride the LEFT join's ON
    clause (outer rows survive). The plan keeps an outer join — if the
    optimizer had degraded it to inner (filter misplaced post-join),
    the zero-bucket would silently vanish."""
    plan = _plan(spark, "customer_order_count_distribution")
    assert "LeftOuter" in plan
    # the probe-side pushable conjunct reaches the orders scan
    assert "PushedFilters: [IsNotNull(o_orderpriority)" in plan or (
        "Not(EqualTo(o_orderpriority" in plan
    )


def test_large_volume_semi_join_before_rejoin(spark):
    """Q18 shape: the HAVING subquery must compile to a LeftSemi join
    of orders against the pre-aggregated key set."""
    plan = _plan(spark, "large_volume_customers")
    assert "LeftSemi" in plan


def test_disjunctive_bands_push_envelope_filters(spark):
    """Q19 shape: the OR-of-ANDs cannot push whole, but the derived
    single-side envelopes must — brand IN (...) on the part scan,
    quantity range on the lineitem scan — and the part sliver
    broadcasts."""
    plan = _plan(spark, "disjunctive_band_revenue")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert "In(p_brand" in plan


def test_idle_customers_scalar_broadcast_and_anti_join(spark):
    """Q22 shape: the AVG cutoff rides a broadcast (BNL against a 1-row
    aggregate), and NOT EXISTS compiles to LeftAnti with the priority
    filter pushed to the orders scan."""
    plan = _plan(spark, "idle_high_balance_customers")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan


def test_bpe_pair_counts_vocab_sized_explode_take_ordered(spark):
    """The pair explode must run over the AGGREGATED vocabulary (an
    aggregate sits below the explode-side generator), and top-K must be
    TakeOrderedAndProject — never a global sort of the pair table."""
    plan = _plan(spark, "corpus_bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert "Generate" in plan and "HashAggregate" in plan
    # generator input is the vocab agg, not the raw scan: the plan has
    # two aggregation phases below the generate (token count partial+
    # final) — assert the explode doesn't read text directly.
    gen_frag = plan[plan.index("Generate"):]
    assert "text" not in gen_frag.split("ReadSchema")[0].split("\n")[0]


def test_melt_single_expand_pruned_scan(spark):
    """UNPIVOT must compile to ONE Expand over ONE pruned scan — not a
    per-measure UNION of scans — and the scan must drop the unused key
    columns."""
    plan = _plan(spark, "lineitem_measure_melt")
    assert "Expand" in plan and "Union" not in plan
    read = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_integrity_audit_anti_joins_keys_only(spark):
    """Each FK check is an anti-join over keys-only scans: the child
    scans must prune to the key column (no payload columns read)."""
    plan = _plan(spark, "referential_integrity_audit")
    assert plan.count("LeftAnti") >= 3
    for frag in plan.split("ReadSchema")[1:]:
        read = frag.splitlines()[0]
        assert "o_totalprice" not in read and "l_extendedprice" not in read


def test_aqe_splits_skewed_join_partitions(spark):
    """Skew evidence: with one hot key dominating the fact side, AQE's
    skew-join optimization must split the oversized partition (the
    final plan marks the sort-merge join skew=true). Thresholds are
    lowered for test scale and restored after; the session ships with
    skew handling ON (session.py)."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        hot = spark.range(200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        )
        tail = spark.range(1_000).select(
            (F.col("id") % 97 + 100).alias("k"),
            F.col("id").alias("payload"),
        )
        fact = hot.unionByName(tail)
        dim = spark.range(300).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        joined = fact.join(dim, "k")
        joined.collect()  # AQE finalizes the plan at execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        # Caveat worth pinning: a downstream aggregation keyed on the
        # join key makes AQE SKIP the split (splitting would break the
        # agg's required hash distribution unless
        # forceOptimizeSkewedJoin re-shuffles) — skew relief applies to
        # the join's OWN output, so hot-key aggregations still need
        # salted_agg (plans/layout.py).
        agg = fact.join(dim, "k").groupBy("k").count()
        agg.collect()
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in agg_plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_bucketed_join_no_exchange_below_merge_join(spark):
    """The prepared bucketed layout must carry the fact⋈fact join: both
    scans read bucketed tables and NO Exchange appears below the
    SortMergeJoin (the only exchange is the post-join groupBy's). This
    is the physical plan the one-time layout write buys at 100 TB."""
    plan = _plan(spark, "bucketed_priority_revenue")
    assert "SortMergeJoin" in plan
    join_subtree = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree
    assert join_subtree.count("Bucketed: true") == 2


def test_partitioned_scan_prunes_date_partitions(spark):
    """partitioned_events_week must resolve its date range against
    partition directories (PartitionFilters on the scan), reading 7 of
    the ~30 day partitions — the planning-time pruning the partitioned
    layout exists for."""
    from mknssh_11_bigdata_spark.queries import QUERIES
    from mknssh_11_bigdata_spark.queries_events import (
        _partitioned_events_path,
    )

    df = QUERIES["partitioned_events_week"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    pf = scan[scan.index("PartitionFilters"):].split("]", 1)[0]
    assert "event_date" in pf, pf
    # planning-time file pruning: the selected partitions are a strict
    # subset of the layout
    import pathlib

    root = pathlib.Path(_partitioned_events_path(spark, SF_SMOKE))
    n_parts = len(list(root.glob("event_date=*")))
    assert n_parts > 7  # the layout has ~30 day partitions
    from pyspark.sql import functions as F

    read = spark.read.parquet(str(root)).filter(
        "event_date >= DATE'2024-01-08' AND event_date < DATE'2024-01-15'"
    )
    files = read.select(
        F.input_file_name().alias("f")
    ).distinct().collect()
    dates = {f.f.split("event_date=")[1].split("/")[0] for f in files}
    assert len(dates) == 7, sorted(dates)


def test_weekend_dpp_dynamic_partition_filter(spark):
    """weekend_events_dpp must carry a dynamicpruningexpression in the
    fact scan's PartitionFilters — the dim's broadcast enumerates the
    weekend partitions before the fact is read."""
    plan = _plan(spark, "weekend_events_dpp")
    scan = plan[plan.index("FileScan"):]
    pf = scan[scan.index("PartitionFilters"):].split("]", 1)[0]
    assert "dynamicpruning" in pf, pf
    assert "event_date" in pf, pf


def _shuffles(plan: str) -> int:
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def _fact_scans(plan: str, table: str) -> int:
    return sum(
        1
        for line in plan.splitlines()
        if "Scan parquet" in line and table in line
    )


def test_q17_window_variant_single_fact_scan(spark):
    """The two registered Q17 physical strategies must actually differ
    the way their docstrings claim. The classic decorrelation
    (small_quantity_revenue) reads lineitem TWICE — once as the fact,
    once to build the per-part mean over EVERY part (at demo scale the
    optimizer broadcasts that aggregate; at 100 TB it cannot, and the
    rejoin becomes a second fact-sized exchange). The window variant
    (small_quantity_brand_revenue) reads lineitem ONCE, shrinks it
    ~25x via the broadcast brand semi-join, and its only hash exchange
    carries the shrunk fact into the partkey window."""
    classic = _plan(spark, "small_quantity_revenue")
    window = _plan(spark, "small_quantity_brand_revenue")
    assert _fact_scans(classic, "lineitem") == 2
    assert _fact_scans(window, "lineitem") == 1
    assert "LeftSemi" in window and "Window" in window
    assert _shuffles(window) == 1


def test_q4_correlated_predicate_rides_semi_join(spark):
    """The cross-table lateness inequality cannot push to either scan —
    it must appear inside the LeftSemi join condition. The quarter
    filter, by contrast, must reach the orders parquet scan."""
    plan = _plan(spark, "late_shipment_priority_counts")
    assert "LeftSemi" in plan
    semi = plan[plan.index("LeftSemi"):].splitlines()[0]
    assert "l_shipdate" in semi and "o_orderdate" in semi
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q12_single_fact_scan_dual_case_sum(spark):
    """Q12's split must be one aggregation over one join — no Union of
    per-class scans, exactly one lineitem scan."""
    plan = _plan(spark, "shipping_delay_priority_split")
    assert "Union" not in plan
    assert plan.count("lineitem") <= plan.count("Scan parquet") * 1  # sanity
    assert sum(
        1 for line in plan.splitlines() if "Scan parquet" in line and "lineitem" in line
    ) == 1


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """Optimizer pillar #4 (after static pruning, DPP, bucketing):
    runtime bloom-filter join pruning. The session enables it by
    default, but its application-side threshold (10 GB scan) only
    fires at real scale — exactly the 100 TB case, where the filtered
    dim's bloom filter prunes fact rows BEFORE the shuffle. Pin the
    mechanism by dropping the thresholds at demo scale: a selective
    dim filter on a non-broadcast join must plant `might_contain` on
    the fact side."""
    from pyspark.sql import functions as F

    # sf0.01, not SF_SMOKE: the injection rule compares side sizes, and
    # at sf0.001 the fact side is too small to clear the heuristic even
    # with the scan-size threshold dropped to zero.
    sf = "/root/testdata/sf0.01"

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "0")
        spark.conf.set(keys[1], "-1")
        spark.conf.set(keys[2], "-1")
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_label_propagation_round1_never_forces_broadcast(spark):
    """VERDICT r4 #2: the propagation loop must not force-broadcast an
    unmeasured frontier — round 1's frontier is the ENTIRE label set
    (billions of rows at crawl scale). With AQE's size-based broadcast
    disabled, the unforced superstep plan must contain no
    BroadcastExchange, while the forced (measured-small) path must —
    proving the guard, not the optimizer, controls the hint."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.operators.dedup import (
        _superstep_candidates,
    )

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    conf = spark.conf
    try:
        conf.set(keys[0], "-1")
        conf.set(keys[1], "-1")
        edges = spark.range(1000).select(
            (F.col("id") % 100).alias("src"),
            ((F.col("id") + 1) % 100).alias("dst"),
        )
        frontier = spark.range(100).select(
            F.col("id").alias("node"), F.col("id").alias("lbl")
        )
        plain = _superstep_candidates(edges, frontier, force_broadcast=False)
        forced = _superstep_candidates(edges, frontier, force_broadcast=True)
        plain_str = plain._jdf.queryExecution().executedPlan().toString()
        forced_str = forced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plain_str
        assert "BroadcastExchange" in forced_str
        # both arms compute identical candidates
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, forced.collect())
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_broadcast_if_small_guard_controls_hint(spark):
    """VERDICT r5 #1: the split-family component-map joins must not
    force-broadcast an unmeasured frame — dup members run 30-50% of a
    boilerplate-heavy crawl, so the map can be corpus-scale. With AQE's
    size-based broadcast disabled, a join against
    ``broadcast_if_small`` output must contain no BroadcastExchange
    when the measured count exceeds the threshold, and must when it
    fits — proving the guard, not the optimizer, controls the hint."""
    from pyspark.sql import functions as F

    from mknssh_11_bigdata_spark.plans.layout import broadcast_if_small

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    conf = spark.conf
    try:
        conf.set(keys[0], "-1")
        conf.set(keys[1], "-1")
        corpus = spark.range(500).select(F.col("id").alias("doc_id"))
        comp = spark.range(100).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7).alias("component"),
        )
        over = corpus.join(
            broadcast_if_small(comp, threshold=10), "doc_id", "left"
        )
        under = corpus.join(
            broadcast_if_small(comp, threshold=1_000), "doc_id", "left"
        )
        over_str = over._jdf.queryExecution().executedPlan().toString()
        under_str = under._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in over_str
        assert "BroadcastExchange" in under_str
        # both arms compute identical assignments
        assert sorted(map(tuple, over.collect())) == sorted(
            map(tuple, under.collect())
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_split_queries_carry_no_unconditional_component_broadcast():
    """Source-level pin for VERDICT r5 #1: the three split queries, the
    keep-list/pipeline anti-joins, the consensus winner join, and the
    reusable assignment helper must route their component-map hints
    through the measured-count guard, never a bare ``F.broadcast``."""
    import inspect

    from mknssh_11_bigdata_spark import (
        queries_analytics,
        queries_curation,
        queries_llm,
    )
    from mknssh_11_bigdata_spark.operators import dedup

    for fn in [
        queries_llm.leakage_safe_split_assignments,
        queries_llm.dedup_semantic_leakage_split,
        queries_llm.dedup_keep_list,
        queries_curation.curation_leakage_split,
        queries_curation.corpus_curation_pipeline,
        queries_curation.embedding_label_outliers,
        queries_analytics.dedup_component_label_consensus,
        dedup.leakage_safe_assignments,
        dedup.component_groups,
    ]:
        src = inspect.getsource(fn)
        assert "F.broadcast(" not in src, fn.__name__
        # component_groups is the one guarded component-map join
        assert "broadcast_if_small(" in src or "component_groups(" in src, (
            fn.__name__
        )


def test_bloom_membership_probe_is_map_side(spark):
    """Round 6: the bloom query's corpus probe must be a map-shaped
    pass — the corpus scan feeds a BroadcastNestedLoopJoin against the
    ONE-ROW bitmap frame with NO shuffle exchange between the documents
    scan and the probe (the whole point of the bitmap: no corpus-side
    state, no join shuffle). The only exchanges in the plan belong to
    the eval-sliver build and the final per-source agg."""
    from mknssh_11_bigdata_spark.queries import QUERIES

    df = QUERIES["dedup_bloom_membership"].spark(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the probe-side corpus scan (filter doc_id % 97 <> 7) must sit
    # under the BNLJ with no Exchange in between: find the BNLJ block
    # and check its left subtree up to the FileScan has no Exchange
    lines = plan.splitlines()
    bnlj = next(
        i for i, ln in enumerate(lines) if "BroadcastNestedLoopJoin" in ln
    )
    probe_side = []
    for ln in lines[bnlj + 1 :]:
        probe_side.append(ln)
        if "Scan parquet" in ln and "text" in ln:
            break
        if "BroadcastExchange" in ln:
            # reached the build side without a probe scan first
            break
    probe_txt = "\n".join(probe_side)
    assert "Scan parquet" in probe_txt
    assert "Exchange hashpartitioning" not in probe_txt
    assert "Exchange rangepartitioning" not in probe_txt


def test_heavy_hitters_rescore_join_is_broadcast(spark):
    """Round 6: the exact-rescore pass must reach the corpus scan via a
    BROADCAST semi-join on the sketch candidates (a shuffled semi-join
    would reintroduce the corpus-scale token shuffle the sketch
    architecture exists to remove)."""
    from mknssh_11_bigdata_spark.queries import QUERIES

    df = QUERIES["corpus_heavy_hitters"].spark(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the MG stage is the single declared Arrow stage
    assert plan.count("MapInPandas") == 1


def test_q2_min_decorrelates_as_partitioned_window(spark):
    """Q2 shape: the correlated per-part MIN must decorrelate — ONE
    lineitem scan feeding a partkey-PARTITIONED window (never a second
    fact scan or per-part re-scan), the part sliver arriving as a
    LeftSemi prune before any shuffle, and the deterministic top-N
    compiling to TakeOrderedAndProject."""
    plan = _plan(spark, "min_cost_region_supplier")
    assert _fact_scans(plan, "lineitem") == 1
    assert "LeftSemi" in plan
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q11_global_scalar_rides_one_row_broadcast(spark):
    """Q11 shape: the HAVING-against-global-share scalar must be a
    one-row broadcast (BroadcastNestedLoopJoin) against the SAME
    materialized per-part frame — the localCheckpoint means the plan
    contains NO second lineitem scan (the rollup lineage is not
    re-derived for the total)."""
    plan = _plan(spark, "part_value_concentration")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert _fact_scans(plan, "lineitem") == 0  # checkpointed rollup


def test_q20_semi_join_chain_stacked_no_distinct(spark):
    """Q20 shape: both IN levels must compile to LeftSemi joins —
    stacked, over exactly ONE date-pruned lineitem scan — and the
    supplier-key set must ride the semi-join itself (no separate
    HashAggregate-for-distinct between the pair filter and the
    supplier join)."""
    plan = _plan(spark, "red_part_active_suppliers")
    assert plan.count("LeftSemi") >= 2
    assert _fact_scans(plan, "lineitem") == 1
    assert "CartesianProduct" not in plan
    # the date range must reach the fact scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q2_variants_window_vs_rejoin(spark):
    """The two registered Q2 strategies must actually differ the way
    their docstrings claim: the default decorrelates the per-part min
    as a partitioned Window; the rejoin twin carries NO Window — its
    min is a separate aggregate joined back (equi-join family, never
    a cartesian), reading the ONE checkpointed offers frame. The
    rejoin plan string only shows the POST-checkpoint half (the
    offers lineage compiles to a Scan ExistingRDD); the shared
    pre-checkpoint subtree is the SAME ``_q2_region_offers`` call the
    window variant runs uncheckpointed, so the window test's
    full-lineage assertions (1 fact scan, LeftSemi, no cartesian)
    certify it for both twins."""
    window = _plan(spark, "min_cost_region_supplier")
    rejoin = _plan(spark, "min_cost_region_supplier_rejoin")
    assert "Window" in window
    assert "Window" not in rejoin
    assert "CartesianProduct" not in rejoin
    assert "TakeOrderedAndProject" in rejoin


def test_pq_topk_broadcasts_query_side_and_scan_shapes(spark):
    """Round 8: PQ ANN must broadcast the (small) query+LUT side over
    the encoded corpus — encode is a map-only projection against the
    literal codebooks (no join), so the only join in the scoring scan
    is the broadcast pair-scan and the only shuffle the per-query
    rank."""
    plan = _plan(spark, "embedding_topk_pq")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ivf_pq_probe_is_broadcast_equi_join(spark):
    """Round 8: IVF-PQ's probe must be a broadcast equi-join on the
    cell id (queries x n_probe rows on the build side) — never a
    cartesian pair scan; corpus-side encode stays a map projection."""
    plan = _plan(spark, "embedding_topk_ivf_pq")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_hll_sliding_merges_buckets_not_rescans(spark):
    """Round 8: the sliding-HLL query's window merge must operate on
    the (day x 64) register frame — the events fact table appears in
    the executed plan exactly twice (sketch-arm scan + the exact-audit
    arm), NOT once per window; the observed-day joins ride broadcasts
    of the sliver day set; no cartesian anywhere."""
    plan = _plan(spark, "event_hll_sliding_distinct")
    assert plan.count("events.parquet") <= 2, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmv_overlap_scans_once_via_checkpoint(spark):
    """Round 8: the overlap query's shared distinct (type, user)
    substrate must be checkpointed — without it the sketch arm and
    both exact-audit arms re-scan and re-distinct the fact table
    (measured: 6 parquet scans); with it the executed plan reads
    cached blocks (0 scans). The pair spine's inequality join rides
    type-cardinality slivers, never data (no cartesian)."""
    plan = _plan(spark, "event_kmv_type_overlap")
    assert "events.parquet" not in plan, plan
    assert "CartesianProduct" not in plan


def test_sliding_quantiles_merges_day_samples_not_rescans(spark):
    """Round 8: the sliding-quantile sketch arm must ride the
    (day x k) sample state — exactly TWO fact scans in the executed
    plan (sketch-arm bucket build + the exact-audit window explode;
    the observed-day set derives from state, and the audit's n_rows
    rides a count window over the rank's partitioning instead of a
    groupBy+rejoin second scan); no cartesian."""
    plan = _plan(spark, "event_value_sliding_quantiles")
    assert plan.count("events.parquet") <= 2, plan
    assert "CartesianProduct" not in plan


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM: every cache miss of Spark's
    compiled-code cache, whole-stage and expression code alike."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_round_of_many_plans_compiles_nothing(spark):
    """A second run of the same plan shapes reuses their compiled code,
    also when one round has more distinct sources than Spark's default
    100-entry cache holds (it evicted each source before its next use,
    and a small_jobs bench pass recompiled 177 of them). Each plan here
    compiles two sources, 120 in all."""
    plans = [spark.range(8).selectExpr(f"id * {i} + 7919 AS x")
             for i in range(2, 62)]
    for df in plans:
        _noop(df)
    c0 = _compiles(spark)
    for df in plans:
        _noop(df)
    assert _compiles(spark) - c0 == 0


def test_same_stage_under_another_codegen_id_compiles_once(spark):
    """A stage's source must not depend on the codegen stage id the
    plan gives it: the same aggregate, planned on its own (ids from 1)
    and then as a union's second branch (ids after the first branch's),
    compiles once."""
    from pyspark.sql import functions as F

    def agg(mod):
        return (spark.range(64).groupBy((F.col("id") % mod).alias("k"))
                .agg(F.sum("id").alias("s")))

    first, second = agg(7877), agg(7879)
    _noop(first)
    _noop(second)
    c0 = _compiles(spark)
    _noop(first.unionByName(second))
    assert _compiles(spark) - c0 == 0
