"""Physical-plan regression tests — the 100 TB properties the catalog
docstrings promise, asserted against ``explain`` output so they can't
silently rot:

* predicate pushdown reaches the parquet scan (PushedFilters)
* column pruning reaches the scan (ReadSchema)
* bounded dims broadcast; fact tables never force-broadcast
* expression-tier extraction stays a single stage (no Exchange)
* top-1 uses TakeOrderedAndProject, not a global sort
"""

from __future__ import annotations

from real_estate_etl_dev_spark.plans.catalog import CATALOG


def plan_of(spark, sf_dir, name: str) -> str:
    df = CATALOG[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(spark, sf_dir, name: str) -> str:
    df = CATALOG[name].fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = formatted(spark, sf_dir, "filtered_error_count")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)" in plan


def test_column_pruning(spark, sf_dir):
    plan = formatted(spark, sf_dir, "monthly_order_counts")
    # only the date column is read from a 6-column table
    assert "o_orderdate" in plan.split("ReadSchema")[1][:120]
    assert "o_totalprice" not in plan.split("ReadSchema")[1][:120]


def test_dim_broadcast_fact_not_forced(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan  # nation broadcast
    # the customer join is left to AQE/auto thresholds — no forced
    # broadcast hint of an SF-scaling table in the logical plan
    logical = (
        CATALOG["revenue_by_nation"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .logical()
        .toString()
    )
    assert logical.count("ResolvedHint") <= 1


def test_extraction_is_single_stage(spark, sf_dir):
    # scan → project → sort; the only Exchange allowed is the
    # output sort's range partitioning
    plan = plan_of(spark, sf_dir, "price_extraction_cases")
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" in plan


def test_keyset_page_pushes_seek_predicate(spark, sf_dir):
    plan = formatted(spark, sf_dir, "orders_keyset_page")
    assert "PushedFilters" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:200]


def test_offset_page_window_consumes_takeordered_slice(spark, sf_dir):
    """orders_page3_by_price: the rn<=150 filter must push through the
    global row_number (LimitPushDownThroughWindow) so the window's
    input is a TakeOrderedAndProject(150) — per-partition heaps — and
    the plan needs NO SinglePartition exchange.  This is the documented
    reason the query sits on the global-window allowlist."""
    plan = plan_of(spark, sf_dir, "orders_page3_by_price")
    assert "TakeOrderedAndProject(limit=150" in plan
    assert "SinglePartition" not in plan
    # and the window really does sit ABOVE the bounded slice
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_top1_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top1_order_by_price")
    assert "TakeOrderedAndProject" in plan


def test_merge_is_one_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "merge_scd1")
    # exactly one join materializes the merge (full outer)
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1


def test_no_python_udf_in_expression_tier(spark, sf_dir):
    for name in [
        "price_extraction_cases",
        "property_type_cases",
        "size_extraction_cases",
        "date_url_cases",
        "availability_text_cases",
        "geo_extraction_cases",
        "merge_scd1",
        "dq_identify_issues",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_asof_join_single_keyed_shuffle(spark, sf_dir):
    # union → ONE hash exchange on user_id for the carry-forward
    # window (plus the output sort's range partitioning); no join
    # operator at all — the whole as-of is window-based.
    plan = plan_of(spark, sf_dir, "asof_error_click")
    assert plan.count("hashpartitioning") >= 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" in plan


def test_rolling_window_aggregates_before_global_sort(spark, sf_dir):
    # the RANGE window must consume the DAILY aggregate (bounded
    # rows), never the raw fact table: HashAggregate appears below
    # the Window in the plan tree.
    plan = plan_of(spark, sf_dir, "rolling_7d_revenue")
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate")  # Window atop agg


def test_session_window_is_partitioned_not_global(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "event_sessions")
    # the session window partitions by user_id — no global
    # single-partition window (SinglePartition exchange) anywhere
    assert "user_id" in plan.split("Window")[0] or "user_id" in plan
    assert "SinglePartition" not in plan.split("Window")[0]


def test_misc_battery_prunes_and_stays_arrow(spark, sf_dir):
    # the misc scalar battery reads ONLY the key column of orders and
    # keeps Python confined to Arrow-batched eval (the html UDF)
    plan = formatted(spark, sf_dir, "misc_extraction_cases")
    assert "struct<o_orderkey:bigint>" in plan.split("ReadSchema")[1][:60]
    raw = plan_of(spark, sf_dir, "misc_extraction_cases")
    assert "BatchEvalPython" not in raw
    assert raw.count("Exchange") == 1 and "rangepartitioning" in raw


def test_recall_gate_broadcasts_injected_side(spark, sf_dir):
    # the planted-pair frame is tiny by construction (|docs|/7 rows) —
    # it must broadcast, never shuffle the candidate-pair side on it
    plan = plan_of(spark, sf_dir, "dedup_minhash_pairs")
    assert "BroadcastHashJoin" in plan


def test_ann_gate_broadcasts_query_side(spark, sf_dir):
    # 8 query vectors join the corpus via broadcast on both ANN paths
    for name in ["embedding_ann_lsh", "embedding_ann_ivf"]:
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


def _top_level_bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` group contents of an operator line's argument
    tail (nested brackets inside expressions don't split)."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def global_window_lines(plan: str) -> list[str]:
    """Return the ``Window``/``WindowInPandas`` operator lines whose
    partition spec is EMPTY — the true single-partition windows.

    Spark prints the operator as ``Window [exprs], [partSpec],
    [orderSpec]`` with empty specs OMITTED: partitioned+ordered → 3
    top-level groups, partition-only → 2 (second group is bare column
    refs), global-ordered → 2 (second group carries ``ASC``/``DESC``
    sort directions), global-unordered → 1.  Matching the operator
    line directly — instead of ANDing whole-plan substrings — means an
    unrelated ``Exchange SinglePartition`` elsewhere in the tree (e.g.
    a 1-row scalar aggregate) can't masquerade as a global window, the
    r07 false positive.
    """
    hits = []
    for raw in plan.splitlines():
        ln = raw.lstrip(" +-:*()0123456789")
        for op in ("Window ", "WindowInPandas "):
            if ln.startswith(op):
                groups = _top_level_bracket_groups(ln[len(op):])
                if len(groups) >= 3:
                    continue  # [exprs], [partSpec], [orderSpec]
                if len(groups) == 2 and not (
                    " ASC" in groups[1] or " DESC" in groups[1]
                ):
                    continue  # [exprs], [partSpec] — unordered frame
                hits.append(raw.strip())
    return hits


def test_global_window_detector_distinguishes_specs(spark, sf_dir):
    """Pin the detector itself: a deliberately global window is caught,
    a partitioned one is not — even with an unrelated SinglePartition
    exchange (1-row scalar agg crossJoin) in the same plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    df = spark.range(100).withColumn("k", F.col("id") % 7)
    scalar = df.agg(F.max("id").alias("_mx"))  # 1-row, SinglePartition agg

    part = (
        df.withColumn("r", F.row_number().over(W.partitionBy("k").orderBy("id")))
        .crossJoin(F.broadcast(scalar))
    )
    plan_part = part._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in plan_part  # the scalar agg's exchange IS there
    assert global_window_lines(plan_part) == []

    part_noord = df.withColumn("s", F.sum("id").over(W.partitionBy("k")))
    assert global_window_lines(
        part_noord._jdf.queryExecution().executedPlan().toString()
    ) == []

    glob = df.withColumn("r", F.row_number().over(W.orderBy("id")))
    plan_glob = glob._jdf.queryExecution().executedPlan().toString()
    assert len(global_window_lines(plan_glob)) == 1

    glob_noord = df.withColumn("s", F.sum("id").over(W.partitionBy()))
    assert len(global_window_lines(
        glob_noord._jdf.queryExecution().executedPlan().toString()
    )) == 1


def test_catalog_wide_plan_invariants(spark, sf_dir):
    """Global physical-plan regression net over EVERY catalog query:

    * no CartesianProduct anywhere (the hll crossJoin is 1-row×1-row
      and plans as BroadcastNestedLoopJoin, which is fine there);
    * no BatchEvalPython — row-at-a-time Python UDFs are banned from
      all plans (Arrow paths show as ArrowEvalPython/MapInPandas);
    * no global (empty-partition-spec) Window operator except the
      documented bounded-input exceptions.  Detection parses the
      ``Window`` operator lines themselves (see global_window_lines) —
      a SinglePartition exchange belonging to some unrelated 1-row
      scalar aggregate in the same plan does not trip it.
    """
    allowed_single_partition_window = {
        "rolling_7d_revenue",
        # global rank over a 100-row TakeOrdered slice, not the corpus
        "corpus_shuffle_order",
        # cumulative sum over ≤10 aggregated bucket rows
        "price_histogram",
        # rank-limit pushdown (LimitPushDownThroughWindow) rewrites the
        # rn<=150 global row_number into TakeOrderedAndProject(150) —
        # the window consumes 150 rows, no SinglePartition exchange
        # exists in the plan (asserted by the dedicated test below)
        "orders_page3_by_price",
    }
    offenders = {"cartesian": [], "py_udf": [], "global_window": []}
    for name, q in CATALOG.items():
        plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders["cartesian"].append(name)
        if "BatchEvalPython" in plan:
            offenders["py_udf"].append(name)
        if (
            global_window_lines(plan)
            and name not in allowed_single_partition_window
        ):
            offenders["global_window"].append(name)
    assert offenders == {"cartesian": [], "py_udf": [], "global_window": []}, offenders


def test_pack_rollup_reuses_window_partitioning(spark, sf_dir):
    """doc_pack_assignments: the (lang, shard, pack_id) rollup must NOT
    re-shuffle — HashPartitioning(lang, shard) from the packing window
    already co-locates every rollup key (subset partitioning satisfies
    the clustered distribution).  One data exchange + the final
    order-by's range exchange, nothing else."""
    plan = formatted(spark, sf_dir, "doc_pack_assignments")
    detail = plan.split("== Physical Plan ==")[-1]
    hash_ex = [
        ln for ln in detail.splitlines()
        if "Arguments: hashpartitioning" in ln
    ]
    assert len(hash_ex) == 1, hash_ex
    assert "lang" in hash_ex[0] and "shard" in hash_ex[0]
    assert "pack_id" not in hash_ex[0]


def test_incremental_dedup_collapses_corpus_before_join(spark, sf_dir):
    """dedup_incremental_against_corpus: the corpus side must reach the
    join as DISTINCT hashes (aggregate below the join), so join state
    is |unique texts|; at this SF AQE turns it into a broadcast join."""
    plan = plan_of(spark, sf_dir, "dedup_incremental_against_corpus")
    assert "HashAggregate" in plan  # the distinct, present below the join
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bucketed_merge_eliminates_exchanges(spark, sf_dir):
    """operators/layout.py's core promise, proven not just asserted:
    the SCD-1 merge over two bucketBy(url) tables plans with ZERO
    Exchange nodes (both scans expose the bucket hash partitioning),
    while the identical merge over unbucketed frames shuffles both
    sides.  merge_bucketed_scd1 re-asserts this inside the certified
    query; this test pins the control comparison."""
    from real_estate_etl_dev_spark.operators.layout import (
        bucketed_merge_ready,
        write_bucketed,
    )
    from real_estate_etl_dev_spark.operators.merge import merge_listings
    from real_estate_etl_dev_spark.plans.merging import (
        current_fixture,
        staging_fixture,
    )

    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("t_planshape_cur_bkt", "t_planshape_stg_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    write_bucketed(
        current_fixture(spark, sf_dir).repartition(1),
        "t_planshape_cur_bkt", n_buckets=8, sort_col="url",
    )
    write_bucketed(
        staging_fixture(spark, sf_dir).repartition(1),
        "t_planshape_stg_bkt", n_buckets=8, sort_col="url",
    )
    cur, stg = bucketed_merge_ready(
        spark, "t_planshape_cur_bkt", "t_planshape_stg_bkt"
    )
    bucketed = merge_listings(cur, stg)
    plan_b = bucketed._jdf.queryExecution().executedPlan().toString()
    assert plan_b.count("Exchange") == 0, plan_b

    control = merge_listings(
        current_fixture(spark, sf_dir), staging_fixture(spark, sf_dir)
    )
    plan_c = control._jdf.queryExecution().executedPlan().toString()
    assert plan_c.count("Exchange") >= 2  # both sides shuffle unbucketed


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """doc_decontaminate: the eval side must collapse to distinct
    grams and BROADCAST into a left-semi probe — the corpus-side
    exploded grams must never be sort-merge-shuffled on the gram key
    (that exchange is the 100 TB killer: |corpus| × ~|words| rows)."""
    plan = plan_of(spark, sf_dir, "doc_decontaminate")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    for ln in plan.splitlines():
        if "SortMergeJoin" in ln:
            assert "[g" not in ln, f"gram probe shuffled: {ln}"


def test_mixture_sample_broadcasts_rate_frame(spark, sf_dir):
    """domain_mixture_sample: the per-domain rate frame (|domains|
    rows) broadcasts back onto the corpus; the corpus itself is never
    repartitioned for the sampling filter."""
    plan = plan_of(spark, sf_dir, "domain_mixture_sample")
    assert "BroadcastHashJoin" in plan


def test_tpch_shapes_take_ordered_and_push_filters(spark, sf_dir):
    """The two TPC-H composites must plan as their docstrings promise:
    every date/flag/segment predicate reaches its scan, top-N is a
    TakeOrderedAndProject (per-partition heaps), and no fact table is
    force-broadcast (only the 25-row nation carries a hint)."""
    for name in ("shipping_priority_topn", "returned_item_losses"):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Python" not in plan, name
        fmt = formatted(spark, sf_dir, name)
        # each scan that carries a filter shows it pushed
        assert "PushedFilters: [IsNotNull(o_orderdate)" in fmt, name
    fmt3 = formatted(spark, sf_dir, "shipping_priority_topn")
    assert "EqualTo(c_mktsegment,BUILDING)" in fmt3
    assert "IsNotNull(l_shipdate)" in fmt3
    fmt10 = formatted(spark, sf_dir, "returned_item_losses")
    assert "EqualTo(l_returnflag,R)" in fmt10
    logical = (
        CATALOG["returned_item_losses"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .logical()
        .toString()
    )
    assert logical.count("ResolvedHint") <= 1  # nation only


def test_zorder_audit_is_codegen_only(spark, sf_dir):
    """The Morton key must stay whole-stage codegen: no Python worker,
    no join, and only the bounded bucket agg + output sort exchanges."""
    plan = plan_of(spark, sf_dir, "zorder_bucket_stats")
    assert "Python" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 2  # bucket hash-agg + orderBy range


def test_cms_build_is_mapside_and_probe_broadcasts(spark, sf_dir):
    """The CMS heavy-hitter plan must stay JVM-native (no Python
    worker), probe the ≤ d·w cell table via BroadcastHashJoin, and
    never sort-merge anything."""
    plan = plan_of(spark, sf_dir, "cms_heavy_hitters_users")
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_grouping_sets_is_one_scan_expand(spark, sf_dir):
    """GROUPING SETS must plan as ONE fact scan + Expand + hash agg —
    not one scan per grain, and never a join/union of grains."""
    plan = plan_of(spark, sf_dir, "revenue_grouping_sets")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan and "Union" not in plan


def test_runtime_bloom_filter_fires_when_thresholds_met(spark, sf_dir):
    """The session enables runtime bloom-filter join pruning (off
    upstream by default); its size thresholds make it a no-op at test
    SFs.  Lower the thresholds and a selective dim filter must inject
    might_contain(bloom(key)) into the FACT side before its shuffle —
    the 100 TB shuffle-volume win the session conf exists for."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep a shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        # and the filter sits on the fact (lineitem) side
        fact_side = plan[plan.index("might_contain"):]
        assert "l_orderkey" in fact_side[:400]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_new_tpch_shapes_plan_as_documented(spark, sf_dir):
    """Q4/Q12/Q14/Q18/intersect shapes (plans/tpch_shapes.py): EXISTS
    compiles to a semi join, the ratio query broadcasts its dimension,
    Q18 aggregates lineitem BEFORE any join, and the intersect
    collapses both sides before the set op."""
    q4 = plan_of(spark, sf_dir, "order_priority_exists_counts")
    assert "LeftSemi" in q4
    fmt4 = formatted(spark, sf_dir, "order_priority_exists_counts")
    assert "EqualTo(l_returnflag,R)" in fmt4  # probe filter pushed to scan
    assert "IsNotNull(o_orderdate)" in fmt4

    q12 = plan_of(spark, sf_dir, "returnflag_priority_classes")
    assert q12.count("Join") >= 1 and "Python" not in q12
    fmt12 = formatted(spark, sf_dir, "returnflag_priority_classes")
    assert "IsNotNull(l_shipdate)" in fmt12  # year filter pushed

    q14 = plan_of(spark, sf_dir, "promo_revenue_ratio")
    assert "BroadcastHashJoin" in q14  # part side broadcasts

    # Q18: the first (and only fact-sized) aggregate must sit BELOW the
    # first join — lineitem collapses to per-order sums pre-join.
    q18 = plan_of(spark, sf_dir, "large_volume_customers")
    first_join = q18.find("Join")
    assert first_join >= 0
    assert "HashAggregate" in q18[first_join:], q18

    qi = plan_of(spark, sf_dir, "trade_ready_nations_intersect")
    assert "LeftSemi" in qi  # intersect = distinct + semi join
    fmti = formatted(spark, sf_dir, "trade_ready_nations_intersect")
    assert "EqualTo(c_mktsegment,BUILDING)" in fmti


def test_ngram_coverage_is_udf_free_single_gram_shuffle(spark, sf_dir):
    """dedup_ngram_coverage: the 4-token window slide is codegen
    (transform+posexplode, no Python anywhere), duplicated grams come
    back as a semi join, and top-100 is a TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "dedup_ngram_coverage")
    assert "Python" not in plan
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_mad_outliers_one_scan_one_shuffle(spark, sf_dir):
    """price_mad_outliers: every window partitions on the group key and
    the scalars propagate via unbounded-frame window max — so the
    WHOLE query is one parquet scan and ONE hash exchange on
    o_orderpriority (plus the final 5-row ordering exchange), with no
    join of any kind."""
    import re

    plan = plan_of(spark, sf_dir, "price_mad_outliers")
    assert "Join" not in plan, plan
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(o_orderpriority", plan)
    assert len(hash_exchanges) == 1, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_funnel_stages_broadcast_and_shrink(spark, sf_dir):
    """event_funnel_counts: every inter-stage join is a broadcast of
    the previous (smaller) stage frame; no window, no sort of the
    event table, no cartesian."""
    plan = plan_of(spark, sf_dir, "event_funnel_counts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_retention_cohorts_single_user_shuffle(spark, sf_dir):
    """user_retention_cohorts: cohort assignment and distinct active
    weeks both hash-partition on user_id, so the join needs no extra
    fact-side exchange beyond those aggs."""
    import re

    plan = plan_of(spark, sf_dir, "user_retention_cohorts")
    user_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_exchanges) <= 2, plan
    assert "CartesianProduct" not in plan


def test_exact_corr_is_one_mapside_agg(spark, sf_dir):
    """price_qty_exact_corr: the five decimal moments are ONE
    partial→final hash aggregate over one scan — no join, no window,
    no second pass."""
    plan = plan_of(spark, sf_dir, "price_qty_exact_corr")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("FileScan parquet") == 1, plan


def test_partition_pruning_reads_one_year_of_files(spark, sf_dir):
    """Physical proof of partition pruning: the one-year filter reads
    strictly fewer files than the full partitioned table (one
    directory of seven), and the partition filter appears in the
    scan, not a post-scan Filter."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from real_estate_etl_dev_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="prune_test_")
    try:
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate"))
            .write.partitionBy("o_year")
            .mode("overwrite")
            .parquet(f"{workdir}/t")
        )
        full = spark.read.parquet(f"{workdir}/t")
        one = full.filter(F.col("o_year") == 1995)
        # input_file_name() names the files EXECUTION actually read —
        # (inputFiles() reports the pre-pruning listing, useless here)
        read_one = {
            r[0] for r in one.select(F.input_file_name()).distinct().collect()
        }
        read_full = {
            r[0] for r in full.select(F.input_file_name()).distinct().collect()
        }
        assert len(read_one) < len(read_full)
        assert {f.split("o_year=")[1].split("/")[0] for f in read_one} == {"1995"}
        fmt = one._sc._jvm.PythonSQLUtils.explainString(
            one._jdf.queryExecution(), "formatted"
        )
        assert "PartitionFilters" in fmt
        assert "o_year" in fmt.split("PartitionFilters")[1].split("]")[0]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_q5_broadcasts_dims_and_joins_conation_in_operator(spark, sf_dir):
    """local_supplier_volume: region/nation/supplier broadcast; the
    co-nation equality lives INSIDE the supplier join condition (no
    post-join Filter on nationkey equality), and the year filter is
    pushed to the orders scan."""
    plan = plan_of(spark, sf_dir, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    fmt = formatted(spark, sf_dir, "local_supplier_volume")
    assert "IsNotNull(o_orderdate)" in fmt
    assert "EqualTo(r_name,ASIA)" in fmt
    # co-nation predicate is a join key, not a residual filter row scan
    joins = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
    assert any("s_nationkey" in ln for ln in joins), joins


def test_lm_scoring_broadcasts_model_and_stays_jvm(spark, sf_dir):
    """doc_lm_cross_entropy: the unigram LM joins the per-doc counts by
    BROADCAST (the model is |vocab| rows, never shuffled against the
    corpus), the whole pipeline is codegen (no Python), and top-100 is
    a TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "doc_lm_cross_entropy")
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    assert "TakeOrderedAndProject" in plan


def test_salted_join_shuffles_on_salted_key(spark, sf_dir):
    """salted_skew_user_join: the join must be a two-sided SHUFFLE join
    (no broadcast — a broadcast join has no skew to fix) and both
    exchanges must hash-partition on (user_id, __salt), proving the
    hot key actually spreads."""
    plan = plan_of(spark, sf_dir, "salted_skew_user_join")
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "__salt" in plan
    salted_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "__salt" in ln
    ]
    assert len(salted_exchanges) >= 2, plan


def test_scd2_merge_is_one_join_plus_explode(spark, sf_dir):
    """merge_scd2_intervals: exactly ONE shuffled join materializes the
    merge (open slice vs updates), output intervals come from an
    inline explode (Generate), and there is no second join or window
    anywhere."""
    plan = plan_of(spark, sf_dir, "merge_scd2_intervals")
    n_joins = (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
    )
    assert n_joins == 1, plan
    assert "Generate explode" in plan
    assert "Window" not in plan


def test_setsim_prefix_no_allpairs_join(spark, sf_dir):
    """dedup_setsim_prefix: candidates must come from prefix-token
    EQUALITY (hash join), never an all-pairs product; the vocab
    frequency table broadcasts; verification is JVM array math (no
    Python)."""
    plan = plan_of(spark, sf_dir, "dedup_setsim_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan


def test_setsim_candidate_shuffle_is_hashed_and_positional(spark, sf_dir):
    """dedup_setsim_prefix's 100 TB posture, pinned in the plan: the
    candidate self-join key is xxhash64(ptok) (8-byte shuffle rows,
    r07), and the join condition carries the PPJoin positional bound
    (the exact-rational ceil-div rendered as FLOOR over the 197 = 97
    + 100 denominator) plus both rational length bounds — not the
    double-ceil form ADVICE r06 flagged."""
    plan = plan_of(spark, sf_dir, "dedup_setsim_prefix")
    assert "xxhash64(ptok" in plan
    assert "/ 197" in plan      # positional filter's ceil_div(97*(ma+mb), 197)
    assert "/ 100" in plan      # rational length bound ceil_div(97*m, 100)
    assert "CEIL" not in plan.upper().replace("CEILDIV", "")


def test_setsim_audit_shares_prefix_expansion_and_broadcasts_totals(spark, sf_dir):
    """setsim_bucket_audit measures the REAL expansion: same rational
    prefix bound in-plan, and its corpus-constant totals ride a 1-row
    BroadcastNestedLoopJoin, not a window over the expansion."""
    plan = plan_of(spark, sf_dir, "setsim_bucket_audit")
    assert "/ 100" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_setsim_hybrid_routes_and_stays_jvm(spark, sf_dir):
    """dedup_setsim_hybrid: no cartesian/Python anywhere; the hot-token
    table and the planted/offset scalars ride broadcasts; the cold
    tier's candidate shuffle carries the hashed prefix key exactly like
    the pure exact join (same helper, pinned here so the routing split
    can't silently fork the key encoding)."""
    plan = plan_of(spark, sf_dir, "dedup_setsim_hybrid")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan
    assert "xxhash64(ptok" in plan  # cold tier, 8-byte candidate keys


def test_ann_recall_cost_no_python_no_cartesian(spark, sf_dir):
    """embedding_ann_recall_cost: the whole 7-point sweep is JVM
    column math (decimal folds), query sides broadcast, and the only
    nested-loop join is the 1-row n_queries scalar combine."""
    plan = plan_of(spark, sf_dir, "embedding_ann_recall_cost")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q7_broadcasts_dims_and_pushes_shipdate(spark, sf_dir):
    """nation_trade_volume_q7: supplier/customer collapse behind the
    nation-pair filter and BROADCAST into the fact chain; the ship-date
    range reaches the lineitem scan."""
    plan = plan_of(spark, sf_dir, "nation_trade_volume_q7")
    assert plan.count("BroadcastHashJoin") >= 2
    fmt = formatted(spark, sf_dir, "nation_trade_volume_q7")
    assert "IsNotNull(l_shipdate)" in fmt
    assert "Python" not in plan


def test_q13_single_custkey_shuffle_and_pushed_exclusion(spark, sf_dir):
    """customer_order_distribution_q13: the exclusion predicate is
    pushed to the orders scan; the per-customer count REUSES the outer
    join's custkey partitioning (no third custkey exchange)."""
    import re

    plan = plan_of(spark, sf_dir, "customer_order_distribution_q13")
    fmt = formatted(spark, sf_dir, "customer_order_distribution_q13")
    assert "o_orderpriority" in fmt.split("PushedFilters")[1][:400]
    cust_exchanges = re.findall(
        r"Exchange hashpartitioning\((?:o_custkey|c_custkey)", plan
    )
    assert len(cust_exchanges) <= 2, plan


def test_text_audits_are_mapside_jvm(spark, sf_dir):
    """The r08 text-audit trio must stay JVM map-side shapes: no
    Python worker, no join of the corpus (pii/diversity have no join
    at all; zipf's only join is the tiny per-lang moment combine),
    no cartesian."""
    for name in ("doc_pii_scrub_audit", "corpus_ngram_diversity"):
        plan = plan_of(spark, sf_dir, name)
        assert "Python" not in plan, name
        assert "Join" not in plan, name
    zipf = plan_of(spark, sf_dir, "corpus_zipf_fit")
    assert "Python" not in zipf
    assert "CartesianProduct" not in zipf


def test_bloom_tier_broadcasts_bits_no_sortmerge(spark, sf_dir):
    """The bloom promise: the bit set is broadcast-sized by the
    CONSTANT m, so every bitpos probe must plan as a broadcast hash
    join — a SortMergeJoin would mean the filter itself is being
    shuffled, defeating the design."""
    for name in ("bloom_filter_fp_audit", "dedup_bloom_prefilter"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "Python" not in plan, name


def test_containment_blocks_on_gram_hash(spark, sf_dir):
    """doc_containment_pairs candidates must shuffle on the xxhash64'd
    first-gram key (the dedup_ngram_coverage discipline) and never
    fall back to an all-pairs join; the exact contains() verify runs
    on candidates only."""
    plan = plan_of(spark, sf_dir, "doc_containment_pairs")
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "Contains(" in plan or "contains(" in plan
    assert "Python" not in plan


def test_chunk_windows_is_mapside_single_generate(spark, sf_dir):
    """The chunker's only exchange is the output sort's range
    partitioning — a hashpartitioning exchange would mean the
    map-only promise rotted."""
    plan = plan_of(spark, sf_dir, "doc_chunk_windows")
    assert "Generate" in plan
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 2  # range partition + AQE reuse text
    assert "Python" not in plan


def test_q8_broadcasts_dims_and_pushes_all_filters(spark, sf_dir):
    """Q8's three scan-level predicates must reach their scans, and
    the dim sides must broadcast (the fixture plans every join
    broadcast; at scale AQE swaps the two fact-side ones)."""
    fmt = formatted(spark, sf_dir, "market_share_q8")
    assert "EqualTo(p_type,PROMO)" in fmt
    assert "EqualTo(r_name,ASIA)" in fmt
    assert "GreaterThanOrEqual(o_orderdate,1995-01-01" in fmt
    plan = plan_of(spark, sf_dir, "market_share_q8")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_partsupp_tpch_shapes_plan_as_documented(spark, sf_dir):
    """The derived-partsupp pack (plans/tpch_partsupp.py) must plan
    as its docstrings promise: every sub-25-row side broadcasts, the
    NOT-IN blacklist compiles to a broadcast anti join, Q20's nested
    IN chain compiles to semi joins, Q10's top-20 is a per-partition
    heap, and Q11's global scalar is a 1-row broadcast loop join —
    never a CartesianProduct.  (The catalog-wide invariants test
    already bans Python UDFs and cartesian products everywhere; these
    are the shape-specific pins VERDICT r08 item 2 asked for.)"""
    # Q2: dims (supplier⋈nation⋈region, filtered part, per-part min)
    # all broadcast — the only exchange family left is partsupp's
    # defining distinct.
    q2 = plan_of(spark, sf_dir, "min_cost_supplier_q2")
    assert q2.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in q2
    fmt2 = formatted(spark, sf_dir, "min_cost_supplier_q2")
    assert "EqualTo(r_name,EUROPE)" in fmt2
    assert "EqualTo(p_type,LARGE)" in fmt2

    # Q9: part and supplier⋈nation broadcast onto the fact stream;
    # the '%rod%' predicate reaches part's scan.
    q9 = plan_of(spark, sf_dir, "product_profit_q9")
    assert q9.count("BroadcastHashJoin") >= 2
    fmt9 = formatted(spark, sf_dir, "product_profit_q9")
    assert "StringContains(p_name,rod)" in fmt9

    # Q10: quarter + returnflag pushed to their scans, top-20 is a
    # TakeOrderedAndProject (no global sort materializes).
    q10 = plan_of(spark, sf_dir, "returned_item_reporting_q10")
    assert "TakeOrderedAndProject" in q10
    fmt10 = formatted(spark, sf_dir, "returned_item_reporting_q10")
    assert "EqualTo(l_returnflag,R)" in fmt10
    assert "GreaterThanOrEqual(o_orderdate,1995-10-01" in fmt10

    # Q11: the HAVING-vs-global-scalar is a 1-row broadcast nested
    # loop (the _id_offset pattern), not a cartesian, and partsupp is
    # aggregated before it.
    q11 = plan_of(spark, sf_dir, "important_stock_q11")
    assert "BroadcastNestedLoopJoin" in q11
    assert "CartesianProduct" not in q11
    first_bnlj = q11.find("BroadcastNestedLoopJoin")
    assert "HashAggregate" in q11[first_bnlj:]  # agg below the loop join

    # Q16: NOT-IN blacklist = broadcast LEFT ANTI; part predicates
    # pushed to its scan.
    q16 = plan_of(spark, sf_dir, "parts_supplier_relation_q16")
    assert "LeftAnti" in q16 and "BroadcastHashJoin" in q16
    fmt16 = formatted(spark, sf_dir, "parts_supplier_relation_q16")
    assert "Not(EqualTo(p_type,PROMO))" in fmt16
    assert "In(p_size," in fmt16

    # Q20: the nested IN chain compiles to (at least) two semi joins;
    # the ship-year window reaches lineitem's scan.
    q20 = plan_of(spark, sf_dir, "potential_promotion_q20")
    assert q20.count("LeftSemi") >= 2
    fmt20 = formatted(spark, sf_dir, "potential_promotion_q20")
    assert "GreaterThanOrEqual(l_shipdate,1995-01-01" in fmt20


def test_r09_llm_additions_plan_as_documented(spark, sf_dir):
    """Shape pins for the r09 LLM-tier additions: the BPE tier stays
    map-side string expressions (no Python, no extra exchange beyond
    the documented lang shuffle / output sort), the Bloom sizing
    query keeps the audit's broadcast-probe plan, and the PQ audit
    never shuffles the corpus for scoring (its exchanges are the
    window ranks and small aggs, all post-broadcast)."""
    # token_budget_bpe: tokenizer is codegen string ops; the window
    # shuffle on lang and the output sort are the only exchanges.
    bpe = plan_of(spark, sf_dir, "token_budget_bpe")
    assert "Python" not in bpe
    assert bpe.count("Exchange hashpartitioning") == 1  # lang window
    assert "replace(" in bpe  # the merge chain compiled JVM-side

    fert = plan_of(spark, sf_dir, "bpe_fertility_by_lang")
    assert "Python" not in fert
    # partial agg before the single lang exchange (map-side combine)
    first_ex = fert.find("Exchange")
    assert first_ex >= 0 and "HashAggregate" in fert[first_ex:]

    # bloom_sizing_design (r14 tall form): every config's bit set
    # rides ONE broadcast probe join keyed (cfg, bitpos) — the bits
    # side must broadcast (bounded by Σm — the grid CONSTANT), never
    # sort-merge, and the config grid/threshold frames broadcast too.
    # (The pre-r14 pin counted >= 7 BroadcastHashJoins — one bit-set
    # probe per independent config subtree; the tall rewrite is
    # exactly the removal of those per-config copies.)
    bs = plan_of(spark, sf_dir, "bloom_sizing_design")
    assert "Python" not in bs
    assert "BroadcastHashJoin" in bs
    assert "SortMergeJoin" not in bs
    assert "CartesianProduct" not in bs

    # embedding_pq_adc_recall: codebook/query sides broadcast; the
    # corpus-bearing joins are all broadcast joins (corpus itself is
    # never the build side of a shuffle join).
    pq = plan_of(spark, sf_dir, "embedding_pq_adc_recall")
    assert "Python" not in pq
    assert "SortMergeJoin" not in pq
    assert "CartesianProduct" not in pq


def test_r10_flagship_plans_as_documented(spark, sf_dir):
    """r10 shape pins: the Zipfian PPJoin must keep the dense twin's
    audited plan (hashed 8-byte candidate keys, no sort-merge pair
    join at fixture scale) with the LCG corpus synthesis staying
    map-side; sequence packing must run its sequential recurrence as
    ONE grouped fold — a single hashpartitioning exchange into
    ObjectHashAggregate(collect_list), zero Python, no extra shuffle
    between the fold and the window rollup."""
    zipf = plan_of(spark, sf_dir, "dedup_setsim_prefix_zipf")
    assert "xxhash64" in zipf          # candidate shuffle on hashed tokens
    assert "CartesianProduct" not in zipf
    # corpus synthesis is codegen string work over the scan — no
    # Python evaluation anywhere in the plan
    assert "BatchEvalPython" not in zipf and "ArrowEvalPython" not in zipf

    pack = plan_of(spark, sf_dir, "seq_pack_bpe_windows")
    assert "ObjectHashAggregate" in pack          # the collect_list fold
    assert "BatchEvalPython" not in pack and "ArrowEvalPython" not in pack
    # exactly one hashpartitioning exchange (the group-key shuffle);
    # the only other exchange is the output-order rangepartitioning
    assert pack.count("hashpartitioning") == 1, pack
    assert pack.count("rangepartitioning") == 1, pack


def test_semdedup_kmeans_plan_shape(spark, sf_dir):
    """Pre-registration plan pin for the r12-deferred
    dedup_semantic_kmeans (built r11 — see the deferral note in
    plans/llmdata.py): the whole SemDeDup composition — unrolled
    exact-decimal Lloyd rounds, within-cluster pair stage, greedy
    drop aggregation — must stay JVM-side (zero Python evaluation)
    with no cartesian product: the pair stage is an equality join on
    the cluster key, the Lloyd centroid tables ride broadcasts."""
    from real_estate_etl_dev_spark.plans.llmdata import dedup_semantic_kmeans

    df = dedup_semantic_kmeans(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the k x dim centroid / seed sides of the Lloyd rounds broadcast
    # (5 at fixture scale: seeds + 3 rounds of centroids + the 1-row
    # id-offset combine); only the vid-keyed joins may sort-merge
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_bpe_learn_plan_shape(spark, sf_dir):
    """Plan pin for bpe_learn_merges (built r11, registered r13 in
    the window's free slot): the whole unrolled learning loop stays
    JVM-side (zero Python evaluation) with no CartesianProduct.
    The per-round argmax rides the repo's 1-row broadcast
    scalar-combine (crossJoin of a broadcast 1-row frame — Spark
    plans that as a BroadcastNestedLoopJoin over ONE build row, the
    documented `_id_offset` posture, so it is deliberately NOT
    banned here, unlike in the pair-join pins)."""
    from real_estate_etl_dev_spark.plans.llmdata import (
        _BPE_LEARN_ROUNDS,
        bpe_learn_merges,
    )

    df = bpe_learn_merges(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_curation_funnel_plan_shape(spark, sf_dir):
    """Pre-registration plan pin for the r14-deferred
    corpus_curation_funnel (built r12 — see the deferral note in
    plans/llmdata.py): the whole funnel stays JVM-side (zero Python
    evaluation), the exact-dedup stage is ONE window exchange on the
    content fingerprint, the decontamination probe BROADCASTS the
    distinct eval grams into a left-semi join (the exploded corpus
    grams are never shuffled on the gram key), and the only
    BroadcastNestedLoopJoin is the 1-row `_id_offset` scalar combine
    (the documented srcdup-namespace posture)."""
    from real_estate_etl_dev_spark.plans.llmdata import corpus_curation_funnel

    df = corpus_curation_funnel(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # decontamination: eval grams broadcast into the semi probe
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # exact dedup: the window exchange is keyed on the fingerprint
    assert "hashpartitioning(fp" in plan, plan
    # exactly ONE gram-keyed exchange: the tiny eval side's DISTINCT.
    # The exploded corpus grams ride the broadcast semi probe and are
    # never shuffled on the gram key.
    assert plan.count("hashpartitioning(g") == 1, plan


def test_dsir_plan_shape(spark, sf_dir):
    """Pre-registration plan pin for the r14-deferred
    dsir_importance_select (built r12 — see the deferral note in
    plans/llmdata.py): the scoring stays JVM-side (zero Python
    evaluation), the λ weight table BROADCASTS into the raw gram
    stream (never a sort-merge on the bucket key), the bucket
    aggregate is checkpoint-pinned so no bucket-keyed exchange
    survives into the final plan, and the per-lang top-k runs as a
    rank-limited window (WindowGroupLimit), not a global sort."""
    from real_estate_etl_dev_spark.plans.llmdata import dsir_importance_select

    df = dsir_importance_select(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("hashpartitioning(b#") == 0, plan
