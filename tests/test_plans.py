"""Physical-plan assertions — the scale contract (SURVEY §4).

These tests pin the properties that make the engine viable at 100 TB:
filters reach the parquet scan, projections prune the read schema,
dimension joins broadcast, top-k never globally sorts, and no Python
row-UDFs sneak into hot paths.
"""

from __future__ import annotations

import re

from file_scraper_spark import registry

registry._ensure_loaded()
R = registry.REGISTRY


def plan_of(name, spark, sf_dir) -> str:
    df = R[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown(spark, sf_dir):
    plan = plan_of("filter_predicate", spark, sf_dir)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, "no pushed filters section in scan"
    pushed = m.group(1)
    assert "l_shipdate" in pushed and "l_quantity" in pushed and "l_discount" in pushed


def test_projection_prunes_scan(spark, sf_dir):
    plan = plan_of("scan_project", spark, sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in scan"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_linenumber", "l_extendedprice",
                    "l_discount", "l_returnflag"}


def test_fs_source_prunes_content(spark, sf_dir):
    plan = plan_of("scrape_fs", spark, sf_dir)
    assert "content" not in plan  # file bodies never read (reference parity)


def test_fs_source_has_no_python_datasource_scan(spark, sf_dir):
    # the walk runs as an RDD: no Python DataSource planner process at
    # build or execution time, one input partition per shard
    plan = plan_of("scrape_fs", spark, sf_dir)
    assert "BatchScan" not in plan
    assert "Scan ExistingRDD" in plan


def test_dim_join_broadcasts(spark, sf_dir):
    assert "BroadcastHashJoin" in plan_of("mime_lookup", spark, sf_dir)


def test_topk_no_global_sort(spark, sf_dir):
    plan = plan_of("topk_sort_limit", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    # per-partition heap + merge of K, not a global Exchange+Sort
    assert "rangepartitioning" not in plan.lower()


def test_heavy_hitters_no_global_window(spark, sf_dir):
    """text_heavy_hitters' exact twin must take the top-20 with a
    distributed TakeOrderedAndProject, never an unpartitioned
    row_number window over the full vocabulary (10^8-10^9 distinct
    tokens at web scale through one partition). The rank attaches to
    the bounded 20-row result via a broadcast peer-count join, so the
    plan has NO WindowExec at all (VERDICT r7 weak #1)."""
    plan = plan_of("text_heavy_hitters", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_range_join_is_sweep_not_pair_join(spark, sf_dir):
    """The interval-count query must NOT materialize pairs: no
    nested-loop or data-sized join. The ONLY join allowed is the
    broadcast of the per-partition prefix offsets (one tiny row per
    range partition, joined on pid) — a control-plane hash lookup,
    not a pair join."""
    plan = plan_of("range_join", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # offsets apply as an O(1) broadcast lookup on pid (no O(n_parts)
    # per-row coalesce chain)
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_no_python_row_udfs_in_relational_plans(spark, sf_dir):
    """Core relational queries stay entirely JVM-side (BatchEvalPython
    appears only in the explicitly-Pandas multimodal/udf queries).
    (similarity_topk left this list in r13: its cosine now runs in a
    batch-vectorized mapInPandas kernel — see
    test_similarity_scan_kernels.)"""
    for name in (
        "agg_groupby",
        "join_family",
        "window_rank",
        "sessionize",
        "text_quality",
        "dedup_minhash",
    ):
        plan = plan_of(name, spark, sf_dir)
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name


def test_partition_pruning(spark, sf_dir):
    from file_scraper_spark.operators.io_formats import partition_pruned_plan

    plan = partition_pruned_plan(spark, sf_dir)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "l_returnflag" in m.group(1)


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate joins: after bucketBy on the join key,
    a sort-merge join needs NO Exchange on either side — the shuffle
    moved to write time, paid once and reused by every later join (the
    100 TB pattern for repeated fact-fact joins)."""
    from file_scraper_spark.tables import load
    from pyspark.sql import functions as F

    # spark.sql.warehouse.dir is static; tables land in ./spark-warehouse
    # (gitignored) and are dropped below
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    for df, name in ((orders, "b_orders"), (li, "b_lineitem")):
        key = "o_orderkey" if name == "b_orders" else "l_orderkey"
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    joined = (
        spark.table("b_lineitem")
        .join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    try:
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # no Exchange between the scan and the join on either side
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_whole_stage_codegen_active(spark, sf_dir):
    df = R["agg_groupby"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # '*(n)' is the whole-stage-codegen marker in the tree string
    assert "*(" in plan


def test_null_aware_anti_join_operator(spark, sf_dir):
    """NOT IN over a nullable subquery must plan as a null-aware anti
    join (BroadcastNestedLoop/BroadcastHashJoin LeftAnti with the
    null-aware flag), not a plain anti join — the 3VL semantics the
    query pins."""
    plan = plan_of("null_aware_antijoin", spark, sf_dir)
    # the trailing boolean on BroadcastHashJoin is isNullAwareAntiJoin
    assert re.search(r"LeftAnti, BuildRight, true", plan), plan[:2000]
    # ... and the null-free variants must NOT pay the null-aware cost
    assert re.search(r"LeftAnti, BuildRight, false", plan), plan[:2000]


def test_q18_topk_and_broadcast(spark, sf_dir):
    """Q18's top-100 must be a per-partition heap (no global Sort) and
    the customer join must broadcast."""
    plan = plan_of("tpch_q18_shape", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_zorder_no_udf_no_extra_shuffle(spark, sf_dir):
    """The Morton code is pure JVM bit arithmetic: no Python eval, and
    exactly one exchange (the final aggregation)."""
    plan = plan_of("zorder_layout", spark, sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg exchange (+AQE reuse)


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """With runtime bloom filters on (and broadcast off, so the join is
    SMJ), Catalyst injects a bloom_filter_agg on the filtered build
    side and a might-contain probe into the fact scan — row-level
    semi-join pruning BEFORE the shuffle, the knob that cuts shuffled
    bytes on selective fact-dim joins at 100 TB."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_join(spark, sf_dir):
    """Runtime row-level filtering (the 100 TB shuffle-join saver):
    with a selective filter on the creation side, Catalyst injects a
    bloom_filter_agg on the dim side and a BloomFilterMightContain
    pre-filter into the fact scan side, so most fact rows drop BEFORE
    the shuffle. Thresholds are lowered so local-scale data
    qualifies; disabled broadcast forces the shuffle join the rule
    targets."""
    from pyspark.sql import functions as F

    from file_scraper_spark.tables import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the filtered result is still correct vs the plain join
        got = {r.o_orderstatus: r.n for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    expect = {
        r.o_orderstatus: r.n
        for r in load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


def test_locf_bounded_build_side(spark, sf_dir):
    """locf_dense_fill's physical plan must be the grouped-dense-spine
    shape that survives a 10^9-user observations table:
    - NO broadcast of any data-dependent side (the old plan broadcast
      the hourly aggregate — unbounded at scale); the only broadcast
      is the 1-row bounds (IdentityBroadcastMode nested loop);
    - the running-last Window introduces NO exchange of its own — it
      reuses the groupBy(user_id) partitioning through the explode."""
    from file_scraper_spark import registry

    registry._ensure_loaded()
    df = registry.REGISTRY["timeseries_locf"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()

    # Only the invariants that matter, tolerant of incidental
    # plan-text variation across Spark/AQE versions (VERDICT r5
    # advice): no DATA-DEPENDENT broadcast (a hash join's build side
    # would be the unbounded hourly aggregate), and the running-last
    # Window adds no exchange beyond the two aggregation shuffles
    # (i.e. it reuses the user_id partitioning).
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bounds join
    assert plan.count("Exchange hashpartitioning") <= 2


def test_gapfill_cardinality_guard(spark, sf_dir):
    """gapfill_dense force-broadcasts the hourly aggregate ONLY while
    the probed grid (hours x distinct types — the CELL count, so a
    long time range trips the guard as surely as a wide type
    dimension) stays under the cap; past it the hint is dropped — and
    both branches must compute identical rows."""
    from pyspark.sql import functions as F

    from file_scraper_spark.operators.timeseries import gapfill_dense

    ev = spark.range(500).select(
        (
            F.timestamp_seconds(F.lit(1_700_000_000) + (F.col("id") % 7) * 3600)
        ).alias("bucket"),
        F.concat(F.lit("type_"), F.col("id") % 200).alias("event_type"),
        (F.col("id") % 13).cast("double").alias("value"),
    )
    # assert on the FORCED hint in the optimized logical plan, not on
    # the physical join: on a tiny test frame Catalyst's size stats
    # legitimately auto-broadcast either way — the guard's contract is
    # exactly "never FORCE a broadcast past the cap" (stats/AQE keep
    # making the size-based call)
    wide = gapfill_dense(ev, broadcast_cell_cap=1000)  # 200x7=1400 cells
    plan = wide._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in plan  # non-forced branch
    narrow = gapfill_dense(ev, broadcast_cell_cap=100_000)
    nplan = narrow._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in nplan  # bounded branch: hint kept
    key = lambda r: (r.bucket, r.event_type)  # noqa: E731
    assert sorted(wide.collect(), key=key) == sorted(narrow.collect(), key=key)
    # probe="never" builds without any eager Spark job and keeps the
    # static bounded-branch plan (the dump_plans contract)
    static = gapfill_dense(ev, probe="never")
    splan = static._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in splan


def test_quality_funnel_hash_keyed_dedup_window(spark, sf_dir):
    """The dedup-keeper window must shuffle on xxhash64(text) — an
    8-byte key — never on the full document text, and the (h, text)
    window must reuse the h-partitioning instead of adding a second
    exchange (HashPartitioning(h) satisfies the window's clustering)."""
    plan = plan_of("quality_funnel", spark, sf_dir)
    assert "hashpartitioning(text" not in plan
    assert re.search(r"hashpartitioning\(h#\d+L", plan)
    # exactly one data exchange: the h repartition (the final 1-row agg
    # adds a SinglePartition exchange, which carries 4 longs)
    hash_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(hash_exchanges) == 1


def test_text_diversity_linear_shape(spark, sf_dir):
    """text_diversity must stay the linear two-aggregation shape: no
    joins or windows, exactly the (doc_id, word) and doc_id hash
    exchanges, both aggregations map-side combined (partial +
    final HashAggregate pairs)."""
    plan = plan_of("text_diversity", spark, sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") == 4  # 2x (partial, final)


def test_dedup_url_single_aggregation_no_join(spark, sf_dir):
    """dedup_url is one scan + one map-side-combined aggregation on
    the canonical URL — no joins, a single hash exchange."""
    plan = plan_of("dedup_url", spark, sf_dir)
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2  # partial + final


def test_knn_join_is_bucket_local_not_pair_join(spark, sf_dir):
    """knn_join must never materialize the band collision set: the
    only joins allowed are the single id-equi-join shipping quantized
    vectors into their buckets (plus whatever AQE makes of it) — the
    scoring itself happens inside one grouped-Pandas stage and the
    old four-join rerank chain over distinct candidate pairs (189.7s
    at the 100x probe) must not come back."""
    plan = plan_of("knn_join", spark, sf_dir)
    assert "FlatMapGroupsInPandas" in plan
    n_joins = sum(plan.count(j) for j in (
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, f"expected exactly the bucket-feed join, saw {n_joins}"
    assert "BroadcastNestedLoopJoin" not in plan


def test_editdistance_prunes_before_dp(spark, sf_dir):
    """The length-gap lower bound must prune CANDIDATES (bare
    ids+lengths, below the text joins) and the distance kernel must
    be evaluated exactly once — the rejected variant that filtered
    the text-joined frame re-evaluated the JVM DP after pushdown and
    ran 2.2x slower; the candidate-stage placement is 2x faster at
    100x (122.0s -> 60.8s, lossless). Since round 9 the kernel is
    the Myers bit-parallel pandas UDF (2.9x faster than the JVM DP
    at 100x, bit-identical): ExtractPythonUDFs must lift it into
    exactly ONE ArrowEvalPython node, shared by the output
    projection and the threshold filter."""
    plan = plan_of("dedup_editdistance", spark, sf_dir)
    lines = plan.lower().splitlines()
    prune = [ln for ln in lines if "abs(" in ln]
    assert prune, "candidate-stage length prune missing from plan"
    # the prune must be kernel-free: the distance appearing next to
    # the length bound is exactly the re-evaluation trap
    assert all(
        "levenshtein" not in ln and "myers" not in ln for ln in prune
    )
    # the kernel exists ONCE, in the final (post-text-join) stage
    assert plan.count("ArrowEvalPython") == 1
    assert "levenshtein" not in plan.lower(), (
        "JVM DP resurfaced alongside the Myers kernel"
    )


def test_collapse_always_builds_no_eager_job(spark, sf_dir, monkeypatch):
    """The data-independent pin (FSS_EXACT_COLLAPSE=always, set in the
    caller's environment): plan CONSTRUCTION must trigger zero Spark
    jobs — the collapse branch is taken unconditionally, no adaptive
    dup-probe action fires, so batch plans are data-independent
    (VERDICT r7 task #9). Asserted via a job group: any eager action during the
    build would register a job id under the group."""
    from file_scraper_spark.operators.dedup import minhash_pairs
    from file_scraper_spark.tables import load

    monkeypatch.setenv("FSS_EXACT_COLLAPSE", "always")
    docs = load(spark, sf_dir, "documents")
    sc = spark.sparkContext
    sc.setJobGroup("plan-build-probe", "no eager jobs during plan build")
    try:
        df = minhash_pairs(docs, collapse_key=None)
        df.schema  # analysis only, no execution
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("plan-build-probe")
    assert jobs == [], f"plan construction ran eager jobs: {jobs}"


def test_dedup_clusters_iterates_touched_subgraph(spark, sf_dir):
    """The returned label frame must be (checkpointed fixpoint over
    touched nodes) UNION (anti-joined singletons) — i.e. the full
    corpus appears once in a left-anti join, never inside the
    iteration lineage (the full-corpus loop cost 2x+ at the 100x
    probe). localCheckpoint truncation means the executed plan shows
    scans of in-memory checkpoints, not a 20-deep join chain."""
    plan = plan_of("dedup_clusters", spark, sf_dir)
    assert "Union" in plan
    # AQE prints the anti-join in both the current and initial plan,
    # so the ONE logical anti-join may appear twice in the string
    assert 1 <= plan.count("LeftAnti") <= 2
    assert "ExistingRDD" in plan  # the checkpointed fixpoint labels


def test_quantize_stages_minmax_outside_lambda(spark, sf_dir):
    """embedding_quantize must compute lo/hi (and the codes array)
    in their OWN projections: the single-expression form inlines the
    array_min/array_max subtree into the per-element code lambda —
    O(d^2) per row, measured 99.4s vs 1.5s at 100x. Pin: no array_min
    or array_max call appears inside a lambdafunction body."""
    plan = plan_of("embedding_quantize", spark, sf_dir)
    for body in _lambda_bodies(plan):
        assert "array_min" not in body and "array_max" not in body, (
            "min/max inlined into element lambda (O(d^2) per row)"
        )


def test_approx_distinct_sketch_not_on_distinct_groups(spark, sf_dir):
    """agg_approx_distinct must aggregate the HLL sketch straight from
    raw rows to the 5 output groups — fused with the exact
    countDistinct, the ~1.6k-long sketch buffer rides on every
    distinct (event_type, user_id) pair (50.9s vs 2.3s at 100x). Pin:
    every partial_approx_count_distinct in the plan sits in an
    aggregate keyed by event_type alone, and the twin branches meet
    in a broadcast join."""
    plan = plan_of("agg_approx_distinct", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    for ln in plan.splitlines():
        if "partial_approx_count_distinct" not in ln.lower():
            continue
        assert "user_id" not in ln.split("functions=")[0].lower().split(
            "keys="
        )[-1], "sketch partial aggregated under per-user keys"


def _lambda_bodies(plan: str):
    """Yield the balanced-paren body of every lambdafunction in an
    executed-plan string (shared by the inlining-class pins)."""
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        yield plan[m.end():i]


def test_posting_list_lambdas_are_sort_free(spark, sf_dir):
    """The pair-emission lambdas of the posting-list candidates
    (minhash bands, jaccard inverted index) must reference the sorted
    member array as a COLUMN, never re-evaluate array_sort per member
    (O(k^2 log k) per bucket — the embedding_quantize inlining class,
    NOTES r8)."""
    for name in ("dedup_minhash", "dedup_ngram_jaccard"):
        plan = plan_of(name, spark, sf_dir)
        for body in _lambda_bodies(plan):
            assert "array_sort" not in body, (
                f"{name}: array_sort inlined into pair-emission lambda"
            )


def test_editdistance_sampled_filters_blocks_before_join(spark, sf_dir):
    """dedup_editdistance_sampled's md5 block rule must prune BOTH
    inputs of the block join (that is where the 1/mod cost reduction
    lives — filtering after the join would pay full candidate
    generation), and the DP must not appear in the same filter."""
    plan = plan_of("dedup_editdistance_sampled", spark, sf_dir)
    lines = plan.splitlines()
    block_join = next(
        i for i, ln in enumerate(lines)
        if "Join" in ln and "blk" in ln and "jb" in ln
    )
    md5_filters = [
        i for i, ln in enumerate(lines)
        if "Filter" in ln and "md5" in ln.lower()
    ]
    assert len(md5_filters) >= 2, "block-sample filter missing on a side"
    assert all(i > block_join for i in md5_filters), (
        "md5 filter above the block join: sampling is not pruning the join"
    )
    assert all(
        "levenshtein" not in lines[i].lower()
        and "myers" not in lines[i].lower()
        for i in md5_filters
    )


def test_dedup_incremental_corpus_scanned_once(spark, sf_dir):
    """dedup_incremental builds ONE combined posting-list index: the
    documents scan and the index aggregation run once (behind the
    scoped cache), shared by the set-size counts and the pair
    generation — the corpus side is never re-scanned per consumer
    (VERDICT r8 task 6 plan pin). Intra-side pairs must never
    materialize: no self-join of the shingle frame."""
    df = R["dedup_incremental"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # all three index consumers (pair generation + the two count-join
    # branches) read the cached posting-list index; the only real
    # documents scan happened once, at the eager cache materialization.
    # (Raw "Scan parquet" counts are unusable here: each
    # InMemoryRelation echoes its BUILD plan into the string form.)
    assert plan.count("InMemoryTableScan") == 3, (
        "every index consumer must read the cached posting-list index"
    )
    # the cross-side pair loop is in-array (explode of nested
    # transform), not a shingle-key self-join: the only equi joins are
    # the two tiny count lookups on doc id
    n_joins = sum(plan.count(j) for j in (
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 2, f"expected the two count joins only, saw {n_joins}"


def test_similarity_scan_kernels(spark, sf_dir):
    """similarity_topk and both sign-LSH ANN forms (r13): the query
    vectors are driver-side scan parameters closed over by ONE fused
    batch-vectorized kernel (bucket bits + probe membership + exact
    cosine), so each executed plan is a single corpus scan feeding
    exactly one MapInPandas with no joins of any kind; the top-k
    forms keep the per-partition heap, and the batch form's only
    corpus-sized data movement is the per-query window-rank
    exchange over the candidate subset. (The pre-r13 forms paid
    N_PLANES + 3 interpreted 64-element JVM folds per row —
    same-JVM A/B in OPTIMIZATION_r13.md.)"""
    for name in ("similarity_topk", "similarity_ann_lsh"):
        plan = plan_of(name, spark, sf_dir)
        assert plan.count("MapInPandas") == 1, name
        assert "Join" not in plan and "CartesianProduct" not in plan, name
        assert "TakeOrderedAndProject" in plan, name
    plan = plan_of("similarity_ann_lsh_batch", spark, sf_dir)
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_bm25_probe_terms_broadcast(spark, sf_dir):
    """text_bm25_topk's posting-list probe: the QN-term query dim and
    the one-row stats frame must BROADCAST into the tf join — a
    shuffle of the corpus-sized tf frame keyed on 3 words would be
    the classic skew disaster at 100 TB. The corpus top-QN itself
    must be a TakeOrderedAndProject, not a global sort."""
    plan = plan_of("text_bm25_topk", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 1  # qterms probe
    assert "BroadcastNestedLoopJoin" in plan     # one-row stats
    assert "TakeOrderedAndProject" in plan
    # the final top-10 and the qterms top-3 are the ONLY sorts
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0], (
        "tf reached a shuffle join before the broadcast term probe"
    )


def test_exact_substring_has_no_join(spark, sf_dir):
    """dedup_exact_substring candidates come from ONE posting-list
    aggregation with pairs expanded array-side — the physical plan
    must contain NO join operator at all (the two-sided index
    self-join it replaces shuffled the corpus twice), and windows
    must travel as xxhash64 keys, not ~100-char strings."""
    plan = plan_of("dedup_exact_substring", spark, sf_dir)
    assert "Join" not in plan, "posting-list formulation regressed to a join"
    assert "xxhash64" in plan


def test_containment_shares_one_index_and_pair_frame(spark, sf_dir):
    """dedup_containment's two orientation rows must be projections of
    ONE shared inter⋈counts frame over the cached posting-list index —
    the union doubles OUTPUT, never candidate generation. Same
    posting-list contract as dedup_incremental: the only equi-joins
    are the two count lookups per union branch, no shingle self-join."""
    df = R["dedup_containment"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # index consumers read the cache: counts + the pair branch, each
    # appearing under both union arms
    assert plan.count("InMemoryTableScan") >= 3
    n_joins = sum(plan.count(j) for j in (
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins <= 4, f"count lookups only, saw {n_joins}"
    assert "CartesianProduct" not in plan


def test_lm_score_models_join_without_cartesian(spark, sf_dir):
    """text_lm_score joins occurrences against the two model tables on
    their n-gram keys — equi-joins only (no cartesian), the prefix w1
    derived from the bigram string (substring_index), never by
    re-splitting the document text per occurrence."""
    plan = plan_of("text_lm_score", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "substring_index" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_maxsim_kernel_scan_no_joins(spark, sf_dir):
    """similarity_maxsim (r13): the query set is a driver-side scan
    parameter closed over by ONE batch-vectorized cosine kernel, so
    the executed plan has no joins of any kind; the corpus must never
    shuffle un-aggregated (the only exchanges carry label-keyed
    partial aggregates — partial max before the exchange), and the
    top-k is a per-partition heap. (The pre-r13 form was a
    BroadcastNestedLoopJoin of the MAXSIM_QN rows with 3 interpreted
    64-element folds per cross row — same-JVM A/B in
    OPTIMIZATION_r13.md.)"""
    plan = plan_of("similarity_maxsim", spark, sf_dir)
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_max" in plan


def test_semdedup_pairs_are_cell_local(spark, sf_dir):
    """dedup_semdedup's within-cell duplicate detection must be ONE
    applyInPandas Gram pass per (cell, sub-block) — never a
    pair-materializing SHUFFLE self-join of the embedding frame. The
    only cell-keyed join allowed is the BROADCAST of the
    cells-cardinality sub-block-count frame."""
    df = R["dedup_semdedup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    import re
    for m in re.finditer(
        r"(SortMergeJoin|ShuffledHashJoin)\s*(?:\w+\s*)?\[([^\]]*)\]", plan
    ):
        keys = m.group(2)
        assert "cell" not in keys, (
            f"cell-keyed shuffle join (pair join?): {keys}"
        )


def test_text_chunk_is_shuffle_free(spark, sf_dir):
    """Chunking is embarrassingly parallel: split/slice/array_join
    under one generator, ZERO exchanges — the op must pipeline into
    whatever shuffle follows, not add one of its own."""
    plan = plan_of("text_chunk", spark, sf_dir)
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_dedup_paragraph_keeper_is_agg_not_window(spark, sf_dir):
    """The first-occurrence decision must be a hash groupBy with
    min(struct) — partial aggregation collapses a 10^9-copy
    boilerplate paragraph to one row per map task before the
    exchange. A window-rank over ptext partitions (the oracle's
    spelling) would put every copy of the hottest paragraph in ONE
    partition; pinned out."""
    plan = plan_of("dedup_paragraph", spark, sf_dir)
    assert "Window" not in plan
    assert "partial_min(struct" in plan
    assert "CartesianProduct" not in plan


def test_domain_quota_rank_limit_is_pushed(spark, sf_dir):
    """filter(rn <= K) over row_number must trigger
    InsertWindowGroupLimit: a PARTIAL WindowGroupLimit below the
    exchange bounds what each map task ships to K rows per domain —
    the property that makes the 87%-hot domain survivable. One
    exchange total."""
    plan = plan_of("sample_domain_quota", spark, sf_dir)
    assert re.search(r"WindowGroupLimit .*row_number\(\), 5, Partial", plan)
    assert plan.count("Exchange hashpartitioning") == 1


def test_ohlc_is_single_pass_agg_not_window(spark, sf_dir):
    """OHLC open/close must be partial min_by/max_by BELOW the one
    exchange (map-side combine: one row per bucket per map task) —
    not a per-bucket row_number window, which would ship every raw
    event of the hottest (type, hour) bucket into one partition.
    The scan must also prune to the four needed columns (no props)."""
    plan = plan_of("timeseries_ohlc", spark, sf_dir)
    assert "Window" not in plan
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "props" not in m.group(1) and "user_id" not in m.group(1)


def test_profile_unpivots_once_no_join(spark, sf_dir):
    """The profile is ONE generate (stack unpivot, no shuffle of its
    own) feeding one aggregation family — no join, no window, one
    base scan. The exact-distinct must be the two-phase rewrite
    (partial agg keyed on (col_name, val)), distributing cardinality
    work over the value space instead of one reducer per column."""
    plan = plan_of("profile_table", spark, sf_dir)
    assert plan.count("Generate") == 1
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("FileScan") == 1
    assert "partial_count(distinct" in plan or "partial_count(val" in plan


def test_anomaly_mad_is_broadcast_only(spark, sf_dir):
    """Both median frames are one-row-per-type and must come back as
    broadcast joins: the full event stream is never shuffled on
    event_type, so a 90%-hot type costs nothing. No sort-merge join,
    no window, scans pruned to the three used columns."""
    plan = plan_of("anomaly_mad", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "props" not in m.group(1) and "user_id" not in m.group(1)


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The overlap join must ride the (day, hour-cell) EQUI keys — a
    hash or sort-merge join — never a nested-loop/cartesian over the
    range predicates, which is the shape that dies first at 100 TB.
    (At fixture scale AQE broadcasts the smaller exploded side; on a
    balanced deployment the same plan sort-merges on the cell key.)"""
    plan = plan_of("interval_join", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bpe_merge_candidates_vocab_sized(spark, sf_dir):
    """bpe_merge_candidates' pair explosion must hang off the VOCAB
    aggregate (two hash aggregates, each with a map-side partial),
    and the top-20 must be a distributed TakeOrderedAndProject —
    never a global sort, never a corpus-sized pair list shuffled
    raw."""
    plan = plan_of("bpe_merge_candidates", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    # both aggregations are map-side combined (partial_count on the
    # vocab build, partial_sum on the pair weights)
    assert "partial_count" in plan
    assert "partial_sum" in plan


def test_vocab_coverage_no_global_vocab_sort(spark, sf_dir):
    """vocab_coverage's only ordered structure must be the
    TakeOrderedAndProject(max k) slice; the row_number window is
    allowed ONLY above it (bounded 10k rows in one task by
    construction). A rangepartitioning exchange would mean the full
    vocabulary is being globally sorted — the web-scale killer this
    plan shape exists to avoid."""
    plan = plan_of("vocab_coverage", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), (
        "window must sit ABOVE the bounded top-k slice "
        "(executed-plan strings list parents before children)"
    )


def test_token_budget_has_no_global_sort(spark, sf_dir):
    """corpus_token_budget is semantically a GLOBAL cumsum in quality
    order but must never plan one: no range-partitioned exchange and
    no global Sort anywhere — the only ordered structures are the
    <=1001-row bucket-prefix window (single partition by construction)
    and the boundary bucket's per-bucket local sort. The heavy per-doc
    projection must come from the scoped cache, scanned once."""
    plan = plan_of("corpus_token_budget", spark, sf_dir)
    assert "rangepartitioning" not in plan.lower()
    for ln in plan.splitlines():
        if re.search(r"\bSort \[", ln):
            # Sort [...], global, offset — global sorts print 'true'
            assert "], false, 0" in ln, f"global sort in plan: {ln}"
    assert "InMemoryTableScan" in plan


def test_incremental_indexed_corpus_side_no_shuffle(spark, sf_dir):
    """dedup_incremental_indexed's whole point: the maintained corpus
    index is bucketed by shingle, so the daily join NEVER exchanges
    the corpus posting lists — the only shingle-keyed work is the
    shard side. Pin: a Bucketed: true scan of the fss_sidx table and
    ZERO hashpartitioning exchanges on the shingle key (at fixture
    scale the planner may broadcast the tiny shard side instead of
    sort-merging — either way the corpus side must not move)."""
    plan = plan_of("dedup_incremental_indexed", spark, sf_dir)
    assert "Bucketed: true" in plan
    assert "fss_sidx_" in plan
    assert "Exchange hashpartitioning(shingle" not in plan


def test_knn_classify_kernel_pass_no_exchange(spark, sf_dir):
    """knn_classify's scale contract (round-12 rewrite): the labeled
    seed set is fixed-size (KNN_SEED_CAP) and ships in the kernel
    closure, so classification is ONE Arrow-batched MapInPandas over
    one scan emitting final rows — zero exchanges, zero joins, zero
    windows. (The previous broadcast-nested-loop + collect_list form
    was corpus-proportional in the seed dimension and hung the 100x
    probe.)"""
    plan = plan_of("knn_classify", spark, sf_dir)
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_bloom_gate_verdicts_materialize_once(spark, sf_dir):
    """dedup_bloom_gate's r12 plan-audit fix: the gate-verdict frame
    feeds two consumers, so it must come from ONE materialized RDD
    (localCheckpoint) — without it the whole shard scan + probe +
    bloom build replays per consumer. Pin: both consumers read
    ExistingRDD, the bitmap word table is built exactly once (one
    parquet scan feeds it), and both joins against it broadcast."""
    plan = plan_of("dedup_bloom_gate", spark, sf_dir)
    assert plan.count("Scan ExistingRDD") == 2
    # one corpus scan for the verify fingerprints; the bloom build's
    # scan happened inside the checkpointed subtree already
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan


def test_boilerplate_df_count_is_agg_not_window(spark, sf_dir):
    """boilerplate_removal counts chunk frequency with a hash groupBy
    (map-side combinable: the hottest banner collapses per map task)
    — never a count() OVER (PARTITION BY ptext), which would funnel
    every copy of the hottest chunk into one partition."""
    plan = plan_of("boilerplate_removal", spark, sf_dir)
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_pagerank_iterations_checkpoint_lineage(spark, sf_dir):
    """graph_pagerank's loop contract: every round's rank frame is
    localCheckpoint-truncated, so the FINAL plan sees only the last
    round's join + aggregate over RDD scans — K-deep lineage never
    reaches the optimizer. The edge list enters from its one
    materialized partitioning; the top-k close is
    TakeOrderedAndProject, never a global sort."""
    plan = plan_of("graph_pagerank", spark, sf_dir)
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_embedding_pq_encode_is_one_shuffle_free_scan(spark, sf_dir):
    """embedding_pq's scale contract (the 100 TB encode pass): the
    M*K codebook ships in the kernel closure, so the WHOLE encode is
    one parquet scan feeding one Arrow-batched MapInPandas — zero
    exchanges, zero joins, zero windows."""
    plan = plan_of("embedding_pq", spark, sf_dir)
    assert plan.count("Scan parquet") == 1
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_kmeans_assignment_in_row_update_is_only_exchange(spark, sf_dir):
    """kmeans_lloyd's loop contract: centroids ship in the kernel
    closure, so assignment is shuffle-free and the update's map-side
    combine happens inside the kernel; the one exchange in the final
    plan is the per-cluster stats groupBy. The scan frame enters from
    its localCheckpoint (ExistingRDD), no join anywhere, no global
    sort."""
    plan = plan_of("kmeans_lloyd", spark, sf_dir)
    assert "Scan ExistingRDD" in plan
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan.lower()
    assert "Join" not in plan


def test_ivfpq_is_one_kernel_pass_topk_close(spark, sf_dir):
    """similarity_ann_ivfpq's scale contract: coarse codebook, probe
    set, PQ codebook, and LUT all ship in the kernel closure, so the
    whole serving path is one parquet scan -> one MapInPandas, closed
    by TakeOrderedAndProject — no joins, no global sort, no exchange
    beyond the top-k's single-partition gather."""
    plan = plan_of("similarity_ann_ivfpq", spark, sf_dir)
    assert plan.count("MapInPandas") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_cluster_balanced_rank_limit_pushed(spark, sf_dir):
    """sample_cluster_balanced's scale contract: assignment is the
    shuffle-free kernel (MapInPandas, centroids in the closure) and
    the per-cell quota is a rank-limit window that Spark 4 pushes
    below the exchange (WindowGroupLimit PARTIAL) — each map task
    forwards at most CB_QUOTA rows per cell."""
    plan = plan_of("sample_cluster_balanced", spark, sf_dir)
    assert plan.count("MapInPandas") == 1
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_tokenizer_vocab_apply_broadcasts_vocab(spark, sf_dir):
    """tokenizer_vocab_apply's scale contract: the vocab cut is
    TakeOrderedAndProject (vocab-sized, never a corpus sort) and the
    apply join BROADCASTS it — the corpus token stream never shuffles
    for the lookup; the only corpus exchange is the per-doc rollup."""
    plan = plan_of("tokenizer_vocab_apply", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_compaction_plan_single_exchange(spark, sf_dir):
    """compaction_plan's scale contract: the running sum partitions by
    directory (never a global order) and the per-bin rollup's
    (dir, bin) grouping is satisfied by the same dir-hash exchange —
    ONE exchange, one per-partition sort, no range partitioning."""
    plan = plan_of("compaction_plan", spark, sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan.lower()
    assert "Join" not in plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """SURVEY §4 optimizer surface: when a selective dim filter feeds
    a SHUFFLE join (the 100 TB regime where the dim exceeds the
    broadcast threshold), Catalyst's InjectRuntimeFilter plants a
    bloom-filter semi-join on the fact side (`might_contain` over a
    BloomFilterAggregate subquery) — row groups that cannot match are
    skipped at the scan. Fixture scale is under the application-side
    threshold (10GB default) and broadcast would pre-empt the shuffle
    join, so the test scopes both confs. The engine relies on the
    default-on conf at real scale rather than hand-planting blooms
    (dedup_bloom_gate is the explicit-bloom variant for non-join
    gating)."""
    from pyspark.sql import functions as F
    from file_scraper_spark.tables import load

    app_k = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bc_k = "spark.sql.autoBroadcastJoinThreshold"
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    prev_app, prev_bc = spark.conf.get(app_k), spark.conf.get(bc_k)
    try:
        spark.conf.set(app_k, "0")
        spark.conf.set(bc_k, "-1")
        li = load(spark, sf_dir, "lineitem")
        part = load(spark, sf_dir, "part").filter(F.col("p_size") == 1)
        j = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_size")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("might_contain") == 1
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set(app_k, prev_app)
        spark.conf.set(bc_k, prev_bc)


def test_winnowing_ratio_joins_carry_no_broadcast_hint(spark, sf_dir):
    """dedup_winnowing's r13 scale fix (VERDICT r12 weak #1): the r12
    form FORCE-broadcast the docs-proportional sizes frame into the
    containment-ratio filter (F.broadcast on both legs) — ~10 MB at
    the 100x probe, an executor OOM at billions of docs, and a hint
    AQE cannot override. The fix is hint REMOVAL, not the
    zero-post-pair-join rewrite the verdict sketched: that form (nf
    as a per-doc window carried through a struct collect_list) was
    built and A/B-measured same-JVM at 100x — 66.7s vs 22.7s
    min-of-2, a 3x regression (NOTES.md r13) — so the fast join tail
    stays and AQE picks its strategy from runtime sizes. Pin both
    directions: (a) at defaults the planner is FREE to broadcast the
    fixture-tiny sizes legs; (b) with both broadcast thresholds
    zeroed the SAME code plans SortMergeJoin for the ratio joins —
    which a forced hint would make impossible, proving the unbounded
    frame degrades gracefully instead of OOMing."""
    plan = plan_of("dedup_winnowing", spark, sf_dir)
    # hot-list anti-join stays an explicit broadcast (bounded frame)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    bc_k = "spark.sql.autoBroadcastJoinThreshold"
    aqe_k = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    prev_bc = spark.conf.get(bc_k)
    try:
        prev_aqe = spark.conf.get(aqe_k)
    except Exception:  # unset: falls back to autoBroadcastJoinThreshold
        prev_aqe = None
    try:
        spark.conf.set(bc_k, "-1")
        spark.conf.set(aqe_k, "-1")
        cold = plan_of("dedup_winnowing", spark, sf_dir)
    finally:
        spark.conf.set(bc_k, prev_bc)
        if prev_aqe is not None:
            spark.conf.set(aqe_k, prev_aqe)
        else:
            spark.conf.unset(aqe_k)
    assert cold.count("SortMergeJoin") >= 2, "ratio joins must be hint-free"
    # the hot anti-join keeps its explicit hint even with the
    # threshold zeroed — bounded-by-construction frames may force
    assert "BroadcastHashJoin" in cold and "LeftAnti" in cold


def test_winnowing_fps_stage_is_exploded_codegen(spark, sf_dir):
    """dedup_winnowing's fingerprint stage: the exploded codegen
    pipeline (posexplode Generate -> JVM md5 -> W-window min ->
    distinct), RESTORED in r14 — the r13 per-doc kernel measured
    flat at 100x in quiet windows and 1.49x worse at sf0.1 (its r13
    keep rested on pairs taken under heavy host contention;
    OPTIMIZATION_r14.md). Pinned on the pre-checkpoint subtree
    (_winnowing_fps_frame) because the registered query's executed
    plan hides this stage behind the lazy localCheckpoint's Scan
    ExistingRDD: no Python boundary of any kind, one Generate, the
    window over the doc_id exchange, and the distinct aggregate."""
    from file_scraper_spark.operators.dedup import _winnowing_fps_frame

    plan = (
        _winnowing_fps_frame(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for node in ("MapInPandas", "MapInArrow", "BatchEvalPython"):
        assert node not in plan, f"unexpected {node} in fps stage"
    assert plan.count("Generate") == 1
    assert "Window" in plan


def test_bloom_gate_indexed_daily_has_no_corpus_scan(spark, sf_dir):
    """dedup_bloom_gate_indexed's whole point (VERDICT r12 task #6):
    the bitmap words are parked in a warehouse table at maintenance
    time, so the DAILY plan reads only the arriving shard and the
    <= m/62-row bitmap — the corpus text is never re-scanned and
    daily cost is independent of corpus size. Pin: exactly two
    parquet scans (the shard's documents read + the fss_blmw table),
    one broadcast join against the bitmap, no sort-merge join, no
    global sort (the base gate's orderBy is a fixture affordance this
    production path drops)."""
    plan = plan_of("dedup_bloom_gate_indexed", spark, sf_dir)
    assert "fss_blmw_" in plan
    assert plan.count("Scan parquet") == 2
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert len(joins) == 1 and "BroadcastHashJoin" in joins[0], joins
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_matryoshka_single_kernel_pass_and_bounded_tail(spark, sf_dir):
    """embedding_matryoshka_recall's scale contract: the corpus is
    touched by ONE Arrow kernel pass materialized once (the ranked
    frame is localCheckpoint'd), so the final plan joins two
    ExistingRDD reads of that bounded candidate frame — no
    MapInPandas replay, no parquet re-scan of the corpus, no global
    sort; everything after the kernel is batches x K x budgets
    small."""
    plan = plan_of("embedding_matryoshka_recall", spark, sf_dir)
    assert plan.count("Scan ExistingRDD") == 2
    assert "MapInPandas" not in plan
    assert "Scan parquet" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_keep_best_selection_is_one_mapside_agg_no_window(spark, sf_dir):
    """dedup_keep_best (r13): the representative choice is a
    lexicographic max(struct(n_words, -doc_id)) aggregate — partial
    (map-side combined, O(1) state per cluster per partition) then
    final across ONE exchange keyed on the cluster label. No Window
    anywhere: contrast dedup_cluster_cap, which needs the per-cluster
    row_number sort because it emits per-member verdicts."""
    plan = plan_of("dedup_keep_best", spark, sf_dir)
    assert "Window" not in plan
    assert "partial_max(struct(n_words" in plan, "selection must combine map-side"
    assert plan.count("hashpartitioning(cluster") == 1, (
        "selection must pay exactly one cluster-keyed exchange"
    )


def test_ccnet_no_langwide_sort_and_hintfree_hist_join(spark, sf_dir):
    """text_ccnet_buckets (r13): the oracle's per-lang ROW_NUMBER is a
    one-task-per-language global sort — the engine must compute the
    same rank without one. Pin the three scale properties: (a) no
    global Sort node at all; (b) the only doc-level window is keyed by
    BOTH lang and score (tie groups, never a whole language); (c) the
    histogram join is hint-free — with broadcast thresholds zeroed the
    SAME code degrades to sort-merge (a forced hint could not), at
    defaults AQE is free to broadcast the tiny histogram."""
    plan = plan_of("text_ccnet_buckets", spark, sf_dir)
    assert not re.search(r"Sort \[[^\]]*\], true", plan), "global sort leaked in"
    m = re.search(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert m, "tie window missing"
    assert "lang" in m.group(1) and "score_q" in m.group(1), (
        "tie window must partition by (lang, score), not lang alone"
    )
    bc_k = "spark.sql.autoBroadcastJoinThreshold"
    aqe_k = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    prev_bc = spark.conf.get(bc_k)
    try:
        prev_aqe = spark.conf.get(aqe_k)
    except Exception:
        prev_aqe = None
    try:
        spark.conf.set(bc_k, "-1")
        spark.conf.set(aqe_k, "-1")
        cold = plan_of("text_ccnet_buckets", spark, sf_dir)
    finally:
        spark.conf.set(bc_k, prev_bc)
        if prev_aqe is not None:
            spark.conf.set(aqe_k, prev_aqe)
        else:
            spark.conf.unset(aqe_k)
    assert "BroadcastHashJoin" not in cold, "a join is hint-forced"
    # r14: sc is localCheckpointed (one LM execution for both
    # consumers), so the sc-subtree joins sit behind Scan ExistingRDD
    # and only the histogram join remains visible here — it must
    # still degrade hint-free (>= 1 SMJ; was >= 3 pre-checkpoint)
    assert cold.count("SortMergeJoin") >= 1
    assert not re.search(r"Sort \[[^\]]*\], true", cold)


def test_pq_rotated_report_is_one_scan_one_tiny_exchange(spark, sf_dir):
    """embedding_pq_rotated's scale contract: the Hadamard matrix and
    BOTH codebooks ship in the kernel closure, so the whole two-
    variant report is one parquet scan feeding one MapInPandas whose
    output is <= 2 x 8 partial rows per batch; the only exchange is
    the 16-row (variant, m) groupBy. No joins (the oracle's 8M-row
    rotation join is the brute-force replay, not the plan), no
    windows."""
    plan = plan_of("embedding_pq_rotated", spark, sf_dir)
    assert plan.count("Scan parquet") == 1
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_curriculum_has_no_global_sort(spark, sf_dir):
    """corpus_curriculum: the oracle's global ROW_NUMBER is a total
    corpus sort; the engine must rank with (a) no global Sort node,
    (b) the doc-level window keyed by (band, bucket) tie groups, and
    (c) a hint-free histogram join that degrades to sort-merge when
    broadcasting is disabled."""
    plan = plan_of("corpus_curriculum", spark, sf_dir)
    assert not re.search(r"Sort \[[^\]]*\], true", plan), "global sort leaked in"
    m = re.search(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert m and "band" in m.group(1) and "kb" in m.group(1)


def test_collocations_pmi_plan(spark, sf_dir):
    """text_collocations_pmi: top-50 must cut via a distributed
    TakeOrderedAndProject (per-partition heaps) — never a global sort
    or an unpartitioned rank window over the vocab-sized pair table
    (10^8+ surviving pairs at web scale through one partition). The
    corpus-total broadcast is the single-row crossJoin; the two
    vocab-sized unigram joins must stay equi-joins (never
    nested-loop)."""
    plan = plan_of("text_collocations_pmi", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()
    # exactly one nested-loop join: the single-row corpus-total
    # crossJoin. A second one would mean a unigram join degenerated.
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_phrase_search_is_scan_only(spark, sf_dir):
    """text_phrase_search over the raw corpus is one codegen stage
    over the scan: no shuffle (Exchange), no posting join, no
    posexplode Generate, no checkpoint RDD scan — and the phrase's
    ``contains`` prefilter reaches parquet as StringContains."""
    plan = plan_of("text_phrase_search", spark, sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan
    assert "ExistingRDD" not in plan
    assert "*(" in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "StringContains(text,row column sort)" in m.group(1), plan


def test_boolean_search_is_scan_only(spark, sf_dir):
    """text_search_boolean is pure scan + per-row array algebra: no
    shuffle (Exchange), no join, no explode-driven Generate — the
    whole query must stay in one codegen stage over the scan."""
    plan = plan_of("text_search_boolean", spark, sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan
    # '*(n)' is the whole-stage-codegen marker in the tree string
    # (the array_contains filter compiles; the HOF tf projection
    # stays interpreted — still JVM-side, still single-stage)
    assert "*(" in plan


def test_triangle_count_no_cartesian(spark, sf_dir):
    """graph_triangle_count: the wedge join and the closing-edge
    verification must be shuffle equi-joins on node keys — no
    cartesian/nested-loop pair materialization anywhere except the
    single-row global-total broadcast."""
    plan = plan_of("graph_triangle_count", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "TakeOrderedAndProject" in plan


def test_kanonymity_single_aggregation(spark, sf_dir):
    """privacy_kanonymity is ONE groupBy over the scan: no joins, no
    windows. (Two Exchanges are expected — the QI shuffle plus the
    distinct-agg expand phase for l-diversity — but nothing else.)"""
    plan = plan_of("privacy_kanonymity", spark, sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan


def test_cdc_chunks_window_is_per_doc(spark, sf_dir):
    """dedup_cdc_chunks: the chunk-number running sum must be a
    window PARTITIONED BY doc_id (per-document state), never an
    unpartitioned global window; the top-50 cut must be a
    TakeOrderedAndProject."""
    plan = plan_of("dedup_cdc_chunks", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    import re as _re
    wins = _re.findall(r"Window .*", plan)
    assert wins, "expected a Window node"
    for w in wins:
        assert "doc_id" in w


def test_zonemap_report_single_aggregation(spark, sf_dir):
    """zonemap_prune_report: one groupBy over the scan, per-shard
    scalar predicate algebra — no joins, no windows; the scan must
    read only the three referenced columns."""
    plan = plan_of("zonemap_prune_report", spark, sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "l_orderkey", "l_quantity", "l_shipdate"
    }


def test_er_blocking_single_aggregation(spark, sf_dir):
    """er_blocking_plan: the pair budget is O(N) to compute — one
    groupBy, no joins, no pair materialization of any kind."""
    plan = plan_of("er_blocking_plan", spark, sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan


def test_hits_no_cartesian_no_global_sort(spark, sf_dir):
    """graph_hits: every half-step is an equi-join + map-side-combined
    groupBy; the only nested-loop joins are the single-row L1-total
    broadcasts (2 per round + none after); top-k cuts are
    TakeOrderedAndProject."""
    plan = plan_of("graph_hits", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_pattern_match_window_is_per_user(spark, sf_dir):
    """event_pattern_match: the lag lookbehind must be a window
    PARTITIONED BY user_id (per-user state, natural sharding) — never
    an unpartitioned global window; no joins, no explode."""
    plan = plan_of("event_pattern_match", spark, sf_dir)
    assert "Join" not in plan
    assert "Generate" not in plan
    wins = re.findall(r"Window .*", plan)
    assert wins, "expected a Window node"
    for w in wins:
        assert "user_id" in w


def test_kcore_no_cartesian(spark, sf_dir):
    """graph_kcore_peel: every round is a degree groupBy plus
    survivor equi-joins; the only nested-loop joins are the
    single-row per-round stat broadcasts (one per round)."""
    plan = plan_of("graph_kcore_peel", spark, sf_dir)
    assert "CartesianProduct" not in plan
    from file_scraper_spark.operators.graph import KCORE_ROUNDS
    assert plan.count("BroadcastNestedLoopJoin") <= KCORE_ROUNDS


def test_phrase_index_serving_is_partition_pruned(spark, sf_dir):
    """text_phrase_search_indexed: the serving plan must read the
    maintained posting table with PartitionFilters on the term
    bucket (kb) — and never re-scan or re-tokenize the corpus
    (no documents scan, no Generate/posexplode)."""
    plan = plan_of("text_phrase_search_indexed", spark, sf_dir)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "kb" in m.group(1), plan[:1500]
    assert "documents.parquet" not in plan
    assert "Generate" not in plan


def test_redact_is_one_arrow_kernel_pass(spark, sf_dir):
    """text_redact (r14): the PII regexes run as vectorized RE2 inside
    one mapInArrow kernel — the plan must carry no per-row JVM
    regexp_replace, no Python row UDF, and no shuffle: one pruned scan
    feeding one MapInArrow."""
    plan = plan_of("text_redact", spark, sf_dir)
    assert plan.count("MapInArrow") == 1
    assert "regexp_replace" not in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "doc_id", "text"
    }


def test_curriculum_materializes_ensemble_once(spark, sf_dir):
    """corpus_curriculum (r14): the keyed frame is localCheckpointed
    so its TWO consumers (histogram + tie-group window) read the
    materialized RDD instead of re-executing the whole
    quality_ensemble subtree (the before-plan carried 20 documents
    scans — both branches rebuilt every signal)."""
    plan = plan_of("corpus_curriculum", spark, sf_dir)
    assert "Scan ExistingRDD" in plan
    assert "documents.parquet" not in plan


def test_ccnet_materializes_lm_scores_once(spark, sf_dir):
    """text_ccnet_buckets (r14): the sc frame (LM scores + lang) is
    localCheckpointed so its TWO consumers (histogram + tie-offset
    window) read the materialized RDD instead of each re-executing
    the whole LM pipeline (bigram explodes + model join) — the
    before-plan carried the LM subtree twice, and through it so did
    every quality_ensemble / corpus_curriculum evaluation."""
    plan = plan_of("text_ccnet_buckets", spark, sf_dir)
    assert "Scan ExistingRDD" in plan
    assert "documents.parquet" not in plan


def test_link_predict_zero_joins(spark, sf_dir):
    """graph_link_predict: the shipped form folds each order to one
    part-set row and expands pairs in a per-basket numpy kernel (r13
    continuation — the interpreted-HOF in-row expansion was 3.6x
    slower, and the 109s four-shuffle join form remains the pinned
    regression): the plan must carry NO join of any kind, no
    Generate/explode, exactly one MapInPandas, and a
    TakeOrderedAndProject top-30."""
    plan = plan_of("graph_link_predict", spark, sf_dir)
    assert "Join" not in plan
    assert "Generate" not in plan
    assert plan.count("MapInPandas") == 1
    assert "TakeOrderedAndProject" in plan


def test_ivfpq_index_serving_partition_pruned_jvm_only(spark, sf_dir):
    """similarity_ann_ivfpq_indexed: serving must read the parked
    code table with PartitionFilters on the coarse cell, never
    re-scan embeddings, and rank entirely JVM-side (no Python batch
    hop at serve time — the ADC sum is an array HOF over stored
    codes); top-10 via TakeOrderedAndProject."""
    plan = plan_of("similarity_ann_ivfpq_indexed", spark, sf_dir)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:1500]
    assert "embeddings.parquet" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "TakeOrderedAndProject" in plan


def test_nprobe_recall_bounded_tail(spark, sf_dir):
    """ivf_nprobe_recall: the ranked frame is localCheckpointed (its
    kernel+window lineage is upstream of the visible plan — the
    checkpoint shows as a Scan ExistingRDD), so pin the tail: the
    truth join must BROADCAST (both sides are <= batches x K rows —
    a data-sized join here would mean the kernel stopped bounding
    its emission) and nothing may plan a cartesian. The kernel and
    per-(nprobe, qid) window themselves are exercised by the oracle
    gate and the degenerate matrix."""
    plan = plan_of("ivf_nprobe_recall", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed ranked frame
    assert "BroadcastHashJoin" in plan


def test_cdc_indexed_store_side_no_shuffle(spark, sf_dir):
    """dedup_cdc_chunks_indexed: the parked chunk store is bucketed
    by chunk_md5, so the daily probe NEVER exchanges the store — pin
    a Bucketed: true scan of the fss_cdcx table and zero
    chunk_md5-keyed exchanges (fixture scale broadcasts the tiny
    shard side; beyond, the bucket-aligned sort-merge still leaves
    the store in place)."""
    plan = plan_of("dedup_cdc_chunks_indexed", spark, sf_dir)
    assert "fss_cdcx_" in plan
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning(chunk_md5" not in plan


def test_continuation_scan_kernels_one_pass(spark, sf_dir):
    """text_normalize / text_langid / text_repetition (r13
    continuation): each is one corpus scan feeding exactly one
    MapInPandas — no regex Project (the old normalize plan evaluated
    the double-regex pipeline twice per row), no Generate, no joins,
    no exchanges at all (pure per-doc shape). Same-JVM pairs in
    OPTIMIZATION_r13.md."""
    for name in ("text_normalize", "text_langid", "text_repetition"):
        plan = plan_of(name, spark, sf_dir)
        assert plan.count("MapInPandas") == 1, name
        assert "regexp_replace" not in plan, name
        assert "Generate" not in plan, name
        assert "Join" not in plan, name
        assert "Exchange" not in plan, name


def test_dsir_scoring_plan_is_kernel_only(spark, sf_dir):
    """dsir_weights (r13 continuation): the RETURNED frame's plan is
    one corpus scan feeding one MapInPandas — the exploded bigram
    representation, the broadcast ratio join and the corpus-sized
    groupBy(doc_id) exchange are gone (the <= DSIR_BUCKETS-row ratio
    aggregation runs as its own build-time job and its table rides
    the kernel closure, the IVF-codebook pattern)."""
    plan = plan_of("dsir_weights", spark, sf_dir)
    assert plan.count("MapInPandas") == 1
    assert "Generate" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan
