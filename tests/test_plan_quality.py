"""Physical-plan assertions: the scale properties we design for must be
visible in the plans Catalyst actually produces — broadcasts for dims,
filter/column pushdown into the parquet scan, no accidental cartesian or
sort-merge joins on dimension lookups."""

from __future__ import annotations

from uma_etl_iis_loader_spark.plans.registry import QUERIES


def _plan(spark, name, sf_dir):
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def _plan_fn(spark, fn, sf_dir):
    """Plan of an unregistered helper query (a consolidated query's
    sub-operator) — assertions stay per-operator even though adjudication
    is union-tagged."""
    return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_flagship_uses_broadcast_joins_only(spark, sf_dir):
    plan = _plan(spark, "flagship_occupancy", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pricing_summary_pushes_filter_to_scan(spark, sf_dir):
    plan = _plan(spark, "agg_pricing_summary", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 11-column lineitem scan reads only what Q1 needs
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_semi_and_anti_joins_broadcast(spark, sf_dir):
    for name in ("semi_join_fk_filter", "anti_join_deletion"):
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # map-side combine: HashAggregate appears below the exchange
    plan = _plan(spark, "agg_pricing_summary", sf_dir)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_cube_and_grouping_sets_single_shuffle(spark, sf_dir):
    # Expand + one aggregation exchange per sub-plan — NOT one
    # scan/shuffle per grouping combination (cube alone would be 4 scans
    # hand-rolled; grouping sets 2). Planned on the cube+gsets sub-union
    # (the full grouping_analytics slot also unions the pagerank and
    # bloom adjudication members, whose scans are their own tests'
    # business).
    from uma_etl_iis_loader_spark.plans.queries_reference import (
        cube_and_grouping_sets,
    )

    df = cube_and_grouping_sets(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 2
    assert plan.count("Scan parquet") == 2
    # and the full slot still carries exactly the two Expands (the added
    # members aggregate without grouping-set expansion)
    full = _plan(spark, "grouping_analytics", sf_dir)
    assert full.count("Expand") == 2


def test_window_sorts_within_single_partition_exchange(spark, sf_dir):
    # lag + running sum share one window spec → one shuffle, one sort
    plan = _plan(spark, "window_lag_running_total", sf_dir)
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan


def test_ngram_jaccard_no_cartesian(spark, sf_dir):
    plan = _plan(spark, "dedup_ngram_jaccard", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tiled_cosine_single_shuffle_no_cartesian(spark, sf_dir):
    """The tiled exact cosine pair OPERATOR must shuffle ONCE (replicated
    vectors grouped by tile pair) and never fall back to a cartesian —
    the whole point of replacing the crossJoin. Asserted on the operator
    plan (the registered query now unions the semantic-subset property
    row, whose cluster pass adds its own exchanges)."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.dedup import (
        embedding_cosine_pairs,
    )

    df = embedding_cosine_pairs(
        read_fixture(spark, sf_dir, "embeddings"),
        threshold=0.45,
        method="tiled",
        blocks=8,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInPandas" in plan
    # the registered query (union with the property row) must still be
    # cartesian-free end to end
    full = _plan(spark, "dedup_embedding_cosine", sf_dir)
    assert "CartesianProduct" not in full
    assert "BroadcastNestedLoopJoin" not in full


def test_text_analysis_zero_shuffles(spark, sf_dir):
    """All seven per-document text features fuse into one narrow
    projection over a single scan — zero exchanges."""
    plan = _plan(spark, "text_analysis", sf_dir)
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


# --- skew injection: pin SCALE.md's claim that hot keys are handled by
# AQE's skew-join split (the default path) and by salted_join (the
# explicit path for AQE-ineligible plans) ---


def _with_confs(spark, confs):
    """Set runtime confs, returning the previous values for restore."""
    old = {}
    for k, v in confs.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    return old


def _restore_confs(spark, old):
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_injected_skew(spark):
    """A deliberately hot-keyed events table (95% of rows on one key)
    joined without broadcast must come out of AQE with the skewed side
    SPLIT (`skew=true` on the join in the final adaptive plan) — the
    runtime re-plan SCALE.md relies on for unsalted hot keys. Thresholds
    are lowered so the split triggers at test scale; the mechanism is
    identical at 100 TB with production defaults.

    Two traps this test must avoid: (1) AQE sizes partitions from the
    lz4-compressed shuffle files, so the payload must be incompressible
    (sha2 of the row id) or the hot partition measures ~0 bytes and never
    crosses the threshold; (2) the action must execute THIS DataFrame's
    own QueryExecution (collect), not a derived one (count builds a new
    plan with an added aggregate), or executedPlan() prints the pre-AQE
    `isFinalPlan=false` shape with no skew annotation."""
    from pyspark.sql import functions as F

    old = _with_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        hot_events = spark.range(40_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.concat(
                F.sha2(F.col("id").cast("string"), 256),
                F.sha2((F.col("id") + 1).cast("string"), 256),
            ).alias("pad"),
        )
        dim = spark.range(2_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("name")
        )
        joined = hot_events.join(dim, "k")
        # collect() drives joined's own QueryExecution to its final
        # adaptive form (count() would execute a different plan)
        rows = joined.collect()
        assert len(rows) == 38_100  # 38k hot-key matches + 100 cold keys
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:2000]
        assert "skew=true" in plan, plan[:2000]
    finally:
        _restore_confs(spark, old)


def test_salted_join_bounds_max_task_input(spark):
    """salted_join must spread the hot key's rows across ~salt_buckets
    tasks: the largest single task's share of hot rows stays near
    1/buckets instead of 1.0 — the 'max task input bounded' property
    that keeps one reducer from absorbing the whole hot key. AQE is
    disabled here so partition boundaries are the raw hash ones the
    salt targets (with AQE on, coalescing merges the now-small pieces,
    which is fine — the point is none of them is big). Broadcast is
    disabled so the 2k-row dim really shuffles (a broadcast join keeps
    the probe side's partitioning, and the test would measure the
    ``spark.range`` parallelism instead), and the join shuffles into 64
    partitions: at 8-32 the 16 salt values still hash-collide into a
    few partitions (worst task 19-31% of hot rows, measured on 4 cores)."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.operators.joins import salted_join

    old = _with_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.shuffle.partitions": "64",
        },
    )
    try:
        n, buckets = 20_000, 16
        hot_events = spark.range(n).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(2_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("name")
        )
        per_task = (
            salted_join(hot_events, dim, "k", salt_buckets=buckets)
            .filter(F.col("k") == 7)
            .groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        hot_total = sum(r["count"] for r in per_task)
        assert hot_total == 19_000  # join itself stays correct
        assert len(per_task) >= buckets // 2  # spread over many tasks
        worst = max(r["count"] for r in per_task) / hot_total
        assert worst <= 2.5 / buckets, f"worst task holds {worst:.1%}"
    finally:
        _restore_confs(spark, old)


def test_pack_sequences_group_parallel_no_global_sort(spark, sf_dir):
    """Packing's cumsum must be a group-partitioned window — a global-order
    cumsum would show up as rangepartitioning (one sorted partition at
    scale)."""
    from uma_etl_iis_loader_spark.plans.queries_extensions import q_pack_sequences

    plan = _plan_fn(spark, q_pack_sequences, sf_dir)
    assert "Window" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_domain_mix_cap_single_window_no_global_sort(spark, sf_dir):
    from uma_etl_iis_loader_spark.plans.queries_extensions import q_domain_mix_cap

    plan = _plan_fn(spark, q_domain_mix_cap, sf_dir)
    assert plan.count("Window [") == 1
    assert "Exchange rangepartitioning" not in plan
    # rank-limit pushdown: Spark inserts a PARTIAL WindowGroupLimit below
    # the exchange, so at most `cap` rows per group are shuffled — the cap
    # prunes map-side, not just post-window
    assert "WindowGroupLimit" in plan
    assert ", Partial" in plan


def test_pii_scrub_stays_narrow(spark, sf_dir):
    """Redaction + counts are chained JVM regex projections: no joins, no
    aggregation exchanges (the only exchange allowed is the fixture-split
    repartition)."""
    from uma_etl_iis_loader_spark.plans.queries_extensions import q_pii_scrub

    plan = _plan_fn(spark, q_pii_scrub, sf_dir)
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_bm25_exchanges_are_match_proportional(spark, sf_dir):
    """BM25 must not aggregate or join on the full corpus-token explode:
    the tf/df aggregations run on match-filtered rows and the small sides
    broadcast."""
    plan = _plan(spark, "bm25_rank", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_zero_shuffles(spark, sf_dir):
    """Chunking is pure narrow fan-out: tokenize, explode, slice — the
    only exchange allowed is the fixture-split repartition; no joins, no
    aggregates, no Python."""
    from uma_etl_iis_loader_spark.plans.queries_extensions import q_chunk_documents

    plan = _plan_fn(spark, q_chunk_documents, sf_dir)
    assert "Generate explode" in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sketch_queries_partial_aggregate(spark, sf_dir):
    """Sketch builds must partial-aggregate map-side (the mergeability
    that makes them KB-sized shuffles at scale) and never sort-merge."""
    from uma_etl_iis_loader_spark.plans.queries_extensions import (
        q_hll_daily_union,
        q_kll_rolling_quantiles,
    )

    for fn in (q_hll_daily_union, q_kll_rolling_quantiles):
        plan = _plan_fn(spark, fn, sf_dir)
        assert "SortMergeJoin" not in plan, fn.__name__
        assert plan.count("HashAggregate") >= 2, fn.__name__  # partial + final


def test_repeated_passages_hashed_path_plan(spark, sf_dir):
    """The production (hashed) shingle path must partial-aggregate the
    df-count map-side before its shuffle, never cartesian, and ship
    8-byte hash keys (no string shingle column survives into the
    exchange)."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.passages import repeated_passages

    docs = read_fixture(spark, sf_dir, "documents")
    out = repeated_passages(docs, k=8, hashed=True, pin=False)
    plan = out["stats"]._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final df-count
    assert "xxhash64" in plan  # hashed keys reach the plan


def test_bloom_filter_probe_side_has_no_exchange(spark):
    """The bloom pre-filter must stay map-side: the probe plan's only
    join is the broadcast of the ONE-row bits frame, and there is no
    shuffle exchange anywhere above the probe scan."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.operators.joins import (
        bloom_semi_filter,
        build_bloom,
    )

    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    bloom = build_bloom(dim, "k", num_bits=1 << 12, num_hashes=3)
    # pin the built filter so the probe plan is just scan→broadcast→filter
    bloom = bloom.localCheckpoint(eager=True)
    out = bloom_semi_filter(probe, bloom, "k", num_bits=1 << 12, num_hashes=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bits broadcast
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_zorder_layout_single_range_exchange(spark):
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.operators.layout import zorder_layout

    df = spark.range(0, 10_000).select(
        (F.col("id") % 100).alias("x"), (F.col("id") % 97).alias("y")
    )
    out = zorder_layout(df, ["x", "y"], out_partitions=8, sample_fraction=1.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange: the range repartition on the curve key
    assert plan.count("Exchange rangepartitioning") == 1
    assert plan.count("Exchange hashpartitioning") == 0
    # the interleave stays in codegen (no Python/Arrow eval in the plan)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fuzzy_lookup_broadcasts_dim_variants(spark):
    from uma_etl_iis_loader_spark.operators.joins import fuzzy_lookup

    dim = spark.createDataFrame(
        [(i, f"name{i}") for i in range(50)], "id long, name string"
    )
    facts = spark.createDataFrame([(f"name{i}x",) for i in range(100)], "ref string")
    out = fuzzy_lookup(facts, dim, "ref", "id", "name", max_dist=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # candidate generation joins the broadcast exploded dim; the ONLY
    # shuffle join allowed is facts ⋈ resolution-map at the end (the map
    # scales with distinct fact keys, so it may legitimately sort-merge —
    # AQE downgrades it to broadcast when small). Never a cartesian.
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_resample_ffill_one_window_no_cartesian(spark, sf_dir):
    """resample_ffill: exactly ONE window pass (the fill), grid join is
    a real join (never cartesian), and partial aggregation runs before
    the bounds/bucket shuffles."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.timeseries import resample_ffill

    events = read_fixture(spark, sf_dir, "events")
    plan = (
        resample_ffill(events, "user_id", "ts", ["value"], step_s=86_400)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_funnel_steps_agg_only_no_window_no_cartesian(spark, sf_dir):
    """funnel_steps is pure keyed joins + min-aggregations — no window
    (which would serialize per key), no cartesian, map-side partials."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.funnel import funnel_steps

    events = read_fixture(spark, sf_dir, "events")
    plan = (
        funnel_steps(events, ["view", "click", "purchase"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_weighted_sample_takeordered_not_global_sort(spark, sf_dir):
    """The A-Res top-k compiles to TakeOrderedAndProject — partition-
    local top-k + driver-side k-row merge, never a global Sort+Exchange;
    the per-group variant is one window over the group partitioning."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.sampling import (
        weighted_sample,
        weighted_sample_per_group,
    )

    orders = read_fixture(spark, sf_dir, "orders")
    plan = (
        weighted_sample(orders, "o_orderkey", "o_totalprice", k=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan

    plan2 = (
        weighted_sample_per_group(
            orders, "o_orderstatus", "o_orderkey", "o_totalprice", k=100
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly one Window node; the extra matches are WindowGroupLimit
    # (Spark's partial/final top-k pushdown below the window — itself a
    # win: each partition pre-limits to k before the rank evaluates)
    assert plan2.count("Window [") == 1
    assert "CartesianProduct" not in plan2


def test_cms_build_partial_aggregation(spark, sf_dir):
    """Per-shard CMS build aggregates map-side (ObjectHashAggregate /
    partial) before the group shuffle — sketch bytes move, not events."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.sketches import build_cms_sketches

    events = read_fixture(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    plan = (
        build_cms_sketches(events, ["day"], "event_type")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ObjectHashAggregate" in plan or plan.count("HashAggregate") >= 2
    assert "partial_count_min_sketch" in plan or "count_min_sketch" in plan


def test_extract_domain_zero_shuffle_no_python(spark, sf_dir):
    """eTLD+1 extraction compiles to literal-set matches inside a narrow
    projection: zero exchanges, zero Python workers — the PSL 'join' is
    an In/InSet expression, not a join."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.functions.text import extract_domain

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = docs.select(
        extract_domain(F.concat(F.lit("https://a.b."), "source")).alias("d")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert plan.count("FileScan") == 1


def test_merge_cms_distributed_two_level_tree(spark, sf_dir):
    """The distributed CMS merge is exactly two grouped-map stages (the
    partial tree), never a driver collect: both levels appear as
    FlatMapGroupsInPandas and the output is one row."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.operators.sketches import (
        build_cms_sketches,
        merge_cms_distributed,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    days = events.withColumn("day", F.to_date("ts"))
    per_day = build_cms_sketches(days, ["day"], "event_type", eps=0.01)
    merged = merge_cms_distributed(per_day, partials=4)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 2
    assert merged.count() == 1


def test_dsir_bucketed_scoring_broadcasts_ratio_table(spark, sf_dir):
    """With num_buckets the ratio table is exactly B rows: the scoring
    join must be a BroadcastHashJoin (no shuffle of the gram explode),
    selection compiles to TakeOrderedAndProject, and nothing in the
    fit/score/select chain is a cartesian product."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.dsir import (
        dsir_log_weights,
        dsir_select,
        fit_dsir,
    )

    docs = read_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    raw = docs.filter("doc_id % 7 <> 0")
    target = docs.filter("doc_id % 7 = 0")
    w = dsir_log_weights(raw, fit_dsir(raw, target, num_buckets=1024))
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    plan2 = (
        dsir_select(w, 25)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan2


def test_strike_spans_hashed_keys_no_cartesian(spark, sf_dir):
    """The decontamination hit join ships 8-byte xxhash64 keys (the
    contamination recipe — never gram strings) and the whole plan is
    join/agg shaped: no cartesian product anywhere."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.contamination import (
        strike_contaminated_spans,
    )

    docs = read_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    out = strike_contaminated_spans(
        docs.filter("doc_id % 10 <> 0"), docs.filter("doc_id % 10 = 0"), n=5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "xxhash64" in plan
