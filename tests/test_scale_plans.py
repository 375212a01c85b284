"""Physical-plan regression tests — the 100 TB readiness gate.

Correctness says what a query returns; these tests pin HOW Spark will
execute it, because at 1000 executors the difference between a pushed
filter and a post-scan filter, or a broadcast and a shuffle join, is
the whole game.  Each assertion encodes a property a scale-up must
preserve; a code change that silently regresses one fails here first.
"""

from __future__ import annotations

import re

import pytest

from awsbatch_mapreduce_spark.plans import QUERIES
from awsbatch_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


# Registry-wide formatted plans are consumed by THREE sweeps (cartesian
# audit, broadcast budget, ladder pins); building 200+ plans once
# instead of per-sweep saves ~1-2 min of suite wall time (VERDICT r7
# #7).  Safe to memoize within a session: builders are deterministic
# and the cache key includes the fixture dir.
_PLAN_CACHE: dict[tuple[str, str], str] = {}


def _registry_plan(spark, name: str, sf_dir: str = SF_DIR) -> str:
    key = (name, sf_dir)
    if key not in _PLAN_CACHE:
        _PLAN_CACHE[key] = _plan(spark, QUERIES[name].builder(spark, sf_dir))
    return _PLAN_CACHE[key]


def test_filter_pushdown_reaches_scan(spark):
    """Raw-column predicates must appear in PushedFilters, not as a
    post-scan Filter only (SURVEY §4: the reference's prod path forgot
    even hand-pruning; Catalyst must not)."""
    plan = _plan(spark, QUERIES["q1_pricing_summary"].builder(spark, SF_DIR))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in p for p in pushed), plan[:2000]


def test_column_pruning_reaches_scan(spark):
    """The projection chain needs 5 of lineitem's 11 columns (2 keys +
    3 inputs of the derived x/y); the scan must read exactly those,
    not the full width."""
    plan = _plan(spark, QUERIES["bbox_filter_project"].builder(spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:2000]
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 5, f"scan reads too many columns: {read_cols}"
    assert "l_shipdate" not in read_cols and "l_returnflag" not in read_cols


def test_dimension_joins_broadcast(spark):
    """Small dims (nation, part) must broadcast, never shuffle the fact
    side for them."""
    for name in ["q10_returned_revenue", "q14_type_revenue_share"]:
        plan = _plan(spark, QUERIES[name].builder(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"


def test_no_cartesian_products_anywhere(spark):
    """No registered query may degenerate to CartesianProduct.
    (Broadcast nested-loop against a tiny broadcast side — e.g. the kNN
    query batch or a 1-row scalar — is fine; an unbroadcast cartesian is
    never fine.)"""
    offenders = []
    for name in QUERIES:
        if "CartesianProduct" in _registry_plan(spark, name):
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_wholestage_codegen_covers_agg(spark):
    """The flagship agg pipeline must run inside whole-stage codegen.
    AQE reports 0 subtrees before execution, so plan without it for
    this structural check (execution behavior is identical)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["frame_histogram2d"].builder(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "codegen"
            )
        )
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
        assert m and int(m.group(1)) >= 1, plan[:500]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key co-locates them: the join
    plan must contain NO shuffle Exchange (only the scan + SMJ).  This
    is the pre-partitioning strategy for repeated 100 TB fact-fact
    joins, where one upfront bucketed write amortizes every later join.
    """
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    # a previous interrupted run can leave the managed location behind
    # without a catalog entry — remove it or saveAsTable refuses
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("li_b", "o_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("li_b")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("o_b")
    joined = spark.table("li_b").join(
        spark.table("o_b"),
        spark.table("li_b").l_orderkey == spark.table("o_b").o_orderkey,
    )
    # at fixture scale the planner prefers broadcast (which ignores
    # bucketing); force the fact-fact regime the test models — a 100 TB
    # side is never broadcastable
    # save/RESTORE (not unset): unset falls back to Spark's 10m
    # default, but the session configures 64m — an unset here leaked a
    # different threshold into every later static-plan test and flipped
    # a borderline broadcast in the registry budget (round-7 flake)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, joined)
        assert "SortMergeJoin" in plan
        shuffle_exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
        assert not shuffle_exchanges, f"bucketed join still shuffles:\n{plan[:1500]}"
        n = joined.count()
        assert n == load_table(spark, SF_DIR, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_partition_pruning(spark, tmp_path):
    """Hive-style partitioned write + partition-filtered read: the scan
    must prune to one partition directory (PartitionFilters populated,
    only matching rows read)."""
    path = str(tmp_path / "li_parted")
    li = load_table(spark, SF_DIR, "lineitem")
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter("l_returnflag = 'R'")
    plan = _plan(spark, back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "l_returnflag" in m.group(1), plan[:2000]
    assert back.count() == li.filter("l_returnflag = 'R'").count()


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "ann_ivf_topk"])
def test_lsh_candidate_join_not_quadratic(spark, name):
    """The LSH/IVF scale paths must join on band/cell keys — their plans
    contain equi-joins (hash or sort-merge), never a full cross join of
    the corpus with itself."""
    plan = _plan(spark, QUERIES[name].builder(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_q4_semi_join_and_date_pushdown(spark):
    """The adapted Q4 must (a) stay a semi-join — no row blowup from
    multi-lineitem orders — and (b) push the order-date range into the
    orders scan."""
    plan = _plan(spark, QUERIES["q4_order_priority_checking"].builder(spark, SF_DIR))
    assert "LeftSemi" in plan, plan[:1500]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), plan[:2000]


def test_sampling_queries_shuffle_minimally(spark):
    """Hash-bucket sampling is a pure filter (zero exchanges); the
    split report needs exactly one exchange (the final aggregate).
    A regression that adds a shuffle here breaks the 'one scan over
    100 TB' cost model the operators are documented with."""
    plan = _plan(spark, QUERIES["stratified_sample_by_lang"].builder(spark, SF_DIR))
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), plan[:1500]
    plan = _plan(spark, QUERIES["train_val_test_split"].builder(spark, SF_DIR))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan[:1500]


def test_quantization_stays_jvm_side(spark):
    """int8 quantization must run as JVM array expressions — no Python
    UDF evaluation node may appear in the plan."""
    plan = _plan(spark, QUERIES["embedding_int8_quantization"].builder(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_doc_chunking_is_shuffle_free(spark):
    """Token-window chunking is per-row work — its plan must contain no
    Exchange at all and no Python evaluation node (all JVM HOFs)."""
    plan = _plan(spark, QUERIES["doc_chunk_windows"].builder(spark, SF_DIR))
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gapfill_spine_stays_broadcast(spark):
    """The gap-fill spine (hours x types) must join the hourly rollup
    via broadcast — densification must never shuffle proportionally to
    the spine, only to the fact rollup."""
    plan = _plan(spark, QUERIES["events_hourly_gapfill"].builder(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q2_dimensions_broadcast(spark):
    """Q2's part slice and regional supplier list are dimension-sized:
    both must broadcast onto the derived-partsupp rollup, leaving the
    lineitem aggregation as the only shuffle."""
    plan = _plan(spark, QUERIES["q2_min_cost_supplier"].builder(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_interval_join_is_equi_on_user(spark):
    """The click->purchase interval join must hash on user_id (equi
    component extracted), never degrade to a cartesian with a time
    filter."""
    plan = _plan(
        spark, QUERIES["interval_join_click_purchase"].builder(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_shuffle_hash_hint_is_honored(spark):
    """The SHUFFLE_HASH-hinted fact-fact join must plan as
    ShuffledHashJoin (no broadcast of the orders side, no sort-merge) —
    the strategy the operator documents for the 100 TB regime."""
    plan = _plan(
        spark, QUERIES["shuffle_hash_priority_revenue"].builder(spark, SF_DIR)
    )
    assert "ShuffledHashJoin" in plan, plan[:1500]


def test_window_group_limit_pushdown(spark):
    """Top-k-per-group must plan with WindowGroupLimit (rank-limit
    pushed below the full window sort): each partition keeps only k
    candidates before the shuffle, which is what makes per-entity
    top-k viable on a 100 TB fact table."""
    plan = _plan(
        spark, QUERIES["window_top_orders_per_customer"].builder(spark, SF_DIR)
    )
    assert "WindowGroupLimit" in plan, plan[:1500]


@pytest.mark.parametrize("name", ["q11_important_stock", "q15_top_supplier"])
def test_scalar_subquery_is_broadcast_not_global_window(spark, name):
    """The TPC-H scalar subqueries (global total / global max) must be
    a one-row aggregate broadcast-cross-joined onto the rollup.  An
    unpartitioned Window here drags the entire parts-/supplier-sized
    rollup through one partition at 100x scale (VERDICT r1 #4/#5)."""
    plan = _plan(spark, QUERIES[name].builder(spark, SF_DIR))
    assert "Window" not in plan, f"{name} still plans a window:\n{plan[:1500]}"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.parametrize(
    "name",
    ["q10_returned_revenue", "vocab_top_words", "token_df_heavy_hitters"],
)
def test_global_topk_is_take_ordered_not_window(spark, name):
    """Global top-k with rank output must plan the k-selection as a
    distributed TakeOrderedAndProject (per-partition heap + merge of
    k-row heads), with the unpartitioned rank window running only on
    the k survivors — never a global WindowExec over the full rollup
    (customer- / vocabulary-cardinality at 100x)."""
    plan = _plan(spark, QUERIES[name].builder(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, f"{name}:\n{plan[:1500]}"
    # A rank window may exist (q10/vocab emit a rank column;
    # token_df_heavy_hitters has none), but if it does it must CONSUME
    # the TakeOrdered output (k rows), not feed it: formatted explain
    # numbers operators leaf-first, so the Window's number must be
    # higher.
    ops = [l for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
    w_idx = [i for i, l in enumerate(ops) if "Window" in l]
    t_idx = [i for i, l in enumerate(ops) if "TakeOrderedAndProject" in l]
    assert t_idx, f"{name}: no TakeOrderedAndProject\n" + "\n".join(ops)
    if w_idx:
        assert min(w_idx) > max(t_idx), (
            f"{name}: window below the top-k\n" + "\n".join(ops)
        )


def test_domain_cap_uses_window_group_limit(spark):
    """The per-domain cap must plan as WindowGroupLimit so each task
    keeps <=10 candidates per domain before the shuffle — the same
    property that makes per-entity top-k viable on a 100 TB corpus."""
    plan = _plan(spark, QUERIES["domain_cap_sample"].builder(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan[:1500]


def test_token_budget_cumsum_is_band_partitioned(spark):
    """The corpus-wide cumulative sum must be two-level: the row-level
    window partitions on the score band; the only single-partition
    exchanges allowed are one-row scalar aggregates (the corpus token
    total), never the doc-level frame."""
    df = QUERIES["token_budget_threshold"].builder(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"windowspecdefinition\(band", plan), plan[:2000]
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            ctx = "\n".join(lines[max(0, i - 3) : i + 1])
            assert "HashAggregate(keys=[]" in ctx, (
                f"non-scalar single-partition exchange:\n{ctx}"
            )


def test_corpus_shard_plan_rank_is_partitioned(spark):
    """The export-shard permutation rank must be two-level: row_number
    partitioned by the md5-prefix bucket, with the 256-row offset
    rollup broadcast back — never a global ROW_NUMBER whose Exchange
    SinglePartition holds every doc id (VERDICT r1 #6).  The only
    single-partition exchange allowed is none at all: offsets use a
    broadcast triangle join over the bounded bucket domain."""
    plan = _plan(spark, QUERIES["corpus_shard_plan"].builder(spark, SF_DIR))
    assert re.search(r"row_number\(\) windowspecdefinition\(bucket", plan), (
        plan[:2000]
    )
    assert "Exchange SinglePartition" not in plan, plan[:2000]


@pytest.mark.parametrize(
    "name", ["customer_value_deciles", "customer_pareto_abc"]
)
def test_decile_and_pareto_windows_are_band_partitioned(spark, name):
    """The exact-NTILE rank (deciles) and the Pareto running sum must
    be two-level: the row-level window partitions on the
    percentile_approx band, never a global sort of the customer-scale
    input through one partition (VERDICT r2 #3/#4).  The only
    single-partition exchanges allowed are one-row scalar aggregates
    (the cut-point sketch merge, total count/revenue)."""
    df = QUERIES[name].builder(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"windowspecdefinition\(band", plan), plan[:2000]
    assert "ntile(" not in plan.lower(), plan[:2000]  # percentile_approx ok
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            ctx = "\n".join(lines[max(0, i - 3) : i + 1])
            assert "HashAggregate(keys=[]" in ctx, (
                f"{name}: non-scalar single-partition exchange:\n{ctx}"
            )


def test_wave3_queries_scale_shape(spark):
    """Wave-3 additions keep the repo's shuffle discipline: the CDC
    compaction and PageRank windows are key-partitioned (never
    unpartitioned), the bigram count join broadcasts its
    vocabulary-bounded side, and the only single-partition exchanges
    anywhere are one-row scalar aggregate merges."""
    shapes = {
        "events_cdc_latest_per_key": r"windowspecdefinition\(user_id",
        "pagerank_event_graph": r"windowspecdefinition\(user_id",
        "bigram_lm_familiarity": r"BroadcastHashJoin",
        "column_profile_documents": r"HashAggregate",
        "referential_integrity_audit": r"Join",
        # quantile ranks must window on the value band, not globally
        "events_quantiles_exact": r"windowspecdefinition\(event_type.*band",
        "containment_near_dup": r"Join",
        "salted_join_priority_revenue": r"__salt",
        # round 9: the power iteration localCheckpoints its cov/vector
        # frames (the unrolled lineage re-executed the fact-sized
        # covariance self-join per iteration — 9.0 s -> ~2.2 s at
        # sf0.01), so the returned frame is a scan of the checkpointed
        # d-row eigenvector, not a live aggregate chain
        "pca_top_component": r"Scan ExistingRDD",
        "trigram_novelty_score": r"Exchange hashpartitioning\(tg",
        "event_path_topk": r"TakeOrderedAndProject",
    }
    for name, pat in shapes.items():
        plan = (
            QUERIES[name]
            .builder(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert re.search(pat, plan), f"{name} missing {pat}:\n{plan[:1500]}"
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange SinglePartition" in l:
                ctx = "\n".join(lines[max(0, i - 3) : i + 1])
                assert "HashAggregate(keys=[]" in ctx, (
                    f"{name}: non-scalar single-partition exchange:\n{ctx}"
                )


def test_dynamic_partition_pruning(spark, tmp_path):
    """A selective dim filter joined on the partition column must
    inject a dynamicpruning expression into the fact scan's
    PartitionFilters — at scale this skips whole partition directories
    at runtime, the difference between scanning 100 TB and 1 TB."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "li_part")
    li = load_table(spark, SF_DIR, "lineitem")
    li.withColumn("ship_year", F.year("l_shipdate")).write.partitionBy(
        "ship_year"
    ).mode("overwrite").parquet(d)
    fact = spark.read.parquet(d)
    dim = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.year("o_orderdate").alias("ship_year"), "o_orderkey")
    )
    j = fact.join(dim, ["ship_year"]).groupBy("ship_year").count()
    plan = _plan(spark, j)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_detector_queries_scale_shape(spark):
    """Detectors (plans/detectors.py): PII redaction must stay a pure
    map stage (zero Exchange — at 100 TB it pipelines into the sink),
    and the OOV join must broadcast the tiny vocabulary rather than
    shuffle the token stream."""
    pii = _plan(spark, QUERIES["pii_detect_redact"].builder(spark, SF_DIR))
    assert "Exchange" not in pii, pii[:2000]
    oov = _plan(spark, QUERIES["vocab_oov_rate"].builder(spark, SF_DIR))
    assert "BroadcastHashJoin" in oov, oov[:2000]


def test_runtime_bloom_filter_injection(spark):
    """Runtime row-level bloom filtering: a selective dim predicate on
    a shuffle join must inject a might_contain() filter into the fact
    scan side — at 100 TB this drops non-matching fact rows before the
    exchange instead of shuffling them.  Thresholds are sized for
    clusters, so the test lowers the application-side floor to prove
    the optimizer wiring (production leaves the defaults)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR, "lineitem")
        o = (
            load_table(spark, SF_DIR, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy().count()
        plan = _plan(spark, j)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wave4_queries_scale_shape(spark):
    """Wave-4 additions keep the shuffle discipline: span/chunk dedup
    shuffles md5 digests (never text), the CDC chunk window is
    per-document, the skew profile plans its top-20 as distributed
    TakeOrderedAndProject, and the only single-partition exchanges are
    one-row scalar aggregate merges."""
    shapes = {
        "duplicated_span_fraction": r"Exchange hashpartitioning\(sh",
        "join_key_skew_profile": r"TakeOrderedAndProject",
        "content_defined_chunks": r"windowspecdefinition\(doc_id",
        "minhash_lsh_eval": r"Exchange hashpartitioning",
        "vocab_growth_curve": r"BroadcastNestedLoopJoin|BroadcastExchange",
        # PQ/ADC: codebook and query distance tables broadcast; the
        # encode argmin windows on (vec_id, m), never unpartitioned
        "ann_pq_adc_topk": r"windowspecdefinition\(vec_id",
        "hard_negative_mining": r"BroadcastExchange",
        "incremental_agg_merge": r"Union",
        "bootstrap_ci_order_value": r"Exchange hashpartitioning\(prio",
        # keyless range join must band to an EQUI-join on the bucket
        # key (any physical strategy; at fixture scale AQE may broadcast
        # the tiny side, at fact scale it hash-partitions on cb)
        "range_join_banded_global": r"Join \[cb",
        "weighted_doc_sample": r"TakeOrderedAndProject",
        "mixture_temperature_weights": r"HashAggregate",
        # lengths aggregate, tokens never explode
        "batch_padding_waste": r"HashAggregate",
    }
    for name, pat in shapes.items():
        plan = (
            QUERIES[name]
            .builder(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert re.search(pat, plan), f"{name} missing {pat}:\n{plan[:1500]}"
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange SinglePartition" in l:
                ctx = "\n".join(lines[max(0, i - 3) : i + 1])
                assert "HashAggregate(keys=[]" in ctx, (
                    f"{name}: non-scalar single-partition exchange:\n{ctx}"
                )


def test_wave5_queries_scale_shape(spark):
    """Wave-5 additions keep the shuffle discipline: per-user/lang
    windows are partitioned (never global), top-k plans as distributed
    TakeOrderedAndProject, the incremental-dedup membership test joins
    digests, and scalar cut-point tables broadcast.  (The two
    write-side queries — zorder_pruned_scan, bucketed_join_no_shuffle —
    have dedicated tests; building them here would re-write their
    tables.)"""
    shapes = {
        "nation_revenue_share": r"windowspecdefinition\(n_regionkey",
        "event_dwell_histogram": r"windowspecdefinition\(user_id",
        "events_ewma_halflife": r"windowspecdefinition\(user_id",
        "bigram_dice_topk": r"TakeOrderedAndProject",
        "incremental_dedup_new_docs": r"Exchange hashpartitioning\(fp|BroadcastExchange",
        "corpus_half_drift": r"HashAggregate",
        "events_mad_outliers": r"BroadcastExchange",
        "lang_distinctive_terms": r"windowspecdefinition\(lang",
        "customer_rfm_segments": r"BroadcastExchange",
        # prefix rarity rank is a per-doc window, never a global sort
        "dedup_prefix_filter": r"windowspecdefinition\(doc_id",
        "events_top_sessions": r"TakeOrderedAndProject",
        "shipping_delay_profile": r"Exchange hashpartitioning",
    }
    for name, pat in shapes.items():
        plan = (
            QUERIES[name]
            .builder(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert re.search(pat, plan), f"{name} missing {pat}:\n{plan[:1500]}"
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange SinglePartition" in l:
                ctx = "\n".join(lines[max(0, i - 3) : i + 1])
                assert "HashAggregate(keys=[]" in ctx, (
                    f"{name}: non-scalar single-partition exchange:\n{ctx}"
                )


def test_bucketed_join_has_no_join_exchange(spark):
    """With broadcast disabled (the fact-scale regime where neither
    side fits in memory), the bucketed orders-lineitem join must plan
    as a sort-merge join with NO exchange on either join key — the
    layout already co-partitions and co-sorts both sides."""
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            QUERIES["bucketed_join_no_shuffle"]
            .builder(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    assert "SortMergeJoin" in plan, plan[:1500]
    assert "Bucketed: true" in plan
    assert not re.search(
        r"Exchange hashpartitioning\((o_orderkey|l_orderkey)", plan
    ), plan[:2000]


def test_lsh_eval_truth_join_is_df_capped(spark):
    """The exact-Jaccard truth join in ``minhash_lsh_eval`` must never
    see an uncapped shingle universe: one boilerplate shingle in k docs
    makes k^2 pairs, so the plan has to carry the heavy-shingle cut —
    an anti-join against the df > 64 set — upstream of the self-join
    (VERDICT r3 What's-wrong #3).  Since the round-19 ladder migration
    the query checkpoints the capped universe at build time (the
    LeftAnti executes eagerly and the query plan reads an ExistingRDD),
    so the pin inspects the named pre-checkpoint frame every consumer
    shares (``dedup._capped_shingles``)."""
    from awsbatch_mapreduce_spark.plans.dedup import _capped_shingles

    plan = (
        _capped_shingles(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"LeftAnti", plan), plan[:1500]
    assert re.search(r"df#\d+L? > 64", plan), plan[:1500]


def test_dedup_ladder_reps_share_no_cache(spark):
    """No timed rep may reuse work cached by an earlier rep.  A lazy
    ``persist`` of the ladder's shingle frame let the bench's untimed
    warm-up leave a cached frame that Spark's CacheManager re-matched in
    every later run of the identical plan; the eager in-builder
    ``localCheckpoint`` keeps one compute per run without that.  The
    k-means fit's persisted final assignment follows the same rule in
    ``kmeans_embeddings`` and the SemDeDup queries.  Built and run
    twice, no query may leave a cache entry or read an
    ``InMemoryRelation`` — and the shared session holds none from
    earlier tests either."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    for name in (
        "dedup_minhash_lsh",
        "minhash_lsh_eval",
        "kmeans_embeddings",
        "semdedup_cluster_prune",
    ):
        for _ in range(2):
            df = QUERIES[name].builder(spark, SF_DIR)
            df.collect()
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" not in plan, (name, plan[:1500])
    assert cache.numCachedEntries() == 0


def test_prefix_filter_shuffles_digests_not_tokens(spark):
    """VERDICT r4 #3 (digests-not-bodies): every exchange in the
    prefix-filter dedup plan must partition on doc ids or the 16-char
    md5 digest column — the raw token string `w` exists only inside
    the tokenizer projection and must never be a shuffle key, so
    long-token corpora shuffle fixed-width digests."""
    plan = (
        QUERIES["dedup_prefix_filter"]
        .builder(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert exchanges, plan[:1500]
    for l in exchanges:
        assert not re.search(r"hashpartitioning\(w#", l), l
        assert re.search(r"hashpartitioning\((h|doc_id|id_a|id_b)#", l), l


# Broadcast hygiene (VERDICT r5 #1): the sf1 rehearsal OOM'd when a
# data-scaled intermediate of dedup_minhash_lsh was upgraded to a
# driver-built broadcast.  Every data-scaled side of the dedup/ANN
# ladders is now pinned to sort-merge via operators/hints.never_broadcast;
# the ONLY broadcasts these plans may contain are frames bounded by
# construction, enumerated per query below.
_LADDER_BOUNDED_BROADCASTS = {
    # pure shuffle-path plans: zero broadcasts of any kind
    "dedup_minhash_lsh": 0,
    "dedup_ngram_jaccard": 0,
    "dedup_embedding_cosine": 0,
    "containment_near_dup": 0,
    "dedup_prefix_filter": 0,
    "duplicated_span_fraction": 0,
    "content_defined_chunks": 0,
    "tfidf_top_term_per_doc": 0,
    # bounded broadcasts only: taus (4-row literal) + n_cand (1-row agg)
    "minhash_lsh_eval": 2,
    # the centroids are a COLLECTED literal since round 19 (the
    # assignment is a per-row expression — no broadcast, no exchange);
    # remaining sites: the vec_id<8 query batch + the probe-side
    # candidate frame
    "ann_ivf_topk": 2,
    # wave 18 (round 18): the filtered variant — identical 2 bounded
    # sites (centroids + query batch); the metadata semi-join side is
    # a lang slice of the corpus (data-scaled) and pinned sort-merge
    "ann_ivf_topk_filtered": 2,
    # query band keys + query vectors (both vec_id < 8)
    "ann_lsh_topk": 2,
    # the 1-row mid scalar, cross-joined on both corpus halves
    "incremental_dedup_new_docs": 2,
    # the vec_id < 8 query batch
    "knn_bruteforce_cosine": 1,
    # wave-7: pair frame x doc->source projection, both O(corpus), both
    # pinned; the aggregate output is |sources|^2-bounded
    "near_dup_source_matrix": 0,
    # wave-7: explode + rollup only, no joins at all
    "df_cap_candidate_curve": 0,
    # wave-7: the union of the knn (1) and ivf (2) bounded broadcasts;
    # the truth-vs-approx recall join itself plans as a shuffle join
    # (both sides k x |queries|, bounded either way)
    "ann_recall_eval": 3,
    # codebook (10x8x8 rows, broadcast at both its scan sites) + the
    # per-query ADC distance table (|queries| x 8 x 10 rows)
    "ann_pq_adc_topk": 3,
    # the PQ plan's 3 + knn's query batch
    "ann_pq_recall_eval": 4,
    # wave-7 batch 2: scan->aggregate plans, no joins at all
    "source_quality_profile": 0,
    "emb_band_load_histogram": 0,
    # ngram pair plan (0 broadcasts) + bounded-bucket window on top
    "jaccard_threshold_curve": 0,
    # the dedup_minhash_lsh pipeline + two signature lookups, all
    # data-scaled and pinned
    "minhash_calibration": 0,
    # same pinned pipeline as the exact prefix filter, plus the pinned
    # rare-vocabulary semi-join
    "dedup_prefix_filter_capped": 0,
    # token rollup only, no joins
    "source_token_concentration": 0,
    # the half-vs-half join of two |labels|x|dims|-bounded centroid
    # frames — broadcast is the correct plan for it
    "embedding_centroid_drift": 1,
}


@pytest.mark.parametrize("name", sorted(_LADDER_BOUNDED_BROADCASTS))
def test_dedup_ladder_never_broadcasts_data_scaled_sides(spark, name):
    """No data-scaled frame (bands, candidates, shingles/tokens, per-doc
    sizes, vocabulary, seen-set, corpus vectors) may plan as a
    broadcast: the distinct BroadcastExchange count must equal the
    enumerated bounded-broadcast count exactly, so any new broadcast —
    static or introduced by a plan change — fails here before it can
    OOM a scaled run.  (Merge hints are honored ahead of size-based
    selection at AQE re-planning too, so runtime upgrades are also
    excluded.)"""
    tree = _registry_plan(spark, name).split("\n\n")[0]
    # node ids dedupe the re-display of cached subtrees (InMemoryRelation
    # repeats its child plan at every scan site)
    got = len(set(re.findall(r"BroadcastExchange \((\d+)\)", tree)))
    want = _LADDER_BOUNDED_BROADCASTS[name]
    assert got == want, (
        f"{name}: {got} distinct BroadcastExchange nodes, expected {want}"
        f" (bounded-by-construction only)\n{tree[:3000]}"
    )


# Registry-wide broadcast budget (VERDICT r6 #2): the enumeration now
# covers EVERY registered query, not just the dedup/ANN ladders.  Counts
# are distinct BroadcastExchange nodes in the statically-planned
# formatted explain at the test fixture scale.  Classification doctrine
# (SCALING.md "Broadcast hygiene"):
#   - bounded-by-construction frames (dims, scalar/quantile/top-k
#     aggregates, iteration codebooks, literal spines, query batches)
#     broadcast correctly at ANY corpus size;
#   - DIRECT SCAN subtrees (Filter/Project over parquet) may broadcast
#     at test scale because Catalyst's estimate tracks file size — the
#     same query re-plans them as shuffle joins when the table is big,
#     which is the correct adaptive behavior, so they are enumerated,
#     not pinned;
#   - derived O(corpus) frames with untrustworthy estimates
#     (MapInPandas outputs, checkpointed iteration frames, exploded
#     candidate sets) must NEVER broadcast — those carry
#     `never_broadcast` pins and contribute 0 here.
# Any new broadcast that shifts a count fails this gate before it can
# OOM a scaled run.
_REGISTRY_BROADCAST_BUDGET = {
    # Round-19 re-audit (all semdedup/codebook/kmeans rows): the coarse
    # assignment — in kmeans_fit's loop AND in every probe/admission
    # path (index/codebook.assign_to_cells_collected / assign_topk_cells_
    # collected) — now applies the bounded codebook as a COLLECTED
    # LITERAL expression instead of a broadcast crossJoin, so those
    # BroadcastExchange sites disappear from the static plans (e.g.
    # recall sweeps 19 -> 2, pointer lifecycles 2-6 -> 0-1).  The
    # remaining rows are genuinely-bounded non-codebook sides
    # (tombstone sets, sampled panels, eps grids, scalar totals).
    # wave 10 (round 9, re-audited round 18): the shared sim pipeline's
    # bounded broadcasts.  Since kmeans_fit rebuilds each iteration's
    # codebook as a DRIVER LITERAL (round-18 optimization — the
    # collected frame is the k x dim codebook that was always
    # driver-broadcast), only the FINAL iteration's literal book
    # remains in the returned lineage: 1 codebook site + the cell-size
    # frame's sites + the literal eps grid + the 1-row sample total
    "semdedup_eps_curve_sampled": 5,
    # probe plan: the k-row persisted codebook at its 2 consumption
    # sites (assignment feeding the hits side and the retention base);
    # the members membership join and the hits retention join are
    # data-scaled and pinned — and the bucketed members scan feeds the
    # SMJ with no exchange (tests/test_semdedup_novelty.py)
    "semdedup_codebook_novelty": 0,
    # wave 11 (round 11): the bounded k0-row COARSE codebook at its 2
    # consumption sites (probe frame feeding hits + the output base);
    # the GROWING fine codebook and members sides are pinned sort-merge
    # and read their bucket specs with no exchange
    # (tests/test_wave11.py)
    "semdedup_codebook_capacity": 0,
    # same shared probe plan (`index.probe.probe`) with the grown
    # k0 = ceil(sqrt(n/cap)) coarse book — still bounded (sqrt-grade),
    # still exactly 2 sites; fine/members sides identical pins
    "semdedup_codebook_adaptive": 0,
    # wave 12 (round 13): the returned frame is the shared wave-11
    # probe against the GROWN app tables — same 2 bounded coarse-book
    # sites (the append step's k0-row sub-offset broadcast executes
    # eagerly inside the builder, before this plan; test_codebook_lifecycle_append pins
    # the probe plan's exchange-free fine/members sides)
    "semdedup_codebook_adaptive_append": 0,
    # wave 13 (round 14): the refit lifecycle returns the same shared
    # wave-11 probe plan, now against the REFITTED generation — the
    # identical 2 bounded coarse-book sites (audited lineage matches
    # the adaptive/append twins exactly: one direct embeddings-scan
    # subtree Catalyst may re-plan at scale, one k0'-row book); the
    # refit's own Lloyd fit executes eagerly inside the builder
    "semdedup_codebook_refit": 0,
    # wave 13 (round 14): nprobe=2 doubles the single-probe plan's two
    # bounded sites exactly — one direct probe-scan subtree + one
    # k0-row coarse-book site PER PROBED RANK (audited lineages
    # [emb, emb, -, -]); fine/members stay pinned sort-merge
    # (tests/test_wave13.py pins the full plan shape)
    "semdedup_codebook_multiprobe": 0,
    # wave 13 (round 14): the QA harness composes the single-probe
    # plan (2) + the nprobe=2 plan (4) over one shared fit, plus the
    # BOUNDED 64-vector panel at its truth-join site and the 1-row
    # truth-total scalar frame — every site is a literal-range panel,
    # a k0-row book, or a scalar; the seen side of the truth join is
    # the un-broadcast scan (panel widened 64 -> 256 in round 15, same
    # literal-range construction)
    "semdedup_codebook_recall_eval": 2,
    # wave 14 (round 15): the recall/cost sweep composes the
    # single-probe plan (2) + the rank-k multiprobe at nprobe=2 (4)
    # and nprobe=4 (one direct probe-scan subtree + one k0-row
    # coarse-book site per probed rank) over one shared fit, plus the
    # md5-top-256 panel at its truth-join site (bounded by a literal
    # LIMIT; the panel frame itself is localCheckpoint-materialized
    # before the plan, so its own top-k does not appear here) and the
    # 1-row truth-total scalar — every site is a k0-row book, the
    # 256-row panel, or a scalar; the seen side of the truth join and
    # the fine/members probe sides stay un-broadcast (never_broadcast
    # pins inside the shared probe bodies)
    "codebook_recall_sweep_cap16": 2,
    "codebook_recall_sweep_cap64": 2,
    "codebook_recall_sweep_cap512": 2,
    # wave 14 (round 15): the pointer lifecycle returns the shared
    # wave-11 probe plan against the generation the pointer names —
    # the identical 2 bounded coarse-book sites as the refit query
    # (fit/admit/refit/cutover/vacuum all execute eagerly inside the
    # builder before this plan is captured)
    "codebook_pointer_lifecycle": 0,
    # wave 14 (round 15): the IVFPQ re-rank probe — the shared
    # assignment's 2 bounded sites (direct probe-scan subtree + k0-row
    # coarse book) + the PERSISTED k x subspaces x dims PQ codebook at
    # its distance-table site + the bounded per-vector distance-table
    # frame itself; the codes and members scans stay exchange-free
    # sort-merge off their (cell, sub) bucket specs (pinned in
    # tests/test_wave14.py)
    "codebook_pq_rerank_probe": 1,
    # wave 15 (round 16): the pointer-lifecycle ADC query returns the
    # shared PQ re-rank plan against the generation the pointer names —
    # the identical 4 bounded sites as codebook_pq_rerank_probe (the
    # fit/codes/admit/refit/cutover/vacuum sequence executes eagerly
    # inside the builder before this plan is captured)
    "codebook_pointer_lifecycle_adc": 1,
    # wave 15 (round 16): the quality-escalation refit returns the
    # shared wave-11 probe plan against the cap-64 generation the
    # pointer names — the identical 2 bounded coarse-book sites as
    # codebook_pointer_lifecycle (cap changes table contents, not the
    # probe plan shape)
    "codebook_quality_refit_lifecycle": 0,
    # wave 16 (round 17): the pointer-served rank-2 multiprobe — the
    # shared coarse-book sites of the single-probe plan (direct
    # probe-scan subtree + k0-row coarse book) + the rank-2 exclusion
    # pass's 2 further coarse-book sites (the struct-min re-evaluation
    # broadcasts the SAME bounded k0 book; see index.probe._assign
    # — r x broadcast-side compute, zero extra exchange); fine/members
    # stay pinned sort-merge
    "codebook_pointer_nprobe_serving": 0,
    # wave 16 (round 17): the rank-2 ADC path = the 4 bounded
    # multiprobe-assignment sites above + the PERSISTED bounded PQ
    # codebook at its distance-table site + the bounded per-vector
    # distance-table frame (the same 2 PQ sites as
    # codebook_pq_rerank_probe); codes/members exchange-free off their
    # bucket specs
    "codebook_pointer_adc_multiprobe": 1,
    # wave 16 (round 17): the escalated-cap ADC probe returns the
    # shared single-probe PQ re-rank plan against the cap-64 pq
    # generation the pointer names — the identical 4 bounded sites as
    # codebook_pq_rerank_probe (cap changes table contents, not plan
    # shape; the lifecycle executes eagerly inside the builder)
    "codebook_adc_escalated_refit": 1,
    # wave 17 (round 18): deletion WITHOUT refit — the single-probe
    # plan's 2 bounded coarse-book sites + the TOMBSTONE anti-join's
    # broadcast (bounded by deletion-request volume, the one small
    # side this family allows; members keep their bucket distribution
    # — a broadcast join preserves the streamed child's partitioning)
    "codebook_tombstone_probe": 1,
    # wave 17 (round 18): deletion THEN refit — the refit cleared the
    # tombstones, so the probe is the plain single-probe plan (2
    # bounded coarse-book sites, no anti-join left in the plan)
    "codebook_tombstone_refit": 0,
    # wave 18 (round 18): deletion x PQ — the ADC probe's bounded
    # coarse-book sites (5: the assignment + PQ sub-assignment consume
    # the k0-row book at every re-evaluation site) + the bounded
    # per-vector ADC distance-table frame (1) + the TOMBSTONE set at
    # its 2 anti-join sites, members and codes (bounded by
    # deletion-request volume, the one small side this family allows)
    "codebook_tombstone_adc": 3,
    # wave 17 (round 18): the greedy LSH gate returns a union of
    # localCheckpoint()'d per-batch verdicts (the lifecycle executes
    # eagerly inside the builder, the codebook_adc_escalated_refit
    # precedent); the band/membership joins inside each stage are
    # data-scaled x data-scaled and pinned sort-merge
    "lsh_admission_gate": 0,
    # wave 17 (round 18): the takedown variant — same eager
    # checkpointed-verdict shape; the removal's anti-join runs inside
    # remove_docs_from_band_index's rewrite, not in the returned plan
    "lsh_gate_takedown": 0,
    # wave 9 (round 8, re-audited round 18): the kmeans codebook
    # lineage — now the final iteration's literal book only (the
    # round-18 driver-literal loop, see semdedup_eps_curve_sampled) +
    # the init's 1 centroid site + the k-row cell-size frame at m's 3
    # consumption sites (pa/pb/retention base); the intra-cell pair
    # join and the retention join are data-scaled and pinned
    "semdedup_cluster_prune": 3,
    # probe plan: bucketed index scan + pinned band/membership joins,
    # no broadcasts anywhere (the mid boundary is a Python literal
    # here, not a broadcast scalar frame)
    "lsh_band_index_lifecycle": 0,
    # the shared sim pipeline's bounded broadcasts — final literal
    # codebook site (round-18 driver-literal loop) + cell-size frame at
    # pa/pb's 2 sites + the literal eps grid + the 1-row corpus total
    "semdedup_eps_retention_curve": 4,
    # wave 8 (round 7): pure shuffle-path skew-safe twins
    "salted_topk_orders_per_customer": 0,
    "dedup_minhash_lsh_bucket_capped": 0,
    "dup_clique_size_histogram": 0,
    "sessionization_time_sliced": 0,
    "shingle_df_cap_curve": 0,
    # wave 8 batch 2: digest rollups only, no joins
    "split_leakage_audit": 0,
    # the canonical-assignment closure (0, its own audited budget)
    # plus two bounded rollups
    "near_dup_component_histogram": 0,
    # the |labels| x 64 centroid frame — bounded by construction
    "embedding_label_outliers": 1,
    # docs x prefix-group-sizes membership join, both O(corpus), pinned
    "dup_quality_correlation": 0,
    # digest-keyed span joins, all data-scaled, all pinned
    "span_dedup_retention": 0,
    # the 1-row mid scalar at its 3 cross-join sites (both band halves
    # + the new-docs filter); the band probe and nn membership joins
    # are data-scaled and pinned
    "incremental_lsh_novelty": 3,
    # per-lang totals t (2 sites) + the p10 cut frame — all bounded by
    # the (lang x token-count) histogram domain
    "lang_token_p10_gate": 3,
    "analyze_table_stats": 0,
    "anti_join_customers_without_orders": 1,  # bcast lineage: orders
    "approx_sketches": 0,
    "asof_join_purchase_attribution": 0,
    "batch_padding_waste": 0,
    "bbox_filter_project": 0,
    "bbox_summary_stats": 0,
    "bigram_dice_topk": 2,  # bcast lineage: documents
    "bigram_lm_familiarity": 1,  # bcast lineage: documents
    "bootstrap_ci_order_value": 2,  # bcast lineage: orders
    "bucketed_join_no_shuffle": 1,
    "cogroup_user_activity_reconcile": 0,
    "cohort_retention_daily": 1,  # bcast lineage: events
    "column_profile_documents": 0,
    "conversion_funnel_users": 5,  # bcast lineage: events
    "corpus_curation_funnel": 0,
    "corpus_half_drift": 3,  # bcast lineage: documents
    "corpus_mixture_epochs": 0,
    "corpus_pack_sequences": 0,
    "corpus_shard_plan": 2,  # bcast lineage: documents
    "csv_roundtrip_part_summary": 0,
    "cube_status_priority": 0,
    "customer_pareto_abc": 6,  # bcast lineage: orders
    "customer_rfm_segments": 1,  # bcast lineage: orders
    "customer_value_deciles": 7,  # bcast lineage: customer
    "data_quality_report": 1,  # bcast lineage: orders
    "dataset_snapshot_diff": 0,
    "decimal_exact_revenue": 0,
    "decontaminate_train_vs_eval": 1,  # bcast lineage: documents
    "dedup_canonical_assignment": 0,
    "dedup_cluster_size_histogram": 0,
    "dedup_exact": 0,
    "dedup_simhash": 0,
    "distinct_customers_per_status": 0,
    "doc_chunk_windows": 0,
    "doc_embedding_join_profile": 1,  # bcast lineage: documents
    "domain_cap_sample": 0,
    "drift_union_normalize": 0,
    "embedding_centroid_per_label": 0,
    "embedding_int8_quantization": 0,
    "embedding_norms": 0,
    "entity_resolution_blocked": 1,  # bcast lineage: customer
    "event_dwell_histogram": 0,
    "event_path_topk": 0,
    "event_transition_matrix": 0,
    "event_type_cooccurrence": 2,  # bcast lineage: events
    "events_cdc_latest_per_key": 0,
    "events_ewma_halflife": 0,
    "events_fill_forward": 0,
    "events_hourly_gapfill": 2,  # bcast lineage: events
    "events_hourly_unique_users": 0,
    "events_json_extract": 0,
    "events_mad_outliers": 3,  # bcast lineage: events
    "events_quantiles_exact": 6,  # bcast lineage: events
    "events_rolling_7d_active_users": 1,  # bcast lineage: events
    "events_session_window_native": 0,
    "events_sessionization": 0,
    "events_sliding_windows": 0,
    "events_top_sessions": 0,
    "events_trailing_hour_range_frame": 0,
    "events_tumbling_hourly": 0,
    "events_user_activity_pivot": 0,
    "events_winsorized_stats": 1,  # bcast lineage: events
    "events_zscore_outliers": 1,  # bcast lineage: events
    "except_custkeys": 1,  # bcast lineage: orders
    "feature_hashing_sparse": 0,
    "frame_histogram2d": 0,
    "full_outer_nation_coverage": 0,
    "grouped_map_regression": 0,
    "grouping_sets_revenue": 0,
    "hard_negative_mining": 1,  # bcast lineage: embeddings
    "higher_order_array_ops": 0,
    "incremental_agg_merge": 0,
    "intersect_custkeys": 1,  # bcast lineage: orders
    "interval_join_click_purchase": 1,  # bcast lineage: events
    "inverted_index_postings": 0,
    "join_key_skew_profile": 1,  # bcast lineage: lineitem
    "json_malformed_handling": 0,
    # re-audited round 18 (driver-literal loop): the final iteration's
    # literal codebook + the persisted assignment's cached-plan site
    "kmeans_embeddings": 0,
    "lang_distinctive_terms": 3,  # bcast lineage: documents
    "lang_id_confusion": 0,
    "lsh_band_load_histogram": 0,
    "manifest_json_roundtrip": 0,
    "map_mktsegment_stats": 0,
    "mercator_projection": 0,
    "mixture_temperature_weights": 1,  # bcast lineage: documents
    "month_manifest": 0,
    "monthly_frames_ordered": 0,
    "monthly_revenue_mom_change": 0,
    "multimodal_audio_energy": 0,
    "multimodal_binary_stats": 0,
    "multimodal_decode_features": 0,
    "multimodal_frame_sample": 0,
    "multimodal_resize": 0,
    "multimodal_visual_near_dup": 0,
    "nation_customer_extremes": 1,
    "nation_revenue_share": 3,  # bcast lineage: customer
    "nation_segment_listagg": 1,
    "ngram_boilerplate_ratio": 1,  # bcast lineage: documents
    "orc_roundtrip_orders_summary": 0,
    "orders_above_customer_avg": 0,
    "orders_weekday_seasonality": 0,
    "orders_with_lineitem_stats": 1,  # bcast lineage: orders
    "pagerank_event_graph": 10,  # bcast lineage: events
    # round 9: cov/vector localCheckpoints collapse the unrolled
    # power-iteration lineage (was 435 broadcast nodes from the per-
    # iteration re-plan of the covariance build); the returned frame
    # scans the checkpointed eigenvector — zero live broadcasts
    "pca_top_component": 0,
    "pii_detect_redact": 0,
    "price_histogram_width_bucket": 0,
    "pysource_month_manifest": 0,
    "q10_returned_revenue": 3,  # bcast lineage: customer, orders
    "q11_important_stock": 7,  # bcast lineage: lineitem
    "q12_shipping_speed_priority": 1,  # bcast lineage: orders
    "q13_customer_order_distribution": 1,  # bcast lineage: orders
    "q14_type_revenue_share": 1,
    "q15_top_supplier": 2,  # bcast lineage: lineitem
    "q16_supplier_part_counts": 2,
    "q17_small_quantity_revenue": 2,  # bcast lineage: lineitem
    "q18_large_orders": 2,  # bcast lineage: customer, orders
    "q19_disjunctive_predicates": 1,
    "q1_pricing_summary": 0,
    "q20_concentrated_suppliers": 5,  # bcast lineage: lineitem
    "q21_sole_late_supplier": 2,  # bcast lineage: orders
    "q22_wealthy_inactive_customers": 2,  # bcast lineage: customer, orders
    "q2_min_cost_supplier": 4,
    "q3_shipping_priority": 2,  # bcast lineage: customer, orders
    "q4_order_priority_checking": 1,  # bcast lineage: lineitem
    "q5_nation_revenue": 5,  # bcast lineage: customer, orders
    "q6_forecast_revenue": 0,
    "q7_nation_trade_volume": 5,  # bcast lineage: customer, orders
    "q8_market_share": 3,  # bcast lineage: orders
    "q9_nation_profit": 5,  # bcast lineage: lineitem, orders
    "range_join_banded_global": 1,  # bcast lineage: events
    "range_join_error_context": 1,  # bcast lineage: events
    "recursive_key_lineage": 0,
    "referential_integrity_audit": 5,  # bcast lineage: customer, orders
    "rollup_region_nation": 2,
    "salted_join_priority_revenue": 1,  # bcast lineage: orders
    "scalar_functions_showcase": 0,
    "scd2_user_value_intervals": 0,
    "semi_join_customers_with_open_orders": 1,  # bcast lineage: orders
    "shipping_delay_profile": 1,  # bcast lineage: orders
    "shuffle_hash_priority_revenue": 0,
    "sql_registered_udf_mercator": 0,
    "stats_numeric_profile": 0,
    "stratified_sample_by_lang": 0,
    "text_bpe_token_count": 0,
    "text_compression_ratio": 0,
    "text_fingerprint": 0,
    "text_language_id": 0,
    "text_quality_score": 0,
    "text_repetition_score": 0,
    "text_token_stats": 0,
    "text_unigram_logprob": 2,  # bcast lineage: documents
    "tile_pyramid_counts": 0,
    "token_budget_threshold": 3,  # bcast lineage: documents
    "token_df_heavy_hitters": 0,
    "tokenize_with_vocab": 1,  # bcast lineage: documents
    "top_customers": 1,  # bcast lineage: customer
    "train_val_test_split": 0,
    "trigram_novelty_score": 1,  # bcast lineage: documents
    "udaf_geomean_value": 0,
    "udtf_word_explode": 0,
    "union_all_priority_counts": 0,
    "unpivot_status_metrics": 0,
    "url_domain_stats": 0,
    "user_engagement_profile": 0,
    "variant_json_extract": 0,
    "vocab_growth_curve": 7,  # bcast lineage: documents
    "vocab_oov_rate": 1,  # bcast lineage: documents
    "vocab_top_words": 0,
    "weighted_doc_sample": 0,
    "window_analytics_order_profile": 0,
    "window_running_revenue": 0,
    "window_top_orders_per_customer": 0,
    "zorder_pruned_scan": 0,
}



@pytest.mark.parametrize("name", sorted(_REGISTRY_BROADCAST_BUDGET))
def test_registry_broadcast_budget(spark, name):
    """Whole-registry twin of the ladder test above: the distinct
    BroadcastExchange count of every remaining query's static plan must
    match the audited budget exactly — a new broadcast anywhere in the
    registry (plan change, upstream refactor, accidental hint loss) is
    a scale-hygiene event that must be reviewed, not silently shipped."""
    tree = _registry_plan(spark, name).split("\n\n")[0]
    got = len(set(re.findall(r"BroadcastExchange \((\d+)\)", tree)))
    want = _REGISTRY_BROADCAST_BUDGET[name]
    assert got == want, (
        f"{name}: {got} distinct BroadcastExchange nodes, budget {want}\n"
        f"{tree[:3000]}"
    )


def test_broadcast_budget_covers_whole_registry():
    """Completeness gate for the audit itself: every registered query
    must appear in exactly one of the two broadcast enumerations, so a
    new @query registration cannot ship without a reviewed broadcast
    budget (the failure mode VERDICT r6 #2 flagged: legal at sf0.01,
    broadcast-upgradeable at scale, invisible until a rehearsal OOMs).
    """
    audited = set(_LADDER_BOUNDED_BROADCASTS) | set(_REGISTRY_BROADCAST_BUDGET)
    registry = set(QUERIES)
    missing = sorted(registry - audited)
    stale = sorted(audited - registry)
    assert not missing, f"queries with no broadcast budget: {missing}"
    assert not stale, f"budget rows for unregistered queries: {stale}"
    both = sorted(set(_LADDER_BOUNDED_BROADCASTS) & set(_REGISTRY_BROADCAST_BUDGET))
    assert not both, f"queries audited twice (ambiguous budget): {both}"


def test_count_action_prunes_probe_joins(spark):
    """Regression pin for the round-7 harness lesson (SCALING.md "The
    measurement action matters"): a derived count() plan lets Catalyst
    eliminate incremental_lsh_novelty's final left join (right side
    unique on doc_id) and, transitively, the ENTIRE LSH probe feeding
    it — so any timing/shuffle measurement MUST execute the frame's
    own plan.  If Catalyst ever stops pruning here the rehearsal
    doctrine is merely redundant; if this test fails the other way
    (own plan loses its joins), the query itself broke."""
    df = QUERIES["incremental_lsh_novelty"].builder(spark, SF_DIR)
    own = _plan(spark, df)
    cnt = _plan(spark, df.groupBy().count())
    assert "SortMergeJoin" in own, own[:1500]
    assert "SortMergeJoin" not in cnt, (
        "count() no longer prunes the probe — rehearsal doctrine "
        "unaffected, but update SCALING.md's account\n" + cnt[:1500]
    )


def test_scan_audit_matches_committed(spark):
    """Registry-wide column-pruning pin (round 9): SCAN_AUDIT.json maps
    every query to the ReadSchema widths of its parquet scans; a lost
    projection pushdown ANYWHERE in the registry widens a scan and
    fails this pin with a one-line diff to review.  Regenerate with
    `python scripts/gen_scan_audit.py` after a deliberate plan change.
    Like the broadcast budget, this is an enumeration, not a judgment
    — full-width scans that are correct (profilers, snapshots) are
    simply recorded."""
    import json
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    from gen_scan_audit import extract_scans, n_shuffles

    with open(os.path.join(root, "SCAN_AUDIT.json")) as fh:
        committed = json.load(fh)["queries"]
    assert set(committed) == set(QUERIES), (
        "SCAN_AUDIT.json query set is stale — run scripts/gen_scan_audit.py"
    )
    bad = {}
    for name in QUERIES:
        plan = _registry_plan(spark, name)
        got = {"scans": extract_scans(plan), "n_shuffles": n_shuffles(plan)}
        if got != committed[name]:
            bad[name] = {"plan": got, "committed": committed[name]}
    assert not bad, f"scan widths / shuffle counts drifted (review + regenerate): {bad}"


def test_no_full_width_fact_scans(spark):
    """The absolute floor under the audit: no registered query may read
    the FULL width of the two wide fact tables (lineitem 16 cols,
    orders 9) — every consumer needs a proper subset today, so a
    16/9-wide scan can only mean a lost projection.  (Documents/events
    profilers legitimately read full width; facts have no such
    consumer.)"""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCAN_AUDIT.json")) as fh:
        committed = json.load(fh)["queries"]
    offenders = [
        (name, table, widths)
        for name, entry in committed.items()
        for table, widths in entry["scans"].items()
        if (table == "lineitem" and max(widths) >= 16)
        or (table == "orders" and max(widths) >= 9)
    ]
    assert not offenders, offenders
