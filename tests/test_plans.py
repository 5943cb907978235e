"""Physical-plan quality gates: these assert the *shape* of execution, not
just results — filters reach the parquet scan, projections prune columns,
small dimensions broadcast, and no Python UDF sneaks into hot paths.
This is the 100 TB insurance: a plan that scans all columns or shuffles a
dimension table is wrong even when its output is right."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from batch_processing_iac_aws_spark.catalog import load_table
from batch_processing_iac_aws_spark.plans import QUERIES

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan_tree_of(df) -> str:
    """Just the operator tree (formatted explain repeats every operator in a
    detail section below the tree, which would double every count)."""
    return plan_of(df).split("\n\n")[0]


def test_filter_pushdown_reaches_scan(spark):
    l = load_table(spark, SF, "lineitem")
    df = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_column_pruning_reaches_scan(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF)
    plan = plan_of(df)
    # only the four referenced columns are read
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in plan


def test_q5_broadcasts_dimensions(spark):
    plan = plan_tree_of(QUERIES["q5_region_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    # the only sort-merge/shuffle join permitted is lineitem x orders
    assert plan.count("SortMergeJoin") <= 1


def test_q1_single_shuffle(spark):
    plan = plan_tree_of(QUERIES["q1_pricing_summary"](spark, SF))
    assert plan.count("Exchange") <= 1  # one agg shuffle, partials map-side
    assert "HashAggregate" in plan


def test_no_python_udfs_in_registered_queries(spark):
    """Everything except the explicitly-pandas multimodal path must stay
    JVM-side (BatchEvalPython/ArrowEvalPython absent from plans)."""
    # udf_rowwise_python is the deliberate slow-path demo; the multimodal
    # and resize/frame paths are Arrow-batched mapInPandas by design
    allowed_python = {
        "multimodal_features",
        "multimodal_resize",
        "multimodal_frames",
        "udf_rowwise_python",
        "udtf_chunk_words",  # the UDTF demo IS Python fan-out by design
    }
    for name, fn in QUERIES.items():
        if name in allowed_python or name == "streaming_tumbling":
            continue
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"


def test_whole_stage_codegen_on_flagship(spark):
    # under AQE the pre-execution plan hides codegen ids, so check the
    # non-adaptive plan: every operator around the Exchange must codegen
    df = QUERIES["interval_expand"](spark, SF)
    # load_table re-applies runtime conf, so disable AQE *after* building —
    # the physical plan is only materialized at explain time
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "codegen id" in plan


def test_tpch_extra_no_shuffle_joins_on_dims(spark):
    """Every dimension join in the extended TPC-H set must broadcast; no
    sort-merge join should appear at test scale."""
    for name in (
        "q7_nation_volume",
        "q8_market_share",
        "q9_product_profit",
        "q18_large_orders",
        "q16_supplier_relationship",
        "q20_excess_suppliers",
    ):
        tree = plan_tree_of(QUERIES[name](spark, SF))
        assert tree.count("SortMergeJoin") == 0, f"{name} shuffles a join"
        assert tree.count("BroadcastHashJoin") >= 1, f"{name} lost broadcast"


def _hint_violations(node, under_hint=False):
    """Walk an analyzed logical plan (py4j): collect leaf relations that sit
    under a ResolvedHint without an intervening Aggregate. An Aggregate
    bounds the frame (scalar/grouped rollup), so hinting it is fine; a raw
    customer/supplier scan under a broadcast hint is a 100 TB OOM."""
    viol = []
    sname = node.getClass().getSimpleName()
    if under_hint and sname == "Aggregate":
        return viol
    children = []
    it = node.children().iterator()
    while it.hasNext():
        children.append(it.next())
    if under_hint and not children:
        names = set()
        out = node.output().iterator()
        while out.hasNext():
            names.add(out.next().name())
        if "c_custkey" in names or "s_suppkey" in names:
            viol.append(sorted(names)[:4])
    under_hint = under_hint or sname == "ResolvedHint"
    for ch in children:
        viol += _hint_violations(ch, under_hint)
    return viol


def test_no_forced_broadcast_on_scaling_tables(spark):
    """customer and supplier GROW with scale factor (~15 B / 1 B rows at
    TPC-H 100 TB): an explicit F.broadcast on them bypasses AQE's size
    check and OOMs every executor. Explicit hints are reserved for bounded
    frames — nation, region, filtered part, and aggregates."""
    for name in (
        "q3_shipping_priority", "q5_region_revenue", "q7_nation_volume",
        "q8_market_share", "q9_product_profit", "q10_top_customers",
        "q11_important_stock", "q15_top_supplier", "q16_supplier_relationship",
        "q18_large_orders", "q20_excess_suppliers", "q21_waiting_suppliers",
        "q22_idle_customers", "q2_min_cost_supplier", "join_inner",
        "pivot_status", "agg_rollup", "agg_string_concat",
    ):
        analyzed = QUERIES[name](spark, SF)._jdf.queryExecution().analyzed()
        viol = _hint_violations(analyzed)
        assert not viol, f"{name} force-broadcasts a scaling table: {viol}"


def test_q4_semi_join_shape(spark):
    tree = plan_tree_of(QUERIES["q4_order_priority"](spark, SF))
    # EXISTS must decorrelate to a (broadcast) semi join, not a nested loop
    assert "BroadcastNestedLoop" not in tree
    assert "Join" in tree


def test_q2_reuses_partitioning_between_aggs(spark):
    """Q2's per-(part,supplier) agg and the per-part min must NOT insert a
    second full shuffle of lineitem: the (partkey, suppkey) partitioning
    satisfies the partkey-only agg (hash partitioning on a superset key is
    NOT reusable in general — but the min-cost join itself must broadcast,
    and lineitem must be scanned exactly once per branch, not re-shuffled
    into a sort-merge join)."""
    tree = plan_tree_of(QUERIES["q2_min_cost_supplier"](spark, SF))
    assert tree.count("SortMergeJoin") == 0, "q2 fell back to sort-merge"


def test_q21_single_wide_shuffle_plus_window(spark):
    """Q21 decorrelates the EXISTS/NOT-EXISTS self-joins into one rollup +
    window — the plan must contain a Window operator and no nested-loop
    join."""
    tree = plan_tree_of(QUERIES["q21_waiting_suppliers"](spark, SF))
    assert "Window" in tree
    assert "BroadcastNestedLoop" not in tree


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """A filter on the partition column of a partitionBy layout must become
    a PartitionFilter (pruned directories), not a post-scan Filter — the
    mechanism behind 'latest partition' selection at 100 TB."""
    from batch_processing_iac_aws_spark.io import write_parquet

    df = spark.createDataFrame(
        [("2023-07-03", i, float(i)) for i in range(10)]
        + [("2023-08-03", i, float(i)) for i in range(10)],
        "ingest_date string, k int, v double",
    )
    out = str(tmp_path / "part")
    write_parquet(df, out, partition_by=["ingest_date"])
    read = spark.read.parquet(out).filter(F.col("ingest_date") == "2023-08-03")
    plan = plan_of(read)
    assert "PartitionFilters: [" in plan
    assert "ingest_date" in plan.split("PartitionFilters")[1].split("]")[0]
    assert read.count() == 10


def test_sample_and_scrub_are_map_only(spark):
    """Hash-gated sampling and PII scrubbing are pure projections/filters:
    zero exchanges — they run inside the scan stage."""
    for name in ("sample_deterministic", "text_pii_scrub"):
        tree = plan_tree_of(QUERIES[name](spark, SF))
        assert "Exchange" not in tree, f"{name} shuffles"


def test_pack_sequences_single_shard_window(spark):
    """Sequence packing = ONE hash exchange on the shard key feeding ONE
    Window — never a global (unpartitioned) sort."""
    tree = plan_tree_of(QUERIES["docs_pack_sequences"](spark, SF))
    assert tree.count("Exchange") == 1
    assert "Window" in tree
    # hashpartitioning on the shard col, not a singlePartition global sort
    plan = plan_of(QUERIES["docs_pack_sequences"](spark, SF))
    assert "SinglePartition" not in plan


def test_corpus_queries_prune_document_columns(spark):
    """sample_deterministic projects (doc_id, lang): the text/source/n_chars
    columns must never leave the parquet scan."""
    plan = plan_of(QUERIES["sample_deterministic"](spark, SF))
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema and "n_chars" not in read_schema


def test_snapshot_diff_is_single_join_no_python(spark):
    plan = plan_tree_of(QUERIES["snapshot_diff"](spark, SF))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_merge_upsert_single_join_no_python(spark):
    plan = plan_tree_of(QUERIES["merge_upsert"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_centroid_scoring_join_is_broadcast(spark):
    """The label-bounded centroid table must broadcast; the corpus side is
    never shuffled for the scoring join."""
    plan = plan_tree_of(QUERIES["embedding_centroid_outliers"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_quality_audit_no_cartesian_no_python(spark):
    plan = plan_tree_of(QUERIES["data_quality_audit"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_perplexity_model_joins_stay_relational(spark):
    plan = plan_tree_of(QUERIES["text_perplexity"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan  # vocab scalar rides a broadcast


def test_quantize_is_map_only(spark):
    """int8 quantization is a pure per-row projection: zero exchanges."""
    tree = plan_tree_of(QUERIES["embedding_quantize"](spark, SF))
    assert "Exchange" not in tree, "embedding_quantize shuffles"


def test_pca_projection_stage_is_map_only(spark):
    """pca_project's RETURNED plan (after the bounded d² stats collect at
    build time) must be a literal-matrix projection: zero exchanges.
    (The registered embedding_pca query ADDS invariant-audit aggregates on
    top — centering/ordering/eigenvalue-floor gates — so this asserts on
    the operator, which is what a pipeline composes at scale.)"""
    from batch_processing_iac_aws_spark.catalog import load_table
    from batch_processing_iac_aws_spark.operators.similarity import pca_project

    e = load_table(spark, SF, "embeddings")
    tree = plan_tree_of(pca_project(e, k=2))
    assert "Exchange" not in tree, "pca projection shuffles"


def test_bm25_filters_tokens_before_aggregation(spark):
    """The query-term isin filter must sit below the tf aggregation so the
    shuffle carries only matching tokens, and doc length must come from a
    map-only array size (no second exploded-aggregation pass)."""
    # raw executedPlan string: the formatted tree elides expression detail
    df = QUERIES["search_bm25"](spark, SF)
    tree = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    lines = tree.splitlines()
    gen_idx = [i for i, l in enumerate(lines) if "Generate explode" in l]
    # the tf subtree appears twice (score side + df side — identical
    # exchanges, deduped by ReuseExchange at runtime); what must hold is
    # that EVERY explode has the query-term isin filter directly above it,
    # so no full token stream ever reaches a shuffle
    assert gen_idx and len(gen_idx) <= 2
    for i in gen_idx:
        assert " IN (spark,window,merge)" in lines[i - 1], (
            "bm25 explode not filtered to query terms"
        )
    # doc length comes from a map-only size(), not a third explode pass
    assert "size(filter(split" in tree


def test_repetition_and_span_dedup_single_scan(spark):
    """The round-4 Gopher/span queries must stay one-pass over documents:
    text_repetition_profile and dedup_substring_spans read the table
    exactly once (the span query's duplicated-span detection is a count
    window, not a self-join — the rewrite that removed a second scan and
    7 exchanges); corpus_gopher_filter joins two independent per-doc
    frames, so exactly two scans."""
    for name, scans in (
        ("text_repetition_profile", 1),
        ("dedup_substring_spans", 1),
        ("corpus_gopher_filter", 2),
    ):
        tree = plan_tree_of(QUERIES[name](spark, SF))
        got = tree.count("Scan parquet")
        assert got == scans, f"{name}: {got} scans, expected {scans}"


def test_span_dedup_shuffles_hashes_not_text(spark):
    """dedup_substring_spans' exchanges must carry the 32-byte sha256 of
    each span, never the span text — the difference between shuffling
    ~64 bytes/row and shuffling document-sized strings at 100 TB."""
    plan = plan_of(QUERIES["dedup_substring_spans"](spark, SF))
    import re

    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "shingle" not in m.group(1), (
            "raw span text crosses a shuffle: " + m.group(0)
        )


def test_no_cartesian_products_in_registered_queries(spark):
    """NO registered batch query may plan a raw CartesianProduct — the one
    join strategy with unbounded quadratic cost. Measured across the full
    registry: every nested-loop in every plan is a
    BroadcastNestedLoopJoin whose build side is a bounded frame
    (single-row aggregates, the <=20-query ANN set, dimension slices), so
    the guard needs no allowlist; a future query that accidentally
    crosses two scaling frames without a broadcastable side fails here
    before it can melt a cluster."""
    for name, fn in QUERIES.items():
        if name == "streaming_tumbling":
            continue
        plan = plan_of(fn(spark, SF))
        assert "CartesianProduct" not in plan, (
            f"{name} plans a raw cartesian product"
        )


def test_line_dedup_df_table_broadcasts_back(spark):
    """corpus_line_dedup: the document-frequency table (Zipf-small) must
    come back via BROADCAST join onto the segment stream — the segment
    side never shuffles for the join — and the only hashpartitioning
    exchanges are the md5-keyed DF aggregation and the doc-keyed
    reassembly; segment text is never a shuffle KEY."""
    import re

    plan = plan_of(QUERIES["corpus_line_dedup"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "__seg#" not in m.group(1), (
            "raw segment text is a shuffle key: " + m.group(0)
        )


def test_semantic_dedup_single_cluster_shuffle(spark):
    """dedup_semantic: map-only Arrow assignment, then each vector crosses
    exactly ONE exchange (keyed by cluster id) into the per-cell matmul —
    no join operator anywhere (the naive form is a quadratic self-join)."""
    tree = plan_tree_of(QUERIES["dedup_semantic"](spark, SF))
    assert tree.count("Exchange") == 1
    assert "Join" not in tree
    assert "ArrowEvalPython" in tree  # assignment scores
    assert "FlatMapGroupsInPandas" in tree  # per-cell verify


def test_kmeans_final_assignment_is_map_only(spark):
    """cluster_kmeans: the returned frame (final Lloyd assignment) is a
    pure map over the cached quantized input — zero exchanges; per
    iteration the only shuffle is the k-row centroid-update agg, executed
    eagerly during planning."""
    tree = plan_tree_of(QUERIES["cluster_kmeans"](spark, SF))
    assert "Exchange" not in tree
    assert "ArrowEvalPython" in tree


def test_bloom_prefilter_plan_shape(spark):
    """dedup_bloom_prefilter: the position table must BROADCAST (that is
    the whole point — the membership summary rides to the batch, the
    batch never shuffles for the prefilter), and nothing in the plan may
    be a cartesian product."""
    tree = plan_tree_of(QUERIES["dedup_bloom_prefilter"](spark, SF))
    assert "BroadcastExchange" in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_balanced_shards_final_plan_is_map_only(spark):
    """docs_balanced_shards: the range shuffle is absorbed by the
    ranking checkpoint, so the FINAL plan must be a map-only projection
    plus the tiny broadcast of the per-partition offsets — no window, no
    sort, no range exchange at execution time."""
    tree = plan_tree_of(QUERIES["docs_balanced_shards"](spark, SF))
    assert "Window" not in tree
    assert "rangepartitioning" not in tree.lower()
    assert "SortMergeJoin" not in tree
    assert "BroadcastHashJoin" in tree  # the offsets table


def test_pq_scoring_plan_is_relational_broadcast(spark):
    """similarity_pq_rerank: the ADC lookup table and the rerank's
    candidate pairs must BROADCAST (the codes scan and the corpus scan
    never shuffle for them), the scoring path must contain no Python
    eval at all (the LUT join + sum replaces any UDF), and no cartesian
    products beyond the recall summary's single-row-aggregate crossJoin
    — the one Arrow stage allowed is pq encoding itself."""
    tree = plan_tree_of(QUERIES["similarity_pq_rerank"](spark, SF))
    assert "BroadcastExchange" in tree
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in tree  # row-wise Python: never


def test_ivf_pq_plan_prunes_cells_via_broadcast(spark):
    """similarity_ivf_pq: probe list, LUT, and rerank pairs all ride
    broadcasts; no cartesian products beyond the recall summary's
    single-row-aggregate crossJoin; no row-wise Python."""
    tree = plan_tree_of(QUERIES["similarity_ivf_pq"](spark, SF))
    assert "BroadcastExchange" in tree
    assert "CartesianProduct" not in tree
    assert "BatchEvalPython" not in tree


def test_band_bloom_prefilter_plan_shape(spark):
    """dedup_incremental_fuzzy_bloom: the position table must broadcast
    into a left-semi join (the map-only prefilter — the batch's band
    keys never shuffle for it), with no cartesian products."""
    tree = plan_tree_of(QUERIES["dedup_incremental_fuzzy_bloom"](spark, SF))
    assert "BroadcastExchange" in tree
    assert "LeftSemi" in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_incremental_ann_dedup_prunes_index_partitions(spark):
    """The index-accelerated dedup's 100 TB claim, verified in the
    PHYSICAL plan: the persisted-index scan must carry a dynamic
    partition-pruning filter on ivf_cluster (the batch's broadcast probe
    set prunes unprobed cell DIRECTORIES at the scan), the probe join
    must be a broadcast (batch side is bounded by contract), and the
    centroid scoring must be Arrow-batched, never row-wise Python."""
    df = QUERIES["dedup_incremental_ann"](spark, SF)
    plan = plan_of(df)
    assert "dynamicpruningexpression(ivf_cluster" in plan, (
        "index scan lost dynamic partition pruning on the probed cells"
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_store_read_own_batch_exclusion_prunes_partitions(spark, tmp_path):
    """The ingest compositions' history reads exclude the batch's own
    batch_seq partition on BOTH stores (table and index). That exclusion
    must reach the scan as a PartitionFilter — pruned directories — not
    a post-scan Filter: at 100 TB rolling ingest the history is a year
    of batch partitions and the replay contract must not pay a full scan
    to skip one of them."""
    import pyspark.sql.functions as F

    from batch_processing_iac_aws_spark.operators.index_store import (
        append_index,
        read_index,
    )

    idx = str(tmp_path / "idx")
    for b in range(3):
        append_index(
            spark.range(b * 10, b * 10 + 10).select(
                F.sha2(F.col("id").cast("string"), 256).alias(
                    "content_hash"
                )
            ),
            idx,
            batch_id=b,
        )
    df = read_index(spark, idx).where(F.col("batch_seq") != F.lit(1))
    plan = plan_of(df)
    assert "PartitionFilters: [" in plan
    assert "batch_seq" in plan.split("PartitionFilters")[1].split("]")[0]
    # and the pruning is real: batch 1's files are never opened
    files = [
        r["f"]
        for r in df.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    assert files and all("batch_seq=1" not in f for f in files)


@pytest.mark.parametrize("name", ["q1_pricing_summary", "q9_product_profit"])
def test_physical_plan_same_on_schema_cache_miss_and_hit(
    spark, name, jobs_started
):
    """A table read with the schema io.read_parquet kept from an earlier
    inference plans exactly like the inferring read. Expression and plan
    ids differ between any two builds, so they are masked."""
    import re

    from batch_processing_iac_aws_spark import io

    def physical_plan():
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        plan = re.sub(r"#\d+", "#?", plan)
        return re.sub(r"plan_id=\d+", "plan_id=?", plan)

    io._schemas.clear()
    miss, miss_jobs = jobs_started(physical_plan)
    hit, hit_jobs = jobs_started(physical_plan)
    assert miss_jobs > 0 and hit_jobs == 0
    assert miss == hit
