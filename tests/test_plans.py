"""Physical-plan shape assertions — the '100 TB survival' gate.

Reference analogues: fragment skipping (InputMetadata.cpp) → parquet
PushedFilters; lazy column fetch (PlanState.h:47) → pruned ReadSchema;
REPLICATED tables (TableDescriptor.h:119) → broadcast joins; JIT fusion
(NativeCodegen.cpp) → WholeStageCodegen spans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from heavydb_spark.plans import checks
from heavydb_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_filter_pushed_to_scan(spark):
    df = QUERIES["scan_project_filter"](spark, SF_DIR)
    assert checks.has_pushed_filters(df), checks.plan_string(df)


def test_column_pruning(spark):
    """A 4-column projection over an 11-column table must not read all
    11 columns from parquet."""
    df = QUERIES["scan_project_filter"](spark, SF_DIR)
    cols = checks.read_schema_columns(df)
    assert cols, "no ReadSchema found"
    assert len(set(cols)) <= 6, cols


def test_star_join_broadcasts_dimensions(spark):
    df = QUERIES["join_star_agg"](spark, SF_DIR)
    assert checks.uses_broadcast_join(df), checks.plan_string(df, "simple")


def test_whole_stage_codegen_present(spark):
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    assert checks.whole_stage_codegen_count(df) >= 1


def test_groupby_shuffle_budget(spark):
    """Single group-by = at most one shuffle before the final sort."""
    df = QUERIES["agg_groupby_count"](spark, SF_DIR)
    assert checks.shuffle_count(df) <= 2, checks.plan_string(df, "simple")


def test_semi_anti_join_planned(spark):
    from heavydb_spark.queries.util import T

    c = T(spark, SF_DIR, "customer")
    o = T(spark, SF_DIR, "orders")
    semi = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
    s = checks.plan_string(semi, "simple")
    assert "LeftSemi" in s or "Semi" in s, s


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """PARTITION BY layout + equality filter → scan lists only the
    matching partition directory (PartitionFilters)."""
    out = str(tmp_path / "orders_bystatus")
    spark.read.parquet(f"{SF_DIR}/orders.parquet").write.partitionBy(
        "o_orderstatus"
    ).parquet(out)
    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    s = checks.plan_string(df)
    assert "PartitionFilters" in s
    assert "o_orderstatus" in s.split("PartitionFilters", 1)[1][:200]


def test_partition_pruning(spark, tmp_path):
    """A table written partitionBy(month) must scan only matching
    partitions for a month-filtered query — the Spark analogue of the
    reference's fragment skipping (InputMetadata.cpp chunk min/max)."""
    from pyspark.sql import functions as F

    from heavydb_spark.catalog import load_table
    from tests.conftest import SF_DIR

    d = str(tmp_path / "orders_bymonth")
    o = load_table(spark, SF_DIR, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.write.partitionBy("o_month").parquet(d)
    months = [r.o_month for r in o.select("o_month").distinct().collect()]
    target = sorted(months)[0]
    df = (
        spark.read.parquet(d)
        .filter(F.col("o_month") == target)
        .select("o_orderkey")
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # partition filter present, and only 1 of N partitions selected
    assert "PartitionFilters" in plan
    expected = o.filter(F.col("o_month") == target).count()
    assert df.count() == expected


def test_bucketed_join_avoids_shuffle(spark):
    """HeavyDB sharded join parity (TableDescriptor.h:65-66, shard-to-
    shard join): two tables bucketed on the join key join WITHOUT a
    shuffle exchange on either side."""
    from pyspark.sql import functions as F

    from heavydb_spark.catalog import load_table
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")
    (o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("orders_bkt"))
    (c.withColumnRenamed("c_custkey", "o_custkey")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("customer_bkt"))
    # disable broadcast so the co-located path (not broadcast) is chosen
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("orders_bkt").join(
            spark.table("customer_bkt"), "o_custkey"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        n = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan
    expected = o.join(c, o.o_custkey == c.c_custkey).count()
    assert n == expected
    spark.sql("DROP TABLE orders_bkt")
    spark.sql("DROP TABLE customer_bkt")


def test_q5_fact_table_never_broadcast(spark):
    """The fact table (lineitem) must stream, not build a broadcast
    hash relation — a 33 MB broadcast at sf0.1 is a non-plan at 100 TB.
    Guards the fact-centric join order of join_multistep_tpch_q5/q10."""
    import re

    for name in ("join_multistep_tpch_q5", "join_multistep_tpch_q10"):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        builds = [
            m.group(1)
            for seg in plan.split("BroadcastExchange")[1:]
            for m in [re.search(r"/(\w+)\.parquet", seg)]
            if m
        ]
        assert builds and "lineitem" not in builds, (name, builds)


def test_decontaminate_broadcasts_test_side(spark):
    """Decontamination must broadcast the (small) test-side shingles,
    never shuffle the corpus on the shingle key."""
    df = QUERIES["pipe_decontaminate"](spark, SF_DIR)
    assert checks.uses_broadcast_join(df), checks.plan_string(df, "simple")


def test_sample_and_mix_are_scan_level_filters(spark):
    """Deterministic sampling/mixing must plan as a pure filter over
    the scan — zero shuffles before the final aggregation/sort."""
    from heavydb_spark.operators.pipeline import mix_sources, sample_hash
    from heavydb_spark.catalog import load_table

    d = load_table(spark, SF_DIR, "documents")
    assert checks.shuffle_count(sample_hash(d, "doc_id", 0.5)) == 0
    assert checks.shuffle_count(
        mix_sources(d, "source", "doc_id", {"web": 0.5})
    ) == 0


def test_q7_nation_filters_prepushed(spark):
    """Q7's derivable one-sided nation filters must reach the nation
    scans as pushed In-filters (supplier/customer shrink before the
    fact join), and lineitem must never be a broadcast build."""
    import re

    df = QUERIES["join_multistep_tpch_q7"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[[^\]]*In\(n_name", plan)
    assert len(pushed) >= 2, plan[:2000]
    builds = [
        m.group(1)
        for seg in plan.split("BroadcastExchange")[1:]
        for m in [re.search(r"/(\w+)\.parquet", seg)]
        if m
    ]
    assert builds and "lineitem" not in builds, builds


def test_geos_kernels_are_map_only(spark):
    """The GEOS boolean/hull kernels are geometry-local pandas UDFs:
    the plan up to the final sort must contain no shuffle exchange
    (one narrow stage over the dimension scan)."""
    for name in ("geo_geos_union_diff", "geo_geos_convexhull"):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        body = plan.split("Sort", 1)[-1]  # ignore the final presentation sort
        assert "Exchange hashpartitioning" not in body, (name, plan[:1500])


# ----------------------------------------------------------- TPC-H suite


def test_q9_lineitem_not_broadcast(spark):
    """Q9 joins four dims to lineitem: every broadcast build side must
    be a dim — the fact table must never ship as a broadcast."""
    df = QUERIES["tpch_q9_product_profit"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert checks.uses_broadcast_join(df), s
    # every BroadcastExchange subtree in the simple plan is indented
    # under its exchange line; assert no lineitem scan is fed into one
    lines = s.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" +:-"))
        for sub in lines[i + 1:]:
            sub_ind = len(sub) - len(sub.lstrip(" +:-"))
            if sub_ind <= indent:
                break
            assert "lineitem.parquet" not in sub, s


def test_q18_semi_join_prunes_fact_first(spark):
    """Q18: the HAVING-filtered order-key set must semi-join lineitem
    BEFORE the customer/orders joins (fact pruned first)."""
    df = QUERIES["tpch_q18_large_orders"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    semi_pos = s.find("LeftSemi")
    assert semi_pos != -1, s
    # the orders/customer joins appear above (later in the tree than)
    # the semi join in the simple plan string
    assert "customer.parquet" in s and "orders.parquet" in s


def test_q11_scalar_threshold_is_broadcast(spark):
    """Q11's HAVING threshold must be a one-row broadcast cross join,
    never a driver collect."""
    df = QUERIES["tpch_q11_important_value"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s


def test_q4_exists_is_semi_join(spark):
    df = QUERIES["tpch_q4_priority_exists"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "LeftSemi" in s, s


def test_q21_single_fact_pass_window(spark):
    """r13: the EXISTS/NOT EXISTS pair is computed by ONE window over
    the lineitem-orders join's own l_orderkey partitioning — no
    semi/anti join re-shuffles the fact table, and at most one hash
    exchange of fact-sized data appears in the plan."""
    df = QUERIES["tpch_q21_waiting_supplier"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "Window" in s, s
    assert "LeftSemi" not in s and "LeftAnti" not in s, s
    # lineitem appears once, not three times
    assert s.count("lineitem.parquet") == 1, s


def test_q19_single_join_no_fact_shuffle(spark):
    """Q19's disjunctive predicate must not force a shuffle of
    lineitem: one broadcast hash join on the extracted equi-key."""
    df = QUERIES["tpch_q19_disjunctive_join"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert checks.uses_broadcast_join(df), s
    # no hash-partitioned exchange: the only shuffle is the scalar
    # aggregate's single-partition exchange (Catalyst also derives the
    # per-side implied filters from the OR-of-ANDs and pushes both to
    # the scans — PushedFilters on l_quantity and p_brand/p_size)
    assert "Exchange hashpartitioning" not in s, s
    assert checks.has_pushed_filters(df), checks.plan_string(df)


def test_obj_detect_plan_distributed(spark):
    """Raster obj-detect (operators/objdetect.py): per-tile detection
    runs as a grouped pandas stage keyed on the tile id (one shuffle
    scaling with raster extent), and the NMS candidate join is an
    equi-join on grid cells — never a cartesian/nested-loop pass over
    detections."""
    from heavydb_spark.queries import QUERIES

    df = QUERIES["tf_torch_obj_detect"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    # the detection stage materializes once behind a localCheckpoint
    # (it feeds three joins), so the final plan reads the checkpointed
    # RDD rather than re-running the pandas stage
    assert "Scan ExistingRDD" in s, s
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s
    # the pandas detection stage itself is visible pre-checkpoint
    from heavydb_spark.operators.objdetect import (
        _tile_candidates,
        blob_detector,
    )
    from pyspark.sql import functions as F

    r = spark.range(64).select(
        (F.col("id") % 8).cast("double").alias("x"),
        (F.col("id") / 8).cast("long").cast("double").alias("y"),
        F.lit(10.0).alias("ch0"),
    )
    tiled = r.withColumn(
        "__tx", F.explode(_tile_candidates(F.floor("x").cast("long"), 8, 2))
    ).withColumn(
        "__ty", F.explode(_tile_candidates(F.floor("y").cast("long"), 8, 2))
    )
    stage = tiled.groupBy("__tx", "__ty").applyInPandas(
        lambda k, pdf: pdf.head(0)[["x"]], "x double"
    )
    assert "FlatMapGroupsInPandas" in checks.plan_string(stage, "simple")


def test_portable_minhash_plan_shape(spark):
    """Portable MinHash (dedup.minhash_dedup_pairs_portable): the
    candidate generator must stay a band-key equi-join (SortMergeJoin /
    ShuffledHashJoin / BroadcastHashJoin), never an all-pairs product."""
    from heavydb_spark.operators.dedup import minhash_dedup_pairs_portable
    from heavydb_spark.queries.util import T

    d = T(spark, SF_DIR, "documents")
    df = minhash_dedup_pairs_portable(d, "doc_id", "text", threshold=0.5)
    s = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s


def test_q67_rollup_rank_plan_shape(spark):
    """tpcds_q67_rollup_rank: the grouping-sets aggregate must run as
    ONE Expand + hash aggregate (never one scan per rollup level), the
    per-year top-10 must plan as WindowGroupLimit (partial + final —
    no full sort of the rollup output materializes), and the fact side
    must never broadcast."""
    df = QUERIES["tpcds_q67_rollup_rank"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert s.count("Expand") >= 1, s
    assert "WindowGroupLimit" in s, s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_q64_cross_year_plan_shape(spark):
    """tpcds_q64_cross_year_sales (r13): the consecutive-year self-join
    is replaced by lead() over (p_brand, c_custkey) ORDER BY yr — the
    wide CTE is computed ONCE (each fact/dim parquet scanned once), no
    checkpoint materialization, no self-join, never a product."""
    df = QUERIES["tpcds_q64_cross_year_sales"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "Window" in s, s
    # the CTE feeds the window directly: every table scanned exactly once
    assert s.count("lineitem.parquet") == 1, s
    assert s.count("orders.parquet") == 1, s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_q38_intersect_plan_shape(spark):
    """tpcds_q38_triple_intersect: each INTERSECT leg plans as a
    semi-join/aggregate over the same hash partitioning — no products,
    no repeated full-orders scans beyond the three status legs + the
    count aggregate."""
    df = QUERIES["tpcds_q38_triple_intersect"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    assert "LeftSemi" in s or "Aggregate" in s, s


def test_q1_returns_above_avg_plan_shape(spark):
    """tpcds_q1_returns_above_avg: the per-nation cutoff (25 rows) must
    join back via BroadcastHashJoin — the correlated subquery
    decorrelates to a tiny-agg broadcast, never a shuffle of the
    per-customer totals against a 25-key skewed partitioning and never
    a product."""
    df = QUERIES["tpcds_q1_returns_above_avg"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "BroadcastHashJoin" in s, s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_q93_net_after_returns_plan_shape(spark):
    """tpcds_q93_net_after_returns: the returns side pre-aggregates
    BEFORE the fact-to-fact left join (no row multiplication), the
    final ORDER BY+LIMIT plans as TakeOrdered (no full sort), and no
    product appears."""
    df = QUERIES["tpcds_q93_net_after_returns"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "TakeOrderedAndProject" in s, s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    # the left join consumes an aggregated right side: an Aggregate on
    # l_orderkey must appear below the join in the plan text
    assert s.index("Join") < s.rindex("HashAggregate"), s


def test_shared_run_pairs_plan_shape(spark):
    """dedup_shared_run: every join is a shingle/pair equi-join —
    shared-window blocking, never an all-pairs product — and the
    island window partitions by (src, dst), never a global frame."""
    df = QUERIES["dedup_shared_run"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s


def test_semantic_dedup_plan_shape(spark):
    """sim_semantic_dedup: candidate pairs come from a bucket equi-join
    (hyperplane-LSH blocking), never an all-pairs product."""
    df = QUERIES["sim_semantic_dedup"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s


def test_quality_classifier_plan_shape(spark):
    """text_quality_classifier: pure map-side expression — no shuffle
    (Exchange) anywhere above the scan except the final orderBy, no
    Python UDF in the plan."""
    from heavydb_spark.operators.text import quality_classifier_score
    from heavydb_spark.queries.util import T

    d = T(spark, SF_DIR, "documents")
    df = quality_classifier_score(d)          # no orderBy: raw operator
    s = checks.plan_string(df, "simple")
    assert "Exchange" not in s, s
    assert "Python" not in s and "BatchEvalPython" not in s, s


def test_q23_frequent_best_plan_shape(spark):
    """tpcds_q23_frequent_best: both CTE-derived filter sets (frequent
    parts, best customers) and the 1-row max-spend cutoff must come
    back as BroadcastHashJoins into the fact scan — the fact table
    itself must never broadcast or product."""
    df = QUERIES["tpcds_q23_frequent_best"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert s.count("BroadcastHashJoin") >= 2, s
    assert "CartesianProduct" not in s, s


def test_q95_returned_multi_supplier_plan_shape(spark):
    """tpcds_q95_returned_multi_supplier: the two EXISTS predicates
    decorrelate into ONE per-order aggregate over a single lineitem
    scan (no fact self-join), and the date filter reaches the orders
    parquet scan."""
    df = QUERIES["tpcds_q95_returned_multi_supplier"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert s.count("FileScan parquet") == 2, s  # one lineitem + one orders
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    fs = checks.plan_string(df, "formatted")
    assert "1996-01-01" in fs, fs  # date predicate pushed into the scan


def test_span_rewrite_plan_no_pair_join(spark):
    """dedup_span_rewrite: the linearity claim in plan terms — no
    cartesian/nested-loop anywhere, and the only self-referencing
    relation is the checkpointed base (ExistingRDD), never a
    occurrence-to-occurrence equi-join (the gram join's right side is
    an AGGREGATE of occurrences, so no plan node joins the raw
    occurrence relation to itself)."""
    df = QUERIES["dedup_span_rewrite"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s
    # reassembly + stats: aggregates present; the base materializes once
    assert "ExistingRDD" in s, s


def test_source_overlap_plan_no_self_join(spark):
    """pipe_source_overlap: the pair expansion is map-side (explode of
    nested transforms over the collected group set) — the plan must
    contain NO join at all before the final size joins, i.e. at most
    the two tiny joins against the per-group size aggregate."""
    df = QUERIES["pipe_source_overlap"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert s.count("Join") <= 2, s  # only the n_a / n_b size joins
    assert "CartesianProduct" not in s, s


def test_shard_assign_plan_no_global_sort(spark):
    """pipe_shard_assign: no corpus-wide ordering — the position
    window must partition by shard (hashpartitioning), never collapse
    to a single partition (rangepartitioning over the whole corpus,
    or Exchange SinglePartition, would serialize at scale)."""
    df = QUERIES["pipe_shard_assign"](spark, SF_DIR)
    s = checks.plan_string(df, "formatted")
    assert "SinglePartition" not in s, s
    assert "hashpartitioning(shard" in s, s


def test_boilerplate_segments_plan_shape(spark):
    """dedup_boilerplate_segments: frequency-judged removal stays
    linear — no cartesian/nested-loop pair expansion; the boilerplate
    filter joins occurrences against an AGGREGATE of segments (a
    LeftAnti join), never occurrence-to-occurrence."""
    df = QUERIES["dedup_boilerplate_segments"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s
    assert "LeftAnti" in s, s


def test_boilerplate_segments_respects_broadcast_threshold(spark):
    """remove_boilerplate_segments leaves the anti join's strategy to the
    planner: min_docs does not bound the boilerplate set's size, so with
    broadcasting switched off the plan holds no BroadcastExchange, and
    the sort-merge form returns the same rows."""
    from heavydb_spark.operators.dedup import remove_boilerplate_segments

    df = spark.createDataFrame(
        [(1, "hdr x a b"), (2, "hdr x c d"), (3, "hdr x"), (4, "e f z")],
        "doc_id long, text string",
    )

    def run():
        out = remove_boilerplate_segments(df, "doc_id", "text", seg=2,
                                          min_docs=3)
        return checks.plan_string(out, "formatted"), sorted(out.collect())

    _, expected = run()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan, got = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in plan, plan
    assert got == expected


def test_bpe_encode_plan_broadcast_decorate(spark):
    """text_bpe_encode_contract: the word-type encodings decorate the
    exploded corpus through a BROADCAST join (vocabularies are small
    by construction) — no shuffle join on the word, and no Python UDF
    anywhere (the merge fold is a JVM higher-order expression)."""
    df = QUERIES["text_bpe_encode_contract"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "BroadcastHashJoin" in s, s
    assert "SortMergeJoin" not in s, s
    assert "BatchEvalPython" not in s, s
    assert "ArrowEvalPython" not in s, s


def test_scalar_quantize_plan_partial_agg(spark):
    """sim_scalar_quantize: the per-dimension stats pass must partial-
    aggregate map-side (two HashAggregate levels around its exchange)
    and the stats flow back as a BROADCAST 1-row join — quantization
    itself adds no further exchange over the scan."""
    df = QUERIES["sim_scalar_quantize"](spark, SF_DIR)
    s = checks.plan_string(df, "formatted")
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s
    assert s.count("HashAggregate") >= 2, s
    assert "BatchEvalPython" not in s, s


def test_pq_encode_plan_pure_codegen(spark):
    """sim_pq_encode: encoding under trained codebooks is inline-
    literal expression work over the scan — no Python eval nodes, no
    join, no exchange besides the final sort's."""
    from heavydb_spark.operators import similarity
    from heavydb_spark.queries.util import T

    e = T(spark, SF_DIR, "embeddings")
    books = similarity.pq_train(e, "embedding", "vec_id", sample=64)
    enc = similarity.pq_encode(e, "embedding", books, "vec_id")
    s = checks.plan_string(enc, "simple")
    assert "BatchEvalPython" not in s, s
    assert "ArrowEvalPython" not in s, s
    assert "Join" not in s, s


def test_asof_join_plan_single_shuffle_no_join(spark):
    """join_asof_backward: the union+window as-of has NO join operator
    at all and exactly one wide exchange (the per-key window
    partitioning; the terminal order-by adds a range partition, never
    a second hash of the data)."""
    df = QUERIES["join_asof_backward"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "Join" not in s, s
    assert "Window" in s, s
    assert s.count("hashpartitioning") <= 1, s


def test_fuzzy_join_plan_equi_join_only(spark):
    """join_fuzzy_names: candidate generation must be a hash/sort-merge
    EQUI-join on the variant — never a cartesian or broadcast
    nested-loop over the inputs — and the explode is map-side."""
    df = QUERIES["join_fuzzy_names"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s
    assert "Generate explode" in s or "Generate" in s, s


def test_bm25_plan_broadcast_stats_topk(spark):
    """text_bm25_topk: corpus stats reduce to ONE broadcast row and the
    ranking is TakeOrderedAndProject — no global sort, no Python."""
    df = QUERIES["text_bm25_topk"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "TakeOrderedAndProject" in s, s
    assert "BroadcastExchange" in s or "BroadcastNestedLoopJoin" in s, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s


def test_zorder_layout_plan_range_partition(spark):
    """geo_zorder_layout: the layout pass must RANGE-partition on the
    z key (the clustered-write shape) and the z key itself is pure
    codegen — no Python eval nodes."""
    df = QUERIES["geo_zorder_layout"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "rangepartitioning" in s.lower(), s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s


def test_weighted_sample_plan_take_ordered(spark):
    """pipe_weighted_sample: selection is per-partition top-k + k-row
    merge (TakeOrderedAndProject), never a global sort/shuffle."""
    df = QUERIES["pipe_weighted_sample"](spark, SF_DIR)
    s = checks.plan_string(df, "simple")
    assert "TakeOrderedAndProject" in s, s
    assert "Exchange" not in s.replace("BroadcastExchange", ""), s


def test_datetime_cast_chain_stays_jvm_side(engine):
    """The multi-format string->datetime cast chains
    (functions/datetime_parse.sql_parse_*) must be pure JVM
    expressions: no Python evaluation node may appear in the plan,
    and the scan under the cast keeps its pushed filters."""
    spark = engine.spark
    spark.createDataFrame(
        [("06/21/2015", 1)], ["dstr", "k"]
    ).createOrReplaceTempView("_plan_dt")
    df = engine.sql(
        "SELECT CAST(dstr AS DATE) AS d, CAST(dstr AS TIMESTAMP) AS ts, "
        "CAST(dstr AS TIME) AS t FROM _plan_dt WHERE k = 1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "PythonUDF" not in plan
    spark.catalog.dropTempView("_plan_dt")


def test_fp_int_cast_rewrite_stays_jvm_side(engine):
    """The fractional->int rounding rewrite is a round() wrap — no
    Python nodes, and constant-folding still collapses literal
    casts."""
    df = engine.sql("SELECT CAST(2.7 AS INT) AS a, "
                    "CAST(l_extendedprice AS BIGINT) AS p "
                    "FROM lineitem WHERE l_orderkey = 1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # literal cast folded to a constant by Catalyst
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "3 AS a" in opt or "3 as a" in opt.lower()
