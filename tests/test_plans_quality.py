"""Plan-quality gates: the physical plans the engine promises, asserted.

The scale story isn't prose — these tests fail if a dim join stops
broadcasting, a filter stops reaching the parquet scan, a limit query plans
a global sort, or Python sneaks into a hot path.
"""

import pytest
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.operators.scale import explain_has
from projet_data_infrastructure_spark.plans.events_queries import q_cdc_envelope
from projet_data_infrastructure_spark.plans.llm_queries import q_text_stats
from projet_data_infrastructure_spark.plans.relational import (
    q_filter_pushdown,
    q_flagship,
    q_inner_join,
    q_orderby_limit,
    q_scan_project,
    q_topk,
)

SF = "/root/testdata/sf0.001"


def test_dim_joins_broadcast(spark):
    # No shuffle of the fact side for dim joins: BroadcastHashJoin, and the
    # only Exchange allowed is the aggregation's.
    checks = explain_has(q_inner_join(spark, SF), "BroadcastHashJoin", "SortMergeJoin")
    assert checks["BroadcastHashJoin"] and not checks["SortMergeJoin"]


def test_flagship_plan_shape(spark):
    checks = explain_has(
        q_flagship(spark, SF), "BroadcastHashJoin", "HashAggregate", "SortMergeJoin"
    )
    assert checks["BroadcastHashJoin"]
    assert checks["HashAggregate"]  # partial+final agg, no sort-based agg
    assert not checks["SortMergeJoin"]


def test_filter_reaches_scan(spark):
    df = q_filter_pushdown(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [" in plan
    # quantity predicate must be pushed, not just evaluated post-scan
    assert "l_quantity" in plan.split("PushedFilters")[1].split("]")[0]


def test_projection_prunes_scan(spark):
    df = q_scan_project(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read_schema and "c_acctbal" not in read_schema


def test_topk_avoids_global_sort(spark):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # heaps), never a full Sort + Exchange of the whole table.
    for df in (q_topk(spark, SF), q_orderby_limit(spark, SF)):
        checks = explain_has(df, "TakeOrderedAndProject")
        assert checks["TakeOrderedAndProject"]


def test_no_python_in_hot_paths(spark):
    # Text/CDC pipelines are pure JVM expressions: no BatchEvalPython (row
    # UDF) or ArrowEvalPython (pandas UDF) operators in their plans.
    for df in (q_text_stats(spark, SF), q_cdc_envelope(spark, SF)):
        checks = explain_has(df, "BatchEvalPython", "ArrowEvalPython")
        assert not checks["BatchEvalPython"] and not checks["ArrowEvalPython"]


def test_whole_stage_codegen_covers_scan_pipeline(spark):
    # simple mode marks codegen stages with "*(n)"
    plan = q_filter_pushdown(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "*(1)" in plan


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    # Bucketed layout on the join key ⇒ join without Exchange on either side.
    from projet_data_infrastructure_spark.operators.scale import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force the issue
    try:
        orders = spark.range(10_000).select(
            (F.col("id") % 500).alias("custkey"), F.col("id").alias("orderkey")
        )
        cust = spark.range(500).select(F.col("id").alias("custkey"), F.lit("x").alias("seg"))
        write_bucketed(orders, "b_orders", "custkey", n_buckets=8)
        write_bucketed(cust, "b_cust", "custkey", n_buckets=8)
        joined = spark.table("b_orders").join(spark.table("b_cust"), "custkey")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "Exchange" not in plan  # co-located: zero shuffles
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_bucketed_spec_join_has_no_join_shuffle(spark):
    # The registered bucketed_join_colocated spec: the fact-fact join must
    # consume the bucketed layout (no Exchange on the join key, no Sort —
    # the tables are written sorted). Only the final agg/orderBy exchange.
    from projet_data_infrastructure_spark.plans.extras import _bucketed_fact_tables

    orders_tbl, li_tbl = _bucketed_fact_tables(spark, "/root/testdata/sf0.001")
    try:
        j = spark.table(li_tbl).hint("merge").join(
            spark.table(orders_tbl).hint("merge"), "l_orderkey"
        )
        j.collect()  # finalize AQE on THIS DataFrame's QueryExecution
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket-aligned: join shuffles nothing
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {orders_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {li_tbl}")


def test_salted_agg_matches_plain(spark):
    from projet_data_infrastructure_spark.operators.scale import salted_count_avg

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("k"),
        F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id").cast("double")).alias("v"),
    )
    salted = {r["k"]: (r["count_activity"], round(r["mean_duration"], 6))
              for r in salted_count_avg(df, "k", "v").collect()}
    plain = {r["k"]: (r["cnt"], round(r["avg"], 6))
             for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"),
                                          F.avg("v").alias("avg")).collect()}
    assert salted == plain


def test_bucketed_neardup_has_no_nested_loop(spark):
    # The primary near-dup query joins candidates on the IVF bucket id — an
    # equi-join Catalyst plans as hash/sort-merge. A nested-loop or cartesian
    # anywhere means the all-pairs shape leaked back in.
    from projet_data_infrastructure_spark.plans.llm_queries import (
        q_embedding_neardup_bucketed,
    )

    import re

    df = q_embedding_neardup_bucketed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # The candidate-pair join keys on the bucket id.
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[bkt_a", plan)
    # The only nested-loop allowed is the C-row centroid broadcast inside
    # ivf_assign — a constant-size dim that appears once per self-join side
    # (the exchange beneath is reused at execution). The vector-pair join
    # itself must never be one, which the equi-join assertion above plus
    # this bound guarantees.
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_ivf_assign_is_shuffle_free(spark):
    # Centroid assignment is a map-side argmin over an inlined centroid
    # literal: the executed plan must contain NO Exchange, no join, and no
    # Window — each embedding partition is scored in place. (The earlier
    # broadcast-join + Window argmin shuffled ~N (id, centroid, dist) rows.)
    from projet_data_infrastructure_spark.operators.similarity import ivf_assign
    from projet_data_infrastructure_spark.sources.readers import read_table

    emb = read_table(spark, SF, "embeddings")
    df = ivf_assign(emb, 4)
    assert df.count() == emb.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_zorder_layout_tightens_file_ranges(spark, tmp_path):
    # Z-ordering by (user_id, value) must leave every output file covering a
    # narrow user_id band AND a narrow value band — the property parquet
    # min/max skipping needs. A single-column sort would tighten one
    # dimension only; random layout tightens neither.
    import glob

    from projet_data_infrastructure_spark.operators.scale import zorder_layout
    from projet_data_infrastructure_spark.sources.readers import read_table

    ev = read_table(spark, SF, "events").select("event_id", "user_id", "value")
    out = str(tmp_path / "zorder")
    zorder_layout(ev, ["user_id", "value"], n_files=8).write.parquet(out)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) >= 4
    total = ev.count()
    glob_w = {}
    for colname in ("user_id", "value"):
        lo, hi = ev.agg(F.min(colname), F.max(colname)).first()
        glob_w[colname] = float(hi) - float(lo)
    for colname in ("user_id", "value"):
        widths = []
        n_back = 0
        for f in files:
            pf = spark.read.parquet(f)
            n_back += pf.count()
            lo, hi = pf.agg(F.min(colname), F.max(colname)).first()
            widths.append(float(hi) - float(lo))
        if colname == "user_id":
            assert n_back == total  # layout is a permutation, not a filter
        # every dimension's average per-file range is a fraction of global
        assert sum(widths) / len(widths) < 0.6 * glob_w[colname], colname


def test_decontamination_broadcasts_eval_grams(spark):
    # The 100 TB claim: the eval-suite gram set is tiny and must reach the
    # train side as a broadcast hash join, never a fact-fact shuffle.
    from projet_data_infrastructure_spark.plans.llm_queries import q_decontamination

    df = q_decontamination(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hyperplane_simhash_pigeonhole_exact(spark):
    # 4 bands of 4 bits, max_hamming=2 ≤ bands-1: the banded equi-join must
    # find EXACTLY the pairs a brute-force signature comparison finds — the
    # pigeonhole guarantee, not an approximation.
    from projet_data_infrastructure_spark.operators.similarity import (
        hyperplane_signature,
        hyperplane_simhash_pairs,
    )
    from projet_data_infrastructure_spark.sources.readers import read_table

    emb = read_table(spark, SF, "embeddings")
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in hyperplane_simhash_pairs(emb, max_hamming=2).collect()
    }
    sigs = sorted(
        (r.vec_id, r.sig)
        for r in emb.select("vec_id", hyperplane_signature().alias("sig")).collect()
    )
    brute = {
        (a_id, b_id): bin(a_sig ^ b_sig).count("1")
        for i, (a_id, a_sig) in enumerate(sigs)
        for b_id, b_sig in sigs[i + 1 :]
        if bin(a_sig ^ b_sig).count("1") <= 2
    }
    assert banded == brute


def test_bucketed_neardup_recall_within_buckets(spark):
    # Recall oracle: every same-bucket pair found by bounded all-pairs must
    # be found by the bucketed form with the SAME similarity, and the
    # bucketed result must be a subset of all-pairs (no phantom pairs).
    from projet_data_infrastructure_spark.operators.similarity import (
        ivf_assign,
        neardup_pairs,
        neardup_pairs_bucketed,
    )
    from projet_data_infrastructure_spark.sources.readers import read_table

    emb = read_table(spark, SF, "embeddings")
    bucketed = {
        (r.vec_a, r.vec_b): r.sim
        for r in neardup_pairs_bucketed(emb, threshold=0.3, n_centroids=4).collect()
    }
    allpairs = {
        (r.vec_a, r.vec_b): r.sim for r in neardup_pairs(emb, threshold=0.3).collect()
    }
    assign = {r.vec_id: r.centroid_id for r in ivf_assign(emb, 4).collect()}
    same_bucket = {
        pair: sim for pair, sim in allpairs.items() if assign[pair[0]] == assign[pair[1]]
    }
    assert bucketed == same_bucket  # exact within-bucket recall, no phantoms


def test_dynamic_partition_pruning_on_date_layout(spark):
    # The partitioned-events query must carry a dynamicpruning subquery on
    # the fact scan: the runtime dim filter (ISO week), not a static
    # predicate, decides which date partitions are read.
    from projet_data_infrastructure_spark.plans.advanced import q_events_dpp

    df = q_events_dpp(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # and the result agrees with the unpartitioned batch equivalent
    from projet_data_infrastructure_spark.sources.readers import read_table

    ev = read_table(spark, SF, "events")
    expected = (
        ev.filter(F.weekofyear(F.to_date("ts")) == 2)
        .groupBy("event_type")
        .count()
        .collect()
    )
    got = {r.event_type: r.n_events for r in df.collect()}
    assert got == {r.event_type: r["count"] for r in expected}


def test_aqe_splits_skewed_join(spark):
    # A deliberately skewed SMJ: one join key holds ~all left rows. After the
    # action, the adaptive final plan must show the skewed side split
    # (skew=true on the SortMergeJoin) instead of one straggler task.
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        pad = F.lpad(F.lit("x"), 64, "x")
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            pad.alias("pad"),
        )
        right = spark.range(0, 2_000).select(F.col("id").alias("k"), pad.alias("rpad"))
        joined = left.join(right, "k").select("k")
        # collect() executes THIS dataset's QueryExecution (count() would
        # build a different one and leave this plan un-finalized).
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """A selective filter on one shuffle-join side injects a bloom filter of
    its join keys into the fact scan (Spark's runtime row-level filtering).
    Thresholds are forced down so the optimization fires at test scale; on a
    real cluster the defaults gate it to genuinely large scans."""
    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "100GB")
        spark.conf.set(keys[1], "0")
        spark.conf.set(keys[2], "-1")  # force the shuffle join bloom targets
        from projet_data_infrastructure_spark.sources.readers import read_table

        li = read_table(spark, SF, "lineitem")
        orders = read_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
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


def test_scd2_single_exchange(spark):
    """The SCD2 build's lag and lead windows share partition key and sort
    order, so the whole query plans exactly one Exchange and one Sort."""
    from projet_data_infrastructure_spark.plans.lakehouse import q_scd2_user_history

    plan = (
        q_scd2_user_history(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert plan.count("Sort ") == 1


def test_window_topk_uses_group_limit(spark):
    """Per-group top-k via rank filter must plan WindowGroupLimit in BOTH
    Partial (map-side, before the exchange) and Final modes — each input
    partition forwards only k rows per group, so the shuffle carries
    O(groups × k), not the fact table."""
    from projet_data_infrastructure_spark.plans.relational import q_window_rank

    plan = q_window_rank(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_range_sorted_layout_files_are_disjoint(spark, tmp_path):
    """range_sorted_layout writes files whose [min, max] key ranges do not
    overlap — the property file-skipping relies on."""
    import glob

    import pyarrow.parquet as pq

    from projet_data_infrastructure_spark.operators.scale import range_sorted_layout
    from projet_data_infrastructure_spark.sources.readers import read_table

    out = str(tmp_path / "sorted_lake")
    ev = read_table(spark, "/root/testdata/sf0.01", "events").select("user_id", "value")
    range_sorted_layout(ev, "user_id", n_files=6).write.parquet(out)
    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "user_id"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4  # sampling may merge a near-empty band
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, hi2)}"


def test_quantile_specs_have_no_global_ntile_window(spark):
    """rfm_segmentation / equidepth_histogram / revenue_decile_share were
    rewritten from global-ORDER-BY ntile windows (one task sorts the world
    at 100 TB) to operators.ranks.exact_ntile. This pins the rewrite: no
    ntile window anywhere in their plans, and no single-partition exchange
    either (revenue_decile_share's share-of-total is a broadcast scalar
    join, not a global window)."""
    from projet_data_infrastructure_spark.plans.advanced import (
        q_equidepth_histogram,
        q_revenue_decile_share,
        q_rfm_segmentation,
    )

    sf = "/root/testdata/sf0.001"
    for q, allow_single in (
        (q_rfm_segmentation, False),
        (q_equidepth_histogram, False),
        (q_revenue_decile_share, False),
    ):
        plan = q(spark, sf)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "ntile(" not in plan, q.__name__
        if not allow_single:
            assert "Exchange SinglePartition" not in plan, q.__name__


def test_ivfpq_residual_candidate_stage_is_mapside(spark):
    """Residual IVFADC: bucket assignment, residual computation, PQ encode
    and per-cell ADC lookup are ALL expressions over inlined literals — the
    plan up to the shortlist TakeOrdered must contain no join and no
    nested loop; the only allowed Exchange is the top-k's."""
    from projet_data_infrastructure_spark.operators.similarity import (
        ivfpq_residual_topk,
    )
    from projet_data_infrastructure_spark.sources.readers import read_table

    emb = read_table(spark, SF, "embeddings")
    df = ivfpq_residual_topk(emb, query_id=0, k=5, n_centroids=4, nprobe=2, shortlist=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the single allowed nested-loop is the rerank's ONE-ROW query-vector
    # broadcast (IdentityBroadcastMode over a 1-row dim); sort-merge
    # anywhere means a data-sized shuffle snuck in
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" not in plan


def test_geo_pairs_plan_is_equi_join_not_nested_loop(spark):
    from projet_data_infrastructure_spark.plans.graph_geo import q_geo_cell_neighbor_pairs

    checks = explain_has(
        q_geo_cell_neighbor_pairs(spark, SF),
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    )
    # blocking must plan as a hash/sort-merge EQUI-join on the cell key;
    # any nested-loop form means the 3x3 candidate algebra regressed to
    # all-pairs and would not survive scale
    assert not checks["BroadcastNestedLoopJoin"]
    assert not checks["CartesianProduct"]


def test_copurchase_broadcasts_part_dim(spark):
    from projet_data_infrastructure_spark.plans.graph_geo import q_copurchase_brand_pairs

    checks = explain_has(
        q_copurchase_brand_pairs(spark, SF),
        "BroadcastHashJoin",
        "CartesianProduct",
        "TakeOrderedAndProject",
    )
    assert checks["BroadcastHashJoin"]  # part dim reaches baskets broadcast
    assert not checks["CartesianProduct"]
    assert checks["TakeOrderedAndProject"]  # top-20 never global-sorts


def test_pagerank_plan_has_no_cartesian_and_bounded_exchanges(spark):
    from projet_data_infrastructure_spark.plans.graph_geo import q_pagerank_fixed_point

    df = q_pagerank_fixed_point(spark, SF)
    checks = explain_has(df, "CartesianProduct", "BroadcastNestedLoopJoin")
    assert not checks["CartesianProduct"]
    assert not checks["BroadcastNestedLoopJoin"]


def test_acf_shares_one_window_exchange(spark):
    from projet_data_infrastructure_spark.plans.advanced import q_acf_by_user

    df = q_acf_by_user(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # both lag columns must come from ONE window sort: exactly one Window
    # operator, and no second Exchange between window and aggregate beyond
    # the aggregate's own
    assert plan.count("(2) Window") + plan.count(") Window") >= 1
    import re

    wins = len(re.findall(r"\)\s+Window\b", plan))
    assert wins == 1, f"expected one Window operator, plan has {wins}"


def test_bm25_tokenizes_exactly_once(spark):
    from projet_data_infrastructure_spark.plans.llm_queries import q_bm25_topk

    df = q_bm25_topk(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    # single-pass contract: the tokenize explode runs once, inside the
    # eagerly-materialized per_doc checkpoint, so the final plan shows at
    # most one Generate (zero when the checkpoint already holds it). Two
    # means the corpus is being tokenized twice again.
    gens = len(re.findall(r"\)\s+Generate\b", plan))
    assert gens <= 1, f"expected at most one Generate, plan has {gens}"


def test_brand_lift_broadcasts_and_takeordered(spark):
    from projet_data_infrastructure_spark.plans.graph_geo import q_brand_affinity_lift

    checks = explain_has(
        q_brand_affinity_lift(spark, SF),
        "BroadcastHashJoin",
        "CartesianProduct",
        "TakeOrderedAndProject",
    )
    assert checks["BroadcastHashJoin"]
    assert not checks["CartesianProduct"]
    assert checks["TakeOrderedAndProject"]


def test_weekly_movers_top20_never_global_sorts(spark):
    from projet_data_infrastructure_spark.plans.advanced import q_weekly_revenue_movers

    checks = explain_has(q_weekly_revenue_movers(spark, SF), "TakeOrderedAndProject")
    assert checks["TakeOrderedAndProject"]


def test_grid_dbscan_has_no_cartesian(spark):
    from projet_data_infrastructure_spark.plans.graph_geo import q_geo_grid_dbscan

    checks = explain_has(
        q_geo_grid_dbscan(spark, SF), "CartesianProduct", "BroadcastNestedLoopJoin"
    )
    assert not checks["CartesianProduct"]
    assert not checks["BroadcastNestedLoopJoin"]


def test_prefix_filter_join_is_equi_not_cartesian(spark):
    # Prefix filtering's whole value is replacing the all-pairs product with
    # equi-joins on rare prefix tokens — a cartesian anywhere defeats it.
    from projet_data_infrastructure_spark.plans.mining import q_prefix_filter_jaccard

    checks = explain_has(
        q_prefix_filter_jaccard(spark, SF),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    )
    assert not checks["CartesianProduct"]
    assert not checks["BroadcastNestedLoopJoin"]


def test_cusum_single_hash_exchange(spark):
    # repartition(user_id) must be the ONLY hash shuffle: hash(user_id)
    # satisfies the (user_id, day) aggregate's clustering AND both windows.
    import re

    from projet_data_infrastructure_spark.plans.mining import q_cusum_drift

    plan = q_cusum_drift(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    hashes = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hashes == 1, f"expected 1 hash exchange, plan has {hashes}"


def test_ols_sums_are_decimal_and_single_agg(spark):
    # The sufficient-statistics pass must aggregate DECIMAL sums (int64
    # would overflow at 100 TB row counts) in one HashAggregate pair with
    # broadcast dim joins — no sort-merge join, no second scan.
    from projet_data_infrastructure_spark.plans.mining import q_ols_two_feature

    from projet_data_infrastructure_spark.plans.mining import _OLS_SUMS

    df = q_ols_two_feature(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "decimal(25,0)" in plan, "moment sums must accumulate as DECIMAL"
    assert len(_OLS_SUMS) == 10
    checks = explain_has(df, "BroadcastHashJoin", "SortMergeJoin", "HashAggregate")
    assert checks["BroadcastHashJoin"] and checks["HashAggregate"]
    assert not checks["SortMergeJoin"]


def test_arrow_specs_use_arrow_nodes_not_pandas(spark):
    # The Spark-4 Arrow surface must plan MapInArrow / FlatMapGroupsInArrow
    # — not the pandas (ArrowEvalPython / FlatMapGroupsInPandas) operators.
    from projet_data_infrastructure_spark.plans.mining import (
        q_applyinarrow_stats,
        q_mapinarrow_norm,
    )

    p1 = q_mapinarrow_norm(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "MapInArrow" in p1 and "ArrowEvalPython" not in p1
    p2 = q_applyinarrow_stats(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "FlatMapGroupsInArrow" in p2 and "FlatMapGroupsInPandas" not in p2


def test_rrf_single_tokenize_and_takeordered_cuts(spark):
    # One Generate (single tokenize pass feeding both rankings) and the
    # top-100 candidate cuts must be TakeOrderedAndProject heaps, not a
    # global sort of the corpus. The only single-partition windows operate
    # on the already-bounded 100-row frames.
    import re

    from projet_data_infrastructure_spark.plans.mining import q_rrf_fusion

    plan = q_rrf_fusion(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "TakeOrderedAndProject" in plan
    gens = len(re.findall(r"Generate\b", plan))
    assert gens <= 2, f"expected a shared tokenize subtree, plan has {gens} Generates"


def test_sql_udf_is_inlined_not_python(spark):
    # A SQL-defined function must inline into the plan (whole-stage codegen
    # eligible) — any Python eval operator means it regressed to a UDF server.
    from projet_data_infrastructure_spark.plans.mining import q_sql_udf_rollup

    checks = explain_has(
        q_sql_udf_rollup(spark, SF), "BatchEvalPython", "ArrowEvalPython", "HashAggregate"
    )
    assert not checks["BatchEvalPython"] and not checks["ArrowEvalPython"]
    assert checks["HashAggregate"]


def test_kmeans_assignment_is_mapside(spark):
    # Final-assignment plan: centroid literals are inlined, so there must be
    # NO join anywhere — just scan → project → aggregate (+ the orderBy).
    import re

    from projet_data_infrastructure_spark.plans.mining import q_kmeans_fixed_point

    plan = q_kmeans_fixed_point(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "Join" not in plan
    hashes = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hashes == 1, f"expected only the aggregate exchange, got {hashes}"


def test_label_propagation_no_cartesian(spark):
    # Every round is an equi-join (edges ⋈ frontier) + vote aggregate +
    # per-node window — a cartesian or nested loop means the bucketed
    # candidate machinery leaked an all-pairs shape.
    from projet_data_infrastructure_spark.plans.mining import q_label_propagation

    checks = explain_has(
        q_label_propagation(spark, SF), "CartesianProduct"
    )
    assert not checks["CartesianProduct"]


def test_span_corruption_single_window_sort(spark):
    # The lag window feeds the running-sum window, so Catalyst plans two
    # Window operators — but they MUST share one (doc_id) sort/exchange:
    # exactly one hash exchange (the window partitioning; the aggregate
    # reuses it) and one sort below the window pair. A second window sort
    # means span detection re-shuffles the exploded tokens.
    import re

    from projet_data_infrastructure_spark.plans.mining import q_span_corruption

    plan = q_span_corruption(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    hashes = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hashes == 1, f"expected one hash exchange, plan has {hashes}"


def test_semdedup_prune_plan_equi_join_map_side_agg(spark):
    # SemDeDup candidate pairs must come from an equi-join on the IVF bucket
    # id (never a cartesian), and the keep/n_dups decision is a hash
    # aggregate over the pair stream (partial map-side combine present).
    import re

    from projet_data_infrastructure_spark.plans.llm_queries import q_semdedup_prune

    df = q_semdedup_prune(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[bkt_a", plan)
    # Centroid argmin is inlined literal math; only the constant-size seed
    # collect may broadcast-nested-loop (once per self-join side).
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "HashAggregate" in plan and "EvalPython" not in plan


def test_dup_span_removal_plan_no_cartesian_digest_joins(spark):
    # The span-removal pipeline must stay equi-join + hash-aggregate shaped:
    # no cartesian/nested-loop anywhere (the shared-gram set and coverage
    # joins key on the digest / (doc_id, pos)), and no Python eval.
    from projet_data_infrastructure_spark.plans.llm_queries import q_dup_span_removal

    plan = (
        q_dup_span_removal(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "HashAggregate" in plan


def test_ivf_assign_large_c_uses_broadcast_join(spark, monkeypatch):
    # Above LITERAL_CENTROID_MAX the centroid matrix must NOT enter the plan
    # as a literal (C = sqrt(N) is data-sized — a 3x10^5-vector literal is a
    # plan/codegen bomb). The large-C form packs the centroid table into ONE
    # broadcast row attached to the scan (BroadcastNestedLoopJoin BuildRight
    # with a 1-row build side — a per-row array attach, not a quadratic
    # loop; nearest-centroid has no equi-key before the argmin, so a
    # BroadcastHashJoin cannot exist, and the min_by row-expansion
    # alternative would shuffle N rows for its group-by). The embedding side
    # must never shuffle: the C-row single-partition centroid pre-aggregate
    # is the only Exchange allowed.
    from projet_data_infrastructure_spark.operators import similarity
    from projet_data_infrastructure_spark.sources.readers import read_table

    emb = read_table(spark, SF, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    monkeypatch.setattr(similarity, "LITERAL_CENTROID_MAX", 0)
    df = similarity.ivf_assign_to(emb, cents)
    assert len(df.collect()) == emb.count()  # finalize AQE on THIS plan
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin BuildRight" in final
    assert "SortMergeJoin" not in final and "BroadcastHashJoin" not in final
    # the broadcast is the packed 1-row centroid aggregate, not a C-row dim
    assert "collect_list" in final and "IdentityBroadcastMode" in final
    # embedding side never shuffles: no hash-partitioned exchange anywhere
    assert "Exchange hashpartitioning" not in final


@pytest.mark.parametrize(
    "name",
    [
        "pagerank_fixed_point",
        "personalized_pagerank",
        "bfs_khop_reachability",
        "bellman_ford_distances",
        "kcore_decomposition",
        "hits_authorities",
        "textrank_keywords",
        "label_propagation",
        "entity_resolution_clusters",  # connected components (duplicate_clusters)
    ],
)
def test_graph_shuffle_fallback_matches_broadcast(spark, monkeypatch, name):
    # Verdict r4 item 3: the keyed-shuffle form of the iterative graph
    # joins (web-scale |V|, where broadcasting the vertex frame is the
    # scale-killer) must be row-identical to the broadcast form. Force it
    # by dropping the one switch threshold to 0 and compare every spec
    # that reaches ``joins.vertex_side`` against its default-mode output.
    from projet_data_infrastructure_spark.operators import joins
    from projet_data_infrastructure_spark.plans import all_specs

    fn = next(s.fn for s in all_specs() if s.name == name)
    base = fn(spark, SF).collect()
    monkeypatch.setattr(joins, "BROADCAST_VERTEX_ROWS", 0)
    assert fn(spark, SF).collect() == base, f"{name}: shuffle form diverged"


def test_graph_shuffle_fallback_plans_keyed_join(spark, monkeypatch):
    # In forced-shuffle mode the STATIC plan must request keyed
    # ShuffledHashJoins with no vertex-frame broadcast — that is the plan a
    # web-scale |V| would execute. (At sf0.001 AQE legitimately converts
    # the tiny runtime shuffles back to broadcast, so the gate reads the
    # pre-AQE initial plan, not the adaptively final one.)
    from projet_data_infrastructure_spark.operators import joins
    from projet_data_infrastructure_spark.plans import graph_geo

    monkeypatch.setattr(joins, "BROADCAST_VERTEX_ROWS", 0)
    df = graph_geo.q_pagerank_fixed_point(spark, SF)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "== Initial Plan ==" in full
    initial = full.split("== Initial Plan ==")[1]
    assert "ShuffledHashJoin" in initial
    assert "BroadcastExchange" not in initial and "BroadcastHashJoin" not in initial


def test_ivf_topk_batch_plan(spark):
    # Batched ANN (verdict r4 item 6): candidates must come from an
    # EQUI-join on the bucket id against the broadcast probe rows (never a
    # cartesian/nested-loop over the corpus), and the per-query top-k must
    # plan as WindowGroupLimit so only k rows per query per task reach the
    # one bounded exchange.
    from projet_data_infrastructure_spark.plans.llm_queries import q_ivf_topk_batch

    df = q_ivf_topk_batch(spark, SF)
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    # 5 queries x k=5, every query produced a full result at this SF
    assert len(rows) == 25
    assert {r.query_id for r in rows} == {3, 17, 33, 77, 91}
    assert all(1 <= r.rank <= 5 for r in rows)


# --------------------------------------------------------------------------
# Round-5 learning/graph spec gates
# --------------------------------------------------------------------------


def test_naive_bayes_tokenizes_once_no_cartesian(spark):
    # the corpus tokenize lives inside the eager doc-word checkpoint, so
    # the final plan re-tokenizes NOTHING (zero Generate); the only
    # non-equi join is the bounded 5-row class-constant cross join
    from projet_data_infrastructure_spark.plans.learning import q_naive_bayes_lang

    df = q_naive_bayes_lang(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    assert not re.search(r"\)\s+Generate\b", plan), "corpus re-tokenized in final plan"
    checks = explain_has(df, "CartesianProduct")
    assert not checks["CartesianProduct"]


def test_winnowing_window_expansion_is_equi_not_range(spark):
    # window membership must expand as equi-join keys / explodes, never a
    # pos BETWEEN range join (BroadcastNestedLoopJoin/CartesianProduct)
    from projet_data_infrastructure_spark.plans.learning import q_winnowing_fingerprint

    checks = explain_has(
        q_winnowing_fingerprint(spark, SF),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    )
    assert not checks["CartesianProduct"]
    assert not checks["BroadcastNestedLoopJoin"]


def test_containment_join_is_equi_not_cartesian(spark):
    from projet_data_infrastructure_spark.plans.learning import q_ngram_containment

    checks = explain_has(
        q_ngram_containment(spark, SF), "CartesianProduct", "BroadcastNestedLoopJoin"
    )
    assert not checks["CartesianProduct"]
    assert not checks["BroadcastNestedLoopJoin"]


def test_brand_cf_bounded_basket_plan(spark):
    # part dim broadcasts; pair generation is the customer equi-join; the
    # top-15 never global-sorts
    from projet_data_infrastructure_spark.plans.learning import q_brand_cf_cosine

    checks = explain_has(
        q_brand_cf_cosine(spark, SF),
        "BroadcastHashJoin",
        "CartesianProduct",
        "TakeOrderedAndProject",
    )
    assert checks["BroadcastHashJoin"]
    assert not checks["CartesianProduct"]
    assert checks["TakeOrderedAndProject"]


def test_rendezvous_has_no_join(spark):
    # HRW assignment is one map-side argmax — the plan must contain no join
    # operator of any kind, just scan → project → one aggregate exchange
    from projet_data_infrastructure_spark.plans.learning import q_rendezvous_shards

    checks = explain_has(
        q_rendezvous_shards(spark, SF),
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    )
    assert not any(checks.values()), f"unexpected join in HRW plan: {checks}"


def test_markov_2step_single_corpus_window(spark):
    # one corpus-sized lag-window sort; the matrix algebra never touches a
    # data-sized frame again
    from projet_data_infrastructure_spark.plans.learning import q_markov_2step

    df = q_markov_2step(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    # the lag window runs ONCE inside the eager matrix checkpoint, so the
    # final plan shows zero Window operators (≤1 tolerated if the
    # checkpoint ever goes lazy); >1 means the corpus sort is duplicated
    wins = len(re.findall(r"\)\s+Window\b", plan))
    assert wins <= 1, f"corpus lag window duplicated: plan has {wins}"


def test_kcore_and_hits_no_cartesian(spark):
    from projet_data_infrastructure_spark.plans.graph_geo import (
        q_hits_authorities,
        q_kcore_decomposition,
    )

    checks = explain_has(
        q_kcore_decomposition(spark, SF), "CartesianProduct", "BroadcastNestedLoopJoin"
    )
    assert not checks["CartesianProduct"]
    assert not checks["BroadcastNestedLoopJoin"]
    # HITS: the 1-row max-normalizer broadcasts (a legitimate bounded
    # BroadcastNestedLoopJoin); no cartesian anywhere
    checks = explain_has(q_hits_authorities(spark, SF), "CartesianProduct")
    assert not checks["CartesianProduct"]


def test_ccnet_buckets_plan_has_no_language_window(spark):
    """ccnet_perplexity_buckets' per-language tercile must come from
    operators.ranks.grouped_rank (range-bucketed rank + broadcast offsets),
    never a PARTITION BY lang ntile window — a per-language window funnels
    each language's whole corpus through one task at 100 TB."""
    from projet_data_infrastructure_spark.plans.llm_queries import (
        q_ccnet_perplexity_buckets,
    )

    plan = q_ccnet_perplexity_buckets(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ntile(" not in plan
    assert "Exchange SinglePartition" not in plan


def test_funnel_report_plan_is_all_equi_joins(spark):
    """curation_funnel_report: digest groupBy + keeper equi-join + map-side
    gate — no cartesian or nested-loop join anywhere, and no
    single-partition exchange (per-stage reports are grouped aggregates)."""
    from projet_data_infrastructure_spark.plans.llm_queries import (
        q_curation_funnel_report,
    )

    checks = explain_has(
        q_curation_funnel_report(spark, SF),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "Exchange SinglePartition",
    )
    assert not checks["CartesianProduct"]
    assert not checks["BroadcastNestedLoopJoin"]
    assert not checks["Exchange SinglePartition"]


def test_c4_line_dedup_plan_two_key_shuffles_no_python(spark):
    # The C4 pass must stay: map-side explode -> ONE line-key shuffle
    # (window min-struct, no join-back on the line key) -> doc_id
    # aggregates. No cartesian/nested-loop, no Python eval; the only joins
    # are the doc_id-keyed stats join.
    from projet_data_infrastructure_spark.plans.llm_queries import q_c4_line_dedup

    plan = (
        q_c4_line_dedup(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "HashAggregate" in plan
    # one line-key shuffle (the window) + doc_id-keyed aggregation/join
    # exchanges; anything beyond ~6 means a join-back on lk crept in
    assert plan.count("Exchange hashpartitioning") <= 6, plan


def test_pit_regime_single_user_exchange_no_range_join(spark):
    # The point-in-time join must stay the union+window carry-forward: ONE
    # user_id exchange feeding the merged window (change-detection's second
    # Exchange+Sort is provably redundant and must not creep back), plus the
    # final aggregate exchange — and never an interval range join
    # (cartesian/nested-loop).
    from projet_data_infrastructure_spark.plans.advanced import (
        q_pit_regime_attribution,
    )

    plan = (
        q_pit_regime_attribution(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_trigram_backoff_no_cartesian_one_corpus_tokenize_per_side(spark):
    # All joins are heldout-trigrams x vocabulary-bounded count tables; the
    # 1-row N attaches via a broadcast cross join (allowed: single-row), and
    # no cartesian over data-sized frames.
    from projet_data_infrastructure_spark.plans.corpus_lm import (
        q_trigram_backoff_score,
    )

    plan = (
        q_trigram_backoff_score(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the only nested-loop is the broadcast of the 1-row n_train aggregate
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_higher_moments_single_hash_aggregate_pass(spark):
    # One scan -> partial+final HashAggregate; no window, no join, no sort.
    from projet_data_infrastructure_spark.plans.stats_inference import (
        q_higher_moments_by_type,
    )

    plan = (
        q_higher_moments_by_type(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_t_closeness_windows_only_over_bounded_grid(spark):
    # The data-sized work is exactly one (cell, band) count aggregate; the
    # windows (including the SinglePartition total) run over the bounded
    # cells x 10 grid AFTER that aggregate, so a single-partition exchange
    # is acceptable there and only there.
    from projet_data_infrastructure_spark.plans.relational import (
        q_t_closeness_audit,
    )

    plan = (
        q_t_closeness_audit(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # one count aggregate + the grid-side joins/regroup; the explode join is
    # broadcast (bands literal) — no data-sized nested loop
    assert plan.count("Exchange SinglePartition") <= 1, plan


# ------------------------------------------------- round-8 plan gates


def test_span_corruption_has_no_window_or_sort(spark):
    # the window-free span-start trick: the executed plan must contain NO
    # Window and NO Sort — the predecessor's mask coin is recomputed
    # map-side, not carried by lag()
    from projet_data_infrastructure_spark.plans.corpus_lm import (
        q_span_corruption_masks,
    )

    df = q_span_corruption_masks(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    body = plan.split("TakeOrderedAndProject")[0]  # final orderBy(doc_id) ok
    assert "Window" not in body
    checks = explain_has(df, "WindowExec")
    assert not checks["WindowExec"]


def test_incremental_dedup_has_no_cartesian(spark):
    from projet_data_infrastructure_spark.plans.corpus_lm import (
        q_incremental_index_dedup,
    )

    checks = explain_has(
        q_incremental_index_dedup(spark, SF),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    )
    assert not checks["CartesianProduct"] and not checks["BroadcastNestedLoopJoin"]


def test_contamination_is_bucketed_not_crossproduct(spark):
    from projet_data_infrastructure_spark.plans.corpus_lm import (
        q_semantic_contamination,
    )

    checks = explain_has(
        q_semantic_contamination(spark, SF),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    )
    assert not checks["CartesianProduct"] and not checks["BroadcastNestedLoopJoin"]


def test_pii_scan_prunes_to_three_columns(spark):
    from projet_data_infrastructure_spark.plans.corpus_lm import (
        q_pii_redaction_scan,
    )

    df = q_pii_redaction_scan(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    sch = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" in sch and "doc_id" in sch and "lang" in sch
    assert "source" not in sch and "n_chars" not in sch


def test_keyless_range_join_has_no_nested_loop(spark):
    from projet_data_infrastructure_spark.plans.advanced import (
        q_range_join_keyless_bucketed,
    )

    checks = explain_has(
        q_range_join_keyless_bucketed(spark, SF),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    )
    assert not checks["CartesianProduct"] and not checks["BroadcastNestedLoopJoin"]


# ------------------------------------------------- round-9 plan gates


def test_logrank_window_only_over_day_grid(spark):
    # logrank's one unpartitioned cumulative window (risk-set n1/nt) runs
    # over the DAY GRID — the frame AFTER the dur_days aggregate, bounded
    # by distinct survival durations (calendar days, <= ~366 at any corpus
    # size) — never over per-user or per-event rows. The gate pins the
    # Window's child to the dur_days-keyed aggregate: in the top-down plan
    # print the Window must appear ABOVE (before) that HashAggregate, and
    # the only corpus-sized exchange is the per-user aggregate's.
    from projet_data_infrastructure_spark.plans.survival import q_logrank_test

    plan = q_logrank_test(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    win_pos = plan.index("Window")
    day_agg = plan.find("HashAggregate(keys=[dur_days", win_pos)
    assert day_agg != -1, plan  # window's subtree aggregates on dur_days
    # nothing user/event-keyed sits between the window and its day grid
    between = plan[win_pos:day_agg]
    assert "user_id" not in between, plan


def test_funnel_three_step_is_window_free(spark):
    # the 3-step funnel chains conditional-min aggregates + two
    # user_id-keyed self-joins — no Window at all, so there is nothing to
    # single-partition (the 2-step `funnel_conversion` discipline).
    from projet_data_infrastructure_spark.plans.advanced import (
        q_funnel_three_step,
    )

    df = q_funnel_three_step(spark, SF)
    checks = explain_has(df, "WindowExec", "CartesianProduct")
    assert not checks["WindowExec"] and not checks["CartesianProduct"]


def test_mann_whitney_window_only_over_dollar_grid(spark):
    # the one unpartitioned cumulative window runs on the frame AFTER the
    # usd aggregate (value-bounded dollar grid), never over event rows.
    from projet_data_infrastructure_spark.plans.stats_inference import q_mann_whitney_u

    plan = q_mann_whitney_u(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    win_pos = plan.index("Window")
    grid_agg = plan.find("HashAggregate(keys=[usd", win_pos)
    assert grid_agg != -1, plan
    assert "event_id" not in plan[win_pos:grid_agg], plan


def test_spearman_windows_only_over_value_grids(spark):
    # both rank tables window AFTER their value aggregates (50 quantities /
    # domain-bounded dollars); the corpus-sized work is the scan + two
    # broadcast joins + one moment aggregate — no corpus-keyed window.
    from projet_data_infrastructure_spark.plans.stats_inference import (
        q_spearman_corr_qty_price,
    )

    df = q_spearman_corr_qty_price(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    first_win = plan.index("Window")
    # every Window's subtree must aggregate on its grid key
    assert plan.find("HashAggregate(keys=[qty", first_win) != -1 or plan.find(
        "HashAggregate(keys=[usd", first_win
    ) != -1, plan
    # rank tables enter the row stream via broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan, plan


def test_event_pattern_match_is_one_aggregate(spark):
    from projet_data_infrastructure_spark.plans.events_queries import (
        q_event_pattern_match,
    )

    df = q_event_pattern_match(spark, SF)
    checks = explain_has(df, "WindowExec", "CartesianProduct", "SortMergeJoin")
    assert not any(checks.values()), checks
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one user-keyed exchange + the final 1-row rollup; nothing else
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_kendall_fold_is_arrow_over_bounded_cells(spark):
    # r14: the only corpus-sized operation is the (usd, qty) cell count
    # aggregate (ONE keyed exchange, map-side combined); the whole dominance
    # algebra then runs as a single vectorized Arrow fold over the
    # DOMAIN-bounded cell table (qty has the fixed 1..50 domain, usd the
    # fixed price-catalog range). No grid-sized Window, no dense-grid join,
    # no cartesian anywhere.
    from projet_data_infrastructure_spark.plans.stats_inference import q_kendall_tau_b

    df = q_kendall_tau_b(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "MapInArrow" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("hashpartitioning(usd") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_bh_fdr_windows_only_over_nation_frame(spark):
    from projet_data_infrastructure_spark.plans.stats_inference import (
        q_bh_fdr_nation_urgency,
    )

    df = q_bh_fdr_nation_urgency(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the corpus-sized work is ONE orders aggregate; every window runs
    # after the c_nationkey-keyed aggregate (25-row frame)
    win_pos = plan.index("Window")
    agg = plan.find("HashAggregate(keys=[c_nationkey", win_pos)
    assert agg != -1, plan
    assert "o_orderkey" not in plan[win_pos:agg], plan
