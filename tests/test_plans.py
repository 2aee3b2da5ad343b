"""Physical-plan assertions for the relational/temporal query surface:
the properties that matter at 100 TB (broadcast vs shuffle choice,
scan-level predicate pushdown, join-free as-of, single-shuffle
windows) are checked on the actual executed/optimized plans, not
assumed from the DataFrame code."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_reach_scan(spark, sf_dir):
    """All of q6's conjuncts must appear as parquet PushedFilters —
    a scan that reads every row and filters later is wrong at scale."""
    from parquet_converters_spark.queries import q6_selective_agg

    plan = _plan(q6_selective_agg(spark, sf_dir))
    scan = plan[plan.find("FileScan"):]
    pushed = scan[scan.find("PushedFilters"): scan.find("]", scan.find("PushedFilters"))]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_star_join_dims_broadcast(spark, sf_dir):
    """q5's dimension joins must all be broadcasts: the only shuffle
    allowed on the fact path is lineitem<->orders plus the final agg."""
    from parquet_converters_spark.queries import q5_nation_volume

    plan = _plan(q5_nation_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan[:800]


def test_q9_selective_dim_prunes_scan_columns(spark, sf_dir):
    """q9 reads lineitem for 5 of its 11 columns — column pruning must
    reach ReadSchema."""
    from parquet_converters_spark.queries_tpch import q9_product_profit

    plan = _plan(q9_product_profit(spark, sf_dir))
    scan = plan[plan.find("FileScan parquet"):]
    read_schema = scan[scan.find("ReadSchema"): scan.find(">", scan.find("ReadSchema"))]
    assert "l_returnflag" not in read_schema and "l_linenumber" not in read_schema, read_schema


def test_asof_join_is_join_free(spark, sf_dir):
    """The as-of implementation must contain no physical join operator
    at all — it is a union + window (one shuffle on user_id)."""
    from parquet_converters_spark.queries_tpch import asof_join_last_view

    plan = _plan(asof_join_last_view(spark, sf_dir))
    assert "Join" not in plan, plan[:800]
    assert "Window" in plan


def test_band_join_keeps_equi_key(spark, sf_dir):
    """The band join must execute as an equi-join on user_id with the
    band as residual condition — never as a cartesian/broadcast-nested-
    loop over the full pair space."""
    from parquet_converters_spark.queries_tpch import band_join_conversions

    plan = _plan(band_join_conversions(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan[:800]


def test_q21_single_fact_pass(spark, sf_dir):
    """q21's EXISTS/NOT-EXISTS decorrelation must not self-join
    lineitem: exactly one lineitem scan in the plan."""
    from parquet_converters_spark.queries_tpch import q21_dominant_supplier

    plan = _plan(q21_dominant_supplier(spark, sf_dir))
    assert plan.count("FileScan parquet") == 2, plan[:800]  # lineitem + supplier


def test_scalar_subquery_broadcasts(spark, sf_dir):
    """q11's global-total comparison joins a 1-row aggregate — it must
    broadcast, not shuffle the grouped side."""
    from parquet_converters_spark.queries_tpch import q11_important_parts

    plan = _plan(q11_important_parts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan[:800]


def test_range_join_is_equi_hash_join(spark, sf_dir):
    """bucketed_range_join must plan as a hash equi-join on
    (bucket, keys) with the containment as residual — never a
    cartesian product or broadcast-nested-loop over the pair space."""
    from parquet_converters_spark.queries import range_join_error_views

    plan = _plan(range_join_error_views(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan[:800]


def test_simhash_pairs_is_equi_join(spark, sf_dir):
    """Banded simhash candidate generation must be an equi-join on the
    (band, value) bucket — the whole point is never comparing all
    pairs."""
    from parquet_converters_spark.queries import dedup_simhash_pairs

    plan = _plan(dedup_simhash_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]


def test_bloom_prune_filters_fact_before_join(spark, sf_dir):
    """The Bloom membership predicate must sit on the lineitem scan
    side *below* the join — that is the entire point of the operator."""
    from parquet_converters_spark.queries import bloom_pruned_revenue

    plan = _plan(bloom_pruned_revenue(spark, sf_dir))
    join_at = min(
        i for i in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
        if i >= 0
    )
    probe_at = plan.find("xxhash64")
    assert probe_at > join_at >= 0, "bloom probe not below the join"


def test_zscore_stats_join_broadcasts(spark, sf_dir):
    """The per-group stats table is tiny and must broadcast — the fact
    table never shuffles row-wise."""
    from parquet_converters_spark.queries import zscore_outlier_events

    plan = _plan(zscore_outlier_events(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_single_window_pass(spark, sf_dir):
    """SCD2 history must be one window over one shuffle — no join, no
    second exchange after the window."""
    from parquet_converters_spark.queries import scd2_event_history

    plan = _plan(scd2_event_history(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_weighted_sample_is_topk_not_full_sort(spark, sf_dir):
    """The k-row sample must run as TakeOrderedAndProject, never a
    global Sort + Limit."""
    from parquet_converters_spark.queries import weighted_sample_docs

    plan = _plan(weighted_sample_docs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_gopher_report_is_single_pass(spark, sf_dir):
    """All nine Gopher rules + all_rules must fold into ONE aggregation
    over one scan of documents — no join, no repeated scans."""
    from parquet_converters_spark.queries import gopher_quality_report

    plan = _plan(gopher_quality_report(spark, sf_dir))
    assert "Join" not in plan, plan[:800]
    assert plan.count("FileScan") == 1, plan[:800]


def test_expectations_row_rules_single_scan(spark, sf_dir):
    """The five row-level expectations share ONE lineitem scan/agg
    reading exactly the five ruled columns; the referential check adds
    key-only scans (and a zero-column footer-count scan) — no scan may
    read unruled columns."""
    import re

    from parquet_converters_spark.queries import expectations_report

    plan = _plan(expectations_report(spark, sf_dir))
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) <= 4, plan[:1200]
    wide = [s for s in scans if s.count(",") >= 1]
    assert len(wide) == 1, scans  # only the rules scan reads >1 column
    cols = {c.split("#")[0] for c in wide[0].split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate"
    }, cols


def test_winsorize_bounds_broadcast(spark, sf_dir):
    """The per-group quantile bounds (rows == #groups) must come back
    as a broadcast join, never a shuffle of the fact table."""
    from parquet_converters_spark.queries import winsorized_value_stats

    plan = _plan(winsorized_value_stats(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:800]


def test_kmeans_assignment_is_narrow(spark, sf_dir):
    """Cluster assignment must be a projection over the scan — no
    exchange, no join before the (single) update aggregation."""
    from parquet_converters_spark.operators.clustering import assign_clusters

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [[float(i == j) for j in range(4)] for i in range(3)]
    df = assign_clusters(emb.select(F.slice("embedding", 1, 4).alias("v")), "v", cents)
    plan = _plan(df)
    assert "Exchange" not in plan and "Join" not in plan, plan[:800]


def test_per_group_cap_single_shuffle(spark, sf_dir):
    """The per-source cap is one hash exchange on source + rank filter
    (plus the final audit agg) — the fact table shuffles once."""
    from parquet_converters_spark.functions.sampling import per_group_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(per_group_cap(docs, "source", "doc_id", 40))
    assert plan.count("Exchange") == 1, plan[:800]
    assert "Join" not in plan


def test_contamination_matrix_has_no_join(spark, sf_dir):
    """The source-pair expansion happens inside the per-shingle group
    set (HOF over <= |sources| elements) — a shingle-level self-join
    would square the corpus, so the plan must contain no join at all."""
    from parquet_converters_spark.queries import contamination_matrix

    plan = _plan(contamination_matrix(spark, sf_dir))
    assert "Join" not in plan, plan[:800]


def test_quantize_audit_single_shuffle(spark, sf_dir):
    """The int8 quantization audit is a narrow map pass + one tiny
    aggregation: exactly one shuffle (the groupBy label), nothing
    else."""
    from parquet_converters_spark.queries import embedding_quantize_error

    plan = _plan(embedding_quantize_error(spark, sf_dir))
    # final orderBy adds a range-partition exchange over 10 rows; the
    # data path itself must shuffle once
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1200]


def test_incremental_bloom_probe_precedes_join(spark, sf_dir):
    """The Bloom probe must run as a Filter on the batch scan side
    (xxhash64 probes in codegen) so only candidates reach the exact
    semi-join shuffle."""
    from parquet_converters_spark.queries import dedup_incremental_bloom

    plan = _plan(dedup_incremental_bloom(spark, sf_dir))
    assert "xxhash64" in plan, plan[:800]
    assert "Join LeftSemi" in plan or "LeftSemi" in plan, plan[:800]


def test_standardize_shuffle_is_dim_bounded(spark, sf_dir):
    """Per-dimension standardization shuffles moments (dim rows), joins
    them back via broadcast — no row-level shuffle of the corpus."""
    from parquet_converters_spark.queries import embedding_standardize_stats

    plan = _plan(embedding_standardize_stats(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]


def test_pii_redact_is_single_narrow_pass(spark, sf_dir):
    """The redaction chain is one projection over the scan: no join, no
    aggregation, no exchange except the final orderBy."""
    from parquet_converters_spark.queries import text_pii_redact

    plan = _plan(text_pii_redact(spark, sf_dir))
    assert "Join" not in plan, plan[:800]
    assert "Exchange hashpartitioning" not in plan, plan[:800]


def test_equi_depth_boundaries_broadcast_single_fact_scan(spark, sf_dir):
    """The equi-depth histogram's boundary row must reach the binning
    pass as a broadcast (BroadcastNestedLoopJoin over 1 row), never a
    shuffle; and no global Sort precedes the aggregate (the whole point
    vs ntile)."""
    from parquet_converters_spark.queries import equi_depth_histogram

    plan = _plan(equi_depth_histogram(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]


def test_rolling_distinct_semi_join_broadcasts(spark, sf_dir):
    """The active-days semi-join must broadcast the tiny day list; the
    only data shuffles are the (day,user) dedupe and the final
    distinct agg."""
    from parquet_converters_spark.queries import rolling_7d_distinct_users

    plan = _plan(rolling_7d_distinct_users(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]


def test_time_rollup_scans_raw_events_once(spark, sf_dir):
    """The minute->hour->day chain must contain exactly ONE events
    FileScan — every higher grain re-aggregates the grain below."""
    from parquet_converters_spark.queries import time_rollup_hierarchy

    plan = _plan(time_rollup_hierarchy(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan[:800]


def test_compaction_plan_windows_are_group_partitioned(spark, sf_dir):
    """Grouped packing must have no empty-partitionBy window: every
    windowspecdefinition leads with the source group key."""
    from parquet_converters_spark.queries import compaction_plan

    plan = _plan(compaction_plan(spark, sf_dir))
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan[:800]
    assert all(s.lstrip().startswith("source") for s in specs), specs


def test_basket_pair_join_stays_on_order_key(spark, sf_dir):
    """The basket self-join must be an equi-join on l_orderkey (pair
    expansion bounded by basket size) — never a cartesian — and the
    part dimension must broadcast."""
    from parquet_converters_spark.queries import market_basket_lift

    plan = _plan(market_basket_lift(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastHashJoin" in plan, plan[:800]


def test_sparse_cosine_norms_broadcast(spark, sf_dir):
    """Norms and df tables are doc/vocab-sized: they must reach the
    pair table as broadcasts, and the postings self-join must keep
    token as its equi-key."""
    from parquet_converters_spark.queries import sparse_cosine_topk

    plan = _plan(sparse_cosine_topk(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:800]
    assert "CartesianProduct" not in plan, plan[:800]


def test_image_neardup_is_banded_equi_join(spark, sf_dir):
    """The Hamming near-dup join must plan as an equi-join on the
    (band, value) keys — never a cartesian/BNLJ over signatures."""
    from parquet_converters_spark.queries import image_dhash_neardup

    plan = _plan(image_dhash_neardup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_fingerprint_censuses_are_narrow_plus_aggregate(spark, sf_dir):
    """The craft->decode->hash census chains must stay shuffle-light:
    the round-robin id exchange plus the aggregate's exchange(s), no
    joins at all."""
    from parquet_converters_spark.queries import (
        audio_fingerprint_census,
        image_dhash_census,
        video_dhash_census,
    )

    for q in (image_dhash_census, audio_fingerprint_census,
              video_dhash_census):
        plan = _plan(q(spark, sf_dir))
        for op in ("Join", "CartesianProduct"):
            assert op not in plan, f"{q.__name__}: unexpected {op}"
        assert plan.count("Exchange") <= 3, f"{q.__name__}: {plan[:400]}"
