"""Physical-plan assertions: the properties that make these operators
scale — filter/column pushdown into the parquet scan, broadcast joins
for small dimensions, partial/final aggregation, whole-stage codegen.

These are the Spark equivalents of the reference's hand-rolled
optimizations (SURVEY §4): WHERE shipped to operators → PushedFilters;
avg→sum+count split → partial HashAggregate; partition pruning →
PartitionFilters (covered in test_ingest_multimodal)."""

import pytest

from edgelake_spark.queries import SPARK_QUERIES
from tests.conftest import SF_DIR, SF_DIR_MED, spark_jobs


def plan_of(spark, name: str) -> str:
    df = SPARK_QUERIES[name](spark, SF_DIR_MED)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "lineitem_time_scan")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:200]


def test_column_pruning(spark):
    plan = plan_of(spark, "lineitem_time_scan")
    # scan reads only the 3 needed columns, not all 11
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_dialect_where_pushdown(spark):
    plan = plan_of(spark, "el_basic_where")
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "value" in pushed and "event_type" in pushed


def test_small_dims_broadcast(spark):
    plan = plan_of(spark, "tpch_q5ish")
    # region/nation/customer are tiny → broadcast, not shuffled joins
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_partial_final_aggregation(spark):
    plan = plan_of(spark, "tpch_q1")
    # Catalyst splits the agg: map-side partial + final after exchange —
    # exactly EdgeLake's remote/unify split (unify_results.py:236-278)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_whole_stage_codegen_present(spark):
    df = SPARK_QUERIES["tpch_q1"](spark, SF_DIR_MED)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen'd spans in the compact form
    assert "isFinalPlan=true" in plan and "*(" in plan


def test_increments_single_shuffle(spark):
    plan = plan_of(spark, "el_increments_hour")
    # bucket agg needs exactly one data shuffle (plus order-by range
    # exchange) — the two-phase increments contract
    assert plan.count("Exchange hashpartitioning") == 1


def test_exists_compiles_to_semi_join(spark):
    # tpch_q4ish: EXISTS must become a semi join (one probe per order),
    # never an inner join + distinct (fact duplication at scale)
    plan = plan_of(spark, "tpch_q4ish")
    assert "LeftSemi" in plan
    assert "Distinct" not in plan


def test_nation_pair_dims_broadcast(spark):
    # tpch_q7ish: supplier + both nation sides broadcast; the only
    # shuffle joins are between the big tables
    plan = plan_of(spark, "tpch_q7ish")
    assert plan.count("BroadcastHashJoin") >= 3


def test_promo_ratio_part_broadcast_and_pushdown(spark):
    # tpch_q14ish: part is the broadcast side; the shipdate window is
    # pushed into the lineitem scan
    plan = plan_of(spark, "tpch_q14ish")
    assert "BroadcastHashJoin" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:300]


def test_correlated_subquery_decorrelates(spark):
    # tpch_q17ish: the per-partkey avg must decorrelate into an
    # aggregate joined on l_partkey — no nested-loop re-execution
    plan = plan_of(spark, "tpch_q17ish")
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_window_gates_single_shuffle(spark):
    # events_lag_delta + events_running_sum: every frame shares ONE
    # (user_id) hash partitioning; the only other exchange is the
    # presentation sort's range partitioning
    for name in ("events_lag_delta", "events_running_sum"):
        plan = plan_of(spark, name)
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert plan.count("Window") >= 1, name


def test_q21_semi_and_anti(spark):
    # tpch_q21ish: EXISTS → LeftSemi, NOT EXISTS → LeftAnti; never an
    # inner join + distinct (would duplicate the fact table at scale)
    plan = plan_of(spark, "tpch_q21ish")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "Distinct" not in plan


def test_q19_disjunct_pushdown(spark):
    # tpch_q19ish: Catalyst must factor the per-side conjuncts out of
    # the OR so the quantity-range union reaches the lineitem scan
    plan = plan_of(spark, "tpch_q19ish")
    pushed = plan.split("PushedFilters: [")
    assert any("l_quantity" in seg[:400] for seg in pushed[1:])


def test_events_rate_shared_partitioning(spark):
    # events_rate: the lag() window and the GROUP BY both key on
    # user_id — exactly one hash exchange (the other is the final sort)
    plan = plan_of(spark, "events_rate")
    assert plan.count("Exchange hashpartitioning") == 1


def test_q8_q9_dims_broadcast(spark):
    # q8ish: nation x2 + region + supplier broadcast; q9ish: part +
    # supplier + nation broadcast — only fact-side joins may shuffle
    assert plan_of(spark, "tpch_q8ish").count("BroadcastHashJoin") >= 4
    assert plan_of(spark, "tpch_q9ish").count("BroadcastHashJoin") >= 3


def test_pq_codebook_broadcast(spark):
    # emb_pq_codes: the K*M codebook must broadcast against the corpus;
    # the argmin is an aggregate (no window sort of the cross product)
    plan = plan_of(spark, "emb_pq_codes")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "max_by" in plan


def test_range_join_is_equi_not_nested_loop(spark):
    # events_range_join: the bucketization must give Catalyst an equi
    # key — a naive interval theta-join becomes BroadcastNestedLoop /
    # cartesian, which is O(n^2) at scale
    plan = plan_of(spark, "events_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan


def test_m4_single_shuffle_argmin_aggregate(spark):
    plan = plan_of(spark, "events_m4_downsample")
    # all four extrema ride ONE (series, bucket) aggregation: a single
    # hash exchange plus the presentation range sort — no per-bucket
    # window, no second data shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "min_by" in plan and "max_by" in plan
    assert "partial_min_by" in plan  # map-side combine of the argmin
    assert "Window" not in plan
    assert "PushedFilters: [IsNotNull(value)]" in plan


def test_sq8_codes_staged_once_no_nested_loop(spark):
    plan = plan_of(spark, "emb_sq8_topk")
    # quantize once into the persisted artifact: the distance join
    # reads the code table on an equi key (dim) — no keyless join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # every scan is the parquet code artifact; the floats never re-read
    assert "sq8_codes_" in plan
    assert "embeddings.parquet" not in plan


def test_pq_codebook_is_build_side(spark):
    df = SPARK_QUERIES["emb_pq_codes"](spark, SF_DIR_MED)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    # the keyless corpus x codebook join must build (broadcast) the
    # codebook so the corpus streams — the BROADCAST(cn) hint pins
    # BuildRight; a BuildLeft here would broadcast the corpus
    import re

    outer = re.findall(r"BroadcastNestedLoopJoin (BuildLeft|BuildRight), Inner", plan)
    assert "BuildRight" in outer, plan[:500]


def test_cosine_query_side_is_build_side(spark):
    df = SPARK_QUERIES["emb_cosine_topk"](spark, SF_DIR_MED)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    # BuildLeft = the 5-row query set (hinted); the corpus streams
    assert "BroadcastNestedLoopJoin BuildLeft" in plan


def test_gapfill_interp_shares_window_exchange(spark):
    plan = plan_of(spark, "events_gapfill_interp")
    # prev and next carries share one (event_type) window partitioning;
    # the spine build and equi join add no fact-table shuffle beyond it
    assert plan.count("Window") <= 2  # leading + trailing frame nodes
    assert "CartesianProduct" not in plan


def test_gopher_and_pii_are_map_side_only(spark):
    # rule filters and regex scrubs are pure per-row expression work:
    # zero data shuffles (only the presentation range sort)
    for name in ("doc_gopher_rules", "doc_pii_redact"):
        plan = plan_of(spark, name)
        assert plan.count("Exchange hashpartitioning") == 0, name
        assert "Window" not in plan and "Join" not in plan, name


def test_chunk_overlap_is_generate_no_shuffle(spark):
    plan = plan_of(spark, "doc_chunk_overlap")
    # chunk rows explode map-side from the index sequence; no join, no
    # hash exchange — output-proportional work only
    assert plan.count("Generate") == 1
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Join" not in plan


def test_remove_dup_chunks_two_exchanges(spark):
    plan = plan_of(spark, "doc_remove_dup_chunks")
    # one shuffle ranks chunk hashes (first-occurrence window), one
    # re-groups per doc — no self-join anywhere
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_bq_query_codes_are_build_side(spark):
    df = SPARK_QUERIES["emb_bq_hamming_topk"](spark, SF_DIR_MED)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    # BuildLeft = the 5 two-BIGINT query codes broadcast; the corpus
    # code scan streams (16 bytes/vector) — never the reverse
    assert "BroadcastNestedLoopJoin BuildLeft" in plan
    # every scan is the parquet code artifact; the floats never re-read
    assert "bq_codes_" in plan
    assert "embeddings.parquet" not in plan


def test_bm25_scan_and_score_no_shuffle(spark):
    plan = plan_of(spark, "doc_bm25_topk")
    # per-doc term frequencies are map-side array filters; the 1-row
    # stats aggregate broadcasts back; top-10 is TakeOrderedAndProject —
    # no tokenize-explode shuffle for an ad-hoc 4-term query
    assert plan.count("Exchange hashpartitioning") == 0
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_no_exchange(spark):
    df = SPARK_QUERIES["orders_bucketed_join"](spark, SF_DIR_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both fact tables are pre-bucketed on the join key: the join runs
    # co-located — no Exchange feeds the SortMergeJoin; the only hash
    # exchange in the plan is the tiny post-join re-aggregation
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin")[1]
    assert "Exchange hashpartitioning" not in join_part
    assert "SelectedBucketsCount" in plan


def test_bucketed_layout_reattaches_across_sessions(spark):
    """A NEW session must re-ATTACH the persisted bucketed layout
    (metadata-only CREATE over the external files) instead of paying
    the full rewrite — simulated here by DROPping the catalog entries
    (external tables: files survive) and re-running the gate. The
    layout files must be byte-untouched, the join still exchange-free,
    and the rows identical."""
    import glob
    import os

    from edgelake_spark import artifacts
    from edgelake_spark.queries import _BUCKETS

    df1 = SPARK_QUERIES["orders_bucketed_join"](spark, SF_DIR_MED)
    rows1 = sorted(map(tuple, df1.collect()))
    locs = [
        artifacts.path(spark, os.path.join(SF_DIR_MED, f"{t}.parquet"), f"bucketed_{t}", _BUCKETS)
        for t in ("orders", "lineitem")
    ]
    for loc in locs:
        assert os.path.exists(os.path.join(loc, artifacts.MARKER)), loc

    def file_state(loc):
        return sorted(
            (p, os.path.getmtime(p)) for p in glob.glob(f"{loc}/*.parquet")
        )

    before = [file_state(loc) for loc in locs]
    assert all(before), "bucketed files must exist on disk"
    # simulate a fresh session: empty in-memory catalog, files persist
    for loc in locs:
        spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(loc)}")
    for loc, st in zip(locs, before):
        assert file_state(loc) == st, "DROP of an external table must keep files"
    df2 = SPARK_QUERIES["orders_bucketed_join"](spark, SF_DIR_MED)
    rows2 = sorted(map(tuple, df2.collect()))
    assert rows2 == rows1
    # the re-attach wrote NO data — same files, same mtimes
    for loc, st in zip(locs, before):
        assert file_state(loc) == st, "re-attach must not rewrite the layout"
    # and the declared bucketing still kills the join exchange: no
    # hash exchange on EITHER join key anywhere in the plan (the only
    # permitted exchange is the tiny post-join re-aggregation on
    # o_orderpriority — after collect() the AQE final-plan string
    # interleaves it past the join node, so key-level is the robust
    # assertion)
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "SelectedBucketsCount" in plan


def test_funnel_and_pagerank_no_cartesian(spark):
    for name in ("events_funnel", "doc_pagerank3"):
        plan = plan_of(spark, name)
        # 1-row stat CTEs ride BroadcastNestedLoop (fine); a true
        # CartesianProduct would mean a keyless data-sized join
        assert "CartesianProduct" not in plan, name
    plan = plan_of(spark, "events_funnel")
    # the only window is the lag over the 3-row step table
    assert plan.count("Window") <= 1


def test_profile_scan_and_agg_shape(spark):
    plan = plan_of(spark, "events_profile")
    # the wide aggregate + stack unpivot reads events ONCE for all
    # numeric columns, plus one column-pruned scan for the event_type
    # distinct set; the naive per-column UNION form would scan it five
    # times
    assert plan.count("FileScan parquet") == 2
    # native-typed min/max keeps the fact-table aggregate in
    # HashAggregate; the only string min/max runs over the DEDUPED
    # event_type set (round-6 change: string buffers forced a
    # SortAggregate over the Expand output, 2.4x slower)
    assert plan.count("HashAggregate") >= 4
    assert plan.count("SortAggregate") <= 2


def test_rfm_and_basket_shapes(spark):
    plan = plan_of(spark, "orders_rfm")
    # ntile windows sort the customer table, not the fact table; the
    # 1-row anchor rides a broadcast
    assert "CartesianProduct" not in plan
    plan = plan_of(spark, "lineitem_basket")
    # within-order pair join is an equi join on the orderkey — a
    # keyless corpus self-join would appear as a cartesian. (The one
    # BroadcastNestedLoopJoin is the 1-row n_orders scalar riding a
    # broadcast — benign.)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_winnow_fp_reads_persisted_artifact(spark):
    """After round 5 the fingerprint gate scans the per-dataset
    artifact: the plan is a parquet FileScan + project/sort — the
    interpreted HOF md5 chain no longer appears in the query path."""
    plan = plan_of(spark, "doc_winnow_fp")
    assert "winnow_fps_" in plan  # the artifact path
    assert "transform(" not in plan  # no HOF chain at query time
    assert "Exchange hashpartitioning" not in plan  # only the sort


def test_txlog_read_pushes_filters(spark, tmp_path):
    """Commit-log snapshot reads stay plain parquet scans: filters and
    column pruning reach the files like any table (the manifest layer
    adds no execution-time indirection)."""
    from pyspark.sql import functions as F

    from edgelake_spark.txlog import TxTable

    t = TxTable(str(tmp_path / "t"))
    t.overwrite(
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("pad").alias("w")
        )
    )
    df = t.read(spark).filter(F.col("k") > 500).select("k", "v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters:")[1][:120]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "w" not in read_schema  # pruned


def test_stream_lsh_band_grouping_is_only_shuffle(spark):
    """The streaming LSH plan shuffles once — on band_key, the same key
    as the batch band join; fingerprinting stays map-side (Arrow python
    UDF inside the scan stage)."""
    import os

    from edgelake_spark.streaming.ingest import stream_parquet_source
    from edgelake_spark.streaming.stateful import lsh_dedup_stream

    stream = stream_parquet_source(spark, os.path.join(SF_DIR_MED, "documents.parquet"))
    plan = lsh_dedup_stream(stream)._jdf.queryExecution().logical().toString()
    assert "FlatMapGroupsInPandasWithState" in plan


# ------------------------------------------------- round-6 staged gates


def test_lm_surprisal_count_tables_broadcast(spark):
    plan = plan_of(spark, "doc_lm_surprisal")
    # the c1/c2 LM count tables and the 1-row vocab scalar broadcast to
    # the held-out scoring side; the corpus never builds a hash table
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_mad_outliers_two_rank_windows_topk(spark):
    plan = plan_of(spark, "events_mad_outliers")
    # two per-type rank windows (value ranks, deviation ranks); the
    # top-25 is a TakeOrdered, never a global sort
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2
    assert "TakeOrderedAndProject" in plan


def test_lag_corr_single_fat_aggregation(spark):
    plan = plan_of(spark, "events_lag_corr")
    # ONE scan family of the fat events table: the (event_type, hour)
    # pre-aggregation; the pair/lag work runs on series-sized rows
    assert plan.count("Scan parquet") <= 2  # self-join reuses the agg subtree or rescans once
    assert "CartesianProduct" not in plan


def test_cohort_retention_custkey_shuffle_reuse(spark):
    plan = plan_of(spark, "orders_cohort_retention")
    # firsts/active both key on o_custkey; sizes (years-count rows)
    # broadcasts back
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sq8_recon_joins_persisted_artifact(spark):
    plan = plan_of(spark, "emb_sq8_recon_error")
    # reconstruction reads the persisted code artifact (not a rebuild)
    # and emits ONE row via a final single-partition aggregate
    assert "sq8_codes_" in plan
    assert "CartesianProduct" not in plan


def test_holt_forecast_single_user_shuffle(spark):
    plan = plan_of(spark, "events_holt_forecast")
    # ONE (user_id) hash exchange feeds the collect_list; the fold is
    # a map-side higher-order function, never a per-row join
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_split_leakage_runs_on_pair_artifact(spark):
    plan = plan_of(spark, "doc_split_leakage")
    # the split labels join onto the PERSISTED pair table scan — the
    # corpus text is never re-shuffled for this check
    assert "mh_pairs_" in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_band_blocked_join(spark):
    plan = plan_of(spark, "doc_ngram_jaccard")
    # the ±10-char length tolerance is part of the JOIN KEY (len_band /
    # probe_band), not a post-shuffle filter — without it candidate
    # enumeration is quadratic in (lang, source) block size (14.4× wall
    # at 10× data, round-6 sf1 table)
    assert "probe_band" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ccnet_buckets_rank_table_broadcasts(spark):
    plan = plan_of(spark, "doc_ccnet_buckets")
    # the vocabulary-bounded rank table rides a BroadcastHashJoin into
    # the token scoring join; the corpus side is never the build side
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zipf_octaves_vocab_bounded_window(spark):
    plan = plan_of(spark, "doc_zipf_octaves")
    # the per-source rank window sorts the (source, term) COUNT table
    # (vocabulary-bounded), never the token stream: exactly one window,
    # fed by the post-aggregation exchange
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_gram_novelty_shuffles_on_gram_only(spark):
    plan = plan_of(spark, "doc_gram_novelty")
    # distinct, first-occurrence min, and the marking join all key on
    # the shingle — no documents self-join, no cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_linear_classifier_weight_table_broadcasts(spark):
    plan = plan_of(spark, "doc_linear_classifier")
    # the hashed-feature weight table (domain-capped at 32768 ids) is
    # the BUILD side of the scoring join; the exploded feature stream
    # is never built. Training agg is partial/final on the feature id.
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_contrastive_pairs_query_side_broadcasts(spark):
    plan = plan_of(spark, "emb_contrastive_pairs")
    # same scan-and-score shape as emb_cosine_topk: the 5-query set is
    # broadcast (BuildLeft), one window ranks both pair kinds — with
    # the rank<=5 pushed down as a WindowGroupLimit so partitions
    # retain top-5 per (query, side) before the window exchange — and
    # the corpus is scanned once, no open self-join
    assert "BroadcastNestedLoopJoin BuildLeft" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_alpha_mix_single_source_shuffle(spark):
    plan = plan_of(spark, "doc_alpha_mix")
    # one narrow shuffle keyed on source, ONE corpus scan: the grand
    # total is a window over the aggregated source table, not a CTE
    # Catalyst would inline into a second full token-count scan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_semdedup_intra_cluster_join_keys_on_cid(spark):
    plan = plan_of(spark, "emb_semdedup")
    # the quadratic pair work is confined WITHIN clusters: the pair
    # join carries the cid equi-key (one task per cluster's pairs),
    # and the assignment comes from the persisted IVF artifact scan —
    # no open self-join over the whole embedding table
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.lower().count("ivf_assign") >= 1


def test_bpe_pairs_vocab_bounded_stages(spark):
    plan = plan_of(spark, "doc_bpe_pairs")
    # corpus → vocabulary is a partial/final count (map-side combine
    # before the token shuffle); pair counting explodes DISTINCT words
    # only; the final top-k is a TakeOrdered, not a global sort
    assert plan.count("HashAggregate") >= 4
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hll_registers_partial_final(spark):
    plan = plan_of(spark, "events_hll_distinct")
    # the register build is a partial/final max over (group, idx) —
    # map-side combine bounds shuffled state at m rows per group — and
    # the sketch/exact sides join at group granularity (5 rows): no
    # full-key shuffle survives into the estimate
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_sketch_cell_bounded(spark):
    plan = plan_of(spark, "doc_heavy_hitters")
    # corpus → vocabulary is partial/final (map-side combine before the
    # token shuffle); the probe joins the ≤ depth×width cell table on
    # (j, col) equi-keys; top-k is a TakeOrdered, not a global sort
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan


def test_kmv_pair_logic_on_sketches_only(spark):
    plan = plan_of(spark, "doc_kmv_jaccard")
    # per-source bottom-k pruning happens BEFORE pair logic: the window
    # that ranks hashes feeds a rn <= k filter, so the all-pairs join
    # touches n_sources × k rows, never the corpus; no cartesian
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2
    # the source-pair driver is tiny (n_sources²) — broadcast, and the
    # OR-membership join is the bounded sketch side, not corpus-sized
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dup_spans_single_hash_shuffle_plus_window(spark):
    plan = plan_of(spark, "doc_dup_spans")
    # same cost class as doc_dup_chunk_frac: chunk-hash shuffle for the
    # frequency table, join back on the SAME key, ONE per-doc window
    # for the islands merge — no pair generation anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1


def test_dsir_log_ratio_table_broadcasts(spark):
    plan = plan_of(spark, "doc_dsir_weights")
    # same discipline as the linear classifier: the per-feature
    # log-ratio table (domain-capped at 8192 ids) broadcasts onto the
    # feature stream; training agg is partial/final on the feature id
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_hll_rollup_two_level_partial_final(spark):
    plan = plan_of(spark, "events_hll_rollup")
    # daily registers, merged registers, and direct registers are all
    # partial/final max aggregations; the final joins run at group
    # granularity (5 rows) — nothing quadratic, no nested loops
    assert plan.count("HashAggregate") >= 6
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pca_gram_one_aggregate_no_join(spark):
    from edgelake_spark.functions.similarity import pca_gram_sql

    SPARK_QUERIES["emb_pca_power"](spark, SF_DIR_MED)  # registers embeddings_rep
    plan = spark.sql(pca_gram_sql("embeddings_rep"))._jdf.queryExecution().executedPlan().toString()
    # the one data-sized step: two posexplodes into a partial/final
    # aggregate of dim·(dim+3)/2 cells — no self-join on vec_id, nothing
    # quadratic in the corpus
    assert plan.count("Generate") == 2
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pca_fit_is_local_and_runs_three_jobs(spark):
    run = SPARK_QUERIES["emb_pca_power"]
    df = run(spark, SF_DIR_MED)
    # the power iteration ran on the driver: the fit is a 64-row local
    # relation, and reading it starts no job
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan")
    rows, jobs = spark_jobs(spark, df.collect)
    assert len(rows) == 64 and jobs == 0
    # a warm call: the repartitioned scan and the Gram aggregate
    _, jobs = spark_jobs(spark, lambda: run(spark, SF_DIR_MED).collect())
    assert jobs <= 3


def test_lsh_runners_query_the_persisted_minhash_index(spark):
    """Warm LSH calls read the persisted MinHash-LSH index: the plans of
    the pair sweep and the band claims scan the index, read no
    checkpointed RDD and compute no md5 (no shingle or band hashing),
    and warm job counts at sf0.001 stay pinned."""
    for name in ("doc_minhash_pairs", "doc_lsh_claims"):
        SPARK_QUERIES[name](spark, SF_DIR).collect()  # builds the index when cold
        plan = SPARK_QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "minhash_bands_" in plan, name
        assert "ExistingRDD" not in plan and "md5(" not in plan, name
    for name, most in (("doc_minhash_pairs", 6), ("doc_dedup_clusters", 4)):
        SPARK_QUERIES[name](spark, SF_DIR).collect()
        _, jobs = spark_jobs(spark, lambda: SPARK_QUERIES[name](spark, SF_DIR).collect())
        assert jobs <= most, (name, jobs)


def test_triangles_equi_joins_only(spark):
    plan = plan_of(spark, "doc_dedup_triangles")
    # oriented (id1 < id2) enumeration: both closing joins are
    # equi-joins on edge endpoints — no nested loop over the pair set
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_single_aggregate_map_side_key(spark):
    plan = plan_of(spark, "events_zorder_cells")
    # the Morton key is a map-side integer expression; one cell-keyed
    # partial/final aggregate, no joins at all
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan


def test_kmv_distinct_one_group_hash_shuffle(spark):
    plan = plan_of(spark, "events_kmv_distinct")
    # distinct-hash ranking and the exact side both key on the group;
    # the kth-hash table is 1 row per group → broadcastable join
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


def test_mix_epochs_single_scan_window(spark):
    plan = plan_of(spark, "doc_mix_epochs")
    # one corpus scan; totals come from unpartitioned windows over the
    # tiny aggregated source table, not re-inlined scans
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_epoch_expand_schedule_broadcasts(spark):
    plan = plan_of(spark, "doc_epoch_expand")
    # the ~|sources|-row schedule is the build side onto the corpus scan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pca_project_model_broadcasts(spark):
    plan = plan_of(spark, "emb_pca_project")
    # the 64-row model joins the exploded corpus on dim — broadcast,
    # never a shuffle of the long-form table against 64 rows
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_vocab_churn_post_rank_is_tiny(spark):
    plan = plan_of(spark, "doc_kmv_vocab_churn")
    # one rank window over the distinct-hash table; the estimator math
    # joins 1-row aggregates (scalar BNLJ cross of two 1-row sides ok)
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


def test_weighted_sample_single_window_map_side_keys(spark):
    plan = plan_of(spark, "doc_weighted_sample")
    # ES keys (md5 + ln) are map-side projections; selection is ONE
    # per-stratum rank window — no joins anywhere, and the only
    # exchange is the stratum hash partitioning feeding the window.
    # Spark 4 additionally plants WindowGroupLimit partial/final around
    # it: the rn <= 10 cap prunes per-partition BEFORE the exchange —
    # the exact top-k pre-reduce the 100 TB story wants, for free
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1
    assert plan.count("WindowGroupLimit") == 2
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_mmr_pool_broadcast_queries_one_window(spark):
    # the only corpus-sized stage of emb_mmr_diversify is pool
    # construction: the <=3 query vectors broadcast onto the candidate
    # scan (non-equi join -> BNLJ with the tiny side as build), then
    # ONE per-query rank window caps the pool at 20
    from edgelake_spark.catalog import register_sf_tables
    from edgelake_spark.functions import similarity as sim
    from edgelake_spark.queries import _MMR_POOL_BODY, _emb_norm_view, _rep_view

    register_sf_tables(spark, SF_DIR_MED)
    _rep_view(spark, "embeddings")
    n = _emb_norm_view(spark)
    df = spark.sql(
        _MMR_POOL_BODY.format(
            hint="/*+ BROADCAST(q) */ ",
            cos=sim.spark_cosine_staged("q", "c"),
            n=n,
        )
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # one rank window (+ Spark 4's WindowGroupLimit partial/final pair
    # pruning to rn <= 20 per partition before the exchange)
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1


def test_mmr_greedy_rounds_are_state_bounded(spark):
    # the returned plan is the explode of the final one-row-per-query
    # state over a materialization barrier: no joins, no corpus scan —
    # all greedy rounds ran against the 20-row-per-query pool barrier
    plan = plan_of(spark, "emb_mmr_diversify")
    assert "Join" not in plan
    assert "parquet" not in plan.lower()


def test_mmr_composes_with_ivf_pool(spark):
    """The production composition: candidates from the IVF probe
    buckets (persisted inverted lists), reranked by the SAME greedy
    MMR loop the gate runs on the brute pool. Pins that mmr_select is
    pool-source-agnostic: full ranks per query, selections drawn from
    the pool, mmr monotone non-increasing."""
    from edgelake_spark.functions import similarity as sim
    from edgelake_spark.functions.similarity import ivf_index_views as _ivf_index_views
    from edgelake_spark.queries import _emb_norm_view_for

    n = _emb_norm_view_for(spark, SF_DIR_MED)
    _ivf_index_views(spark, SF_DIR_MED, n)
    cos = sim.spark_cosine_staged("q", "e")
    pool = spark.sql(f"""
    WITH probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {sim.spark_cosine_staged('q', 'c')} DESC, c.cid) AS rn
        FROM {n} q JOIN __ivf_centroids c ON true WHERE q.vec_id < 3
      ) WHERE rn <= {sim.NPROBE}
    )
    SELECT query_id, vec_id, rel, demb, norm FROM (
      SELECT p.query_id, e.vec_id, {cos} AS rel, e.demb, e.norm,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY {cos} DESC, e.vec_id) AS rn
      FROM probes p
      JOIN __ivf_assign a ON a.cid = p.cid
      JOIN {n} e ON e.vec_id = a.vec_id AND e.vec_id != p.query_id
      JOIN {n} q ON q.vec_id = p.query_id
    ) z WHERE rn <= 20
    """)
    out = sim.mmr_select(spark, pool).collect()
    per = {}
    for r in out:
        per.setdefault(r.query_id, []).append(r)
    assert set(per) == {0, 1, 2}
    pool_ids = {
        (r.query_id, r.vec_id) for r in spark.table("__mmr_pool").collect()
    }
    for qid, rows in per.items():
        rows.sort(key=lambda r: r.sel_rank)
        assert [r.sel_rank for r in rows] == list(range(1, sim.MMR_K + 1))
        assert len({r.vec_id for r in rows}) == sim.MMR_K
        assert all((qid, r.vec_id) in pool_ids for r in rows)
        mmrs = [r.mmr_score for r in rows]
        assert all(a >= b for a, b in zip(mmrs, mmrs[1:]))
