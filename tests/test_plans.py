"""Plan-hygiene assertions: the optimizations we rely on at 100 TB
must be visible in the physical plan (SURVEY.md §4: verify via
explain in tests)."""

from __future__ import annotations

import pytest

from local_stream_stack_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (
        QUERIES[name]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q6_filter_pushdown(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q6_column_pruning(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    # ReadSchema must not include columns the query never touches
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema and "l_partkey" not in read_schema


def test_broadcast_join_used_for_dims(spark):
    plan = _plan(spark, "join_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_full_sort(spark):
    plan = _plan(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_strategies(spark):
    plan = _plan(spark, "join_semi")
    assert "LeftSemi" in plan
    plan = _plan(spark, "join_anti")
    assert "LeftAnti" in plan


def test_q1_partial_aggregation(spark):
    """Partial (map-side) aggregation before the shuffle: two
    HashAggregate levels around one Exchange."""
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_whole_stage_codegen_active(spark):
    # AQE prints codegen stages only in the final (post-execution) plan
    df = QUERIES["q1_pricing_summary"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert "*(" in plan


def test_no_cartesian_in_range_join(spark):
    plan = _plan(spark, "range_join_views_before_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_quantile_broadcasts_and_avoids_object_agg(spark):
    """The distributed exact quantile must (a) broadcast the tiny
    per-key extent/bin tables, (b) never plan the value-buffering
    ObjectHashAggregate that exact percentile() uses, and (c) keep
    codegen hash aggregates for the counting passes."""
    plan = _plan(spark, "exact_quantile_distributed")
    assert "BroadcastHashJoin" in plan
    assert "ObjectHashAggregate" not in plan
    assert "HashAggregate" in plan


def test_approx_percentile_is_partial_final(spark):
    """Sketch percentile merges partial state map-side — two
    ObjectHashAggregate levels around the exchange, never a sort."""
    plan = _plan(spark, "approx_percentile_qty")
    assert plan.count("ObjectHashAggregate") >= 2


def test_pipeline_yaml_prunes_to_selected_columns(spark):
    """Catalyst optimizes ACROSS processor boundaries: the final
    select's pruning reaches the parquet scan even though the filter
    and projection were configured as separate YAML processors."""
    plan = _plan(spark, "pipeline_yaml_batch")
    read_schema = plan.split("ReadSchema")[1][:500]
    assert "text" in read_schema and "n_chars" in read_schema
    # `source` exists in documents but no processor touches it
    assert "source" not in read_schema
    assert "PushedFilters: [" in plan


def test_q2_prefix_partitioning_merges_agg_and_window_shuffle(spark):
    """repartition(part) before the (part, supp) aggregate satisfies
    both the aggregate's and the per-part window's distribution: the
    plan must not contain a second non-broadcast exchange between the
    aggregate and the window."""
    plan = _plan(spark, "q2_top_supplier_per_part")
    # exactly one shuffle exchange feeds the agg+window subtree; the
    # rest are broadcasts (dims) and the final orderBy's range exchange
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles == 1, plan[:2000]


def test_grouping_sets_expand_runs_over_aggregate(spark):
    """Two-level grouping sets: the Expand operator's subtree must
    contain a HashAggregate before the parquet scan (Expand multiplies
    9 aggregate rows), not sit directly on the fact scan."""
    plan = _plan(spark, "grouping_sets_revenue")
    assert "Expand" in plan
    below_expand = plan.split("Expand", 1)[1]
    agg_pos = below_expand.find("HashAggregate")
    scan_pos = below_expand.find("Scan parquet")
    assert agg_pos != -1 and scan_pos != -1
    assert agg_pos < scan_pos, below_expand[:1500]


def test_inverted_index_bounds_postings_before_aggregation(spark):
    """The collect_list input must be pre-limited by the row_number
    window filter (<=10 rows per token) — an unbounded per-token
    buffer is the stopword hot-key OOM at scale. The window and the
    aggregate must also share ONE exchange on tok."""
    plan = _plan(spark, "inverted_index")
    import re

    assert re.search(r"__rn#\d+L? <= 10", plan), plan[:2000]
    # Spark's rank-limit pushdown truncates each token's run to 10
    # rows BEFORE the row_number window materializes — the strongest
    # form of the bound
    assert "WindowGroupLimit" in plan
    # one shuffle only: the window's hashpartitioning(tok) feeds the
    # aggregate directly
    assert plan.count("Exchange hashpartitioning(tok") == 1


def test_shuffle_hash_hint_selects_shj(spark):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin — no
    per-partition sorts (SMJ) and no broadcast of the dimension."""
    plan = _plan(spark, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_bucketed_join_has_no_join_exchange(spark):
    """Both sides of the bucketed join are pre-partitioned by the
    join key at WRITE time, so the join must consume the bucket
    layout with NO exchange on the join keys — the pay-the-shuffle-
    once-at-ingest pattern. (The aggregate after the join still
    shuffles on its own grouping key.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # at test scale the dimension fits the broadcast threshold and
    # Spark (correctly) prefers BHJ; disable it so the plan shows the
    # big-big shape the bucketing exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "bucketed_join_revenue")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # the only hash exchange left is the aggregate's
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:3000]


def test_dpp_prunes_fact_partitions(spark):
    """The lang-partitioned fact scan must carry a dynamic-pruning
    expression fed by the dimension side — runtime partition pruning,
    not a full scan filtered after the fact."""
    plan = _plan(spark, "dpp_partitioned_lang_join")
    assert "dynamicpruning" in plan.lower(), plan[:2500]


def test_dedup_containment_pair_join_is_df_bounded(spark):
    """The shingle self-join consumes the HOT-GRAM-PRUNED inverted
    index: a broadcast LeftAnti against the over-cap gram list sits
    between the explode and the pair join, so a boilerplate shingle
    shared by k docs can never contribute k^2 pair rows."""
    plan = _plan(spark, "dedup_containment")
    # the prune is a broadcast anti join (hot list is tiny by
    # construction - only grams ABOVE the cap are materialized)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the pair stage is an equi join on the gram key, never a loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_sketch_bounds_hashes_before_shuffle(spark):
    """The KMV per-group cut must run as WindowGroupLimit (per-
    partition heaps truncate each group to k rows BEFORE the rank
    window materializes) — O(k) state per group at any scale."""
    plan = _plan(spark, "kmv_distinct_rollup")
    assert "WindowGroupLimit" in plan


def test_sql_udf_inlines_into_codegen(spark):
    """A SQL-defined scalar UDF must inline into the calling plan —
    no Python worker, no eval boundary; the aggregate stays a
    codegen HashAggregate over the scan."""
    plan = _plan(spark, "sql_udf_netprice")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_pq_encode_is_zero_shuffle(spark):
    """Round-6 fusion contract: PQ encode (assign_grouped_literal
    against a driver-side codebook) is a pure scan-side expression —
    no Exchange, no join of any kind in its physical plan."""
    from local_stream_stack_spark.operators.clustering import (
        assign_grouped_literal,
        quantize_vectors_normalized,
        split_subspaces,
    )
    from local_stream_stack_spark.catalog import load_table

    e = load_table(spark, SF, "embeddings")
    sub = split_subspaces(
        quantize_vectors_normalized(e, "vec_id", "embedding"), m_sub=4, dim=64
    )
    books = {
        g: [(c, [1000000 + c] * 16) for c in range(4)] for g in range(4)
    }
    plan = (
        assign_grouped_literal(sub, books)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_bpe_pair_counts_partial_aggregation(spark):
    """BPE pair counting must partially aggregate before its one
    shuffle (two HashAggregate levels, exactly one Exchange) — the
    per-merge-step cost bound the 100 TB story relies on."""
    from local_stream_stack_spark.operators.bpe import (
        _pair_counts,
        _sym_base_expr,
        word_counts,
    )
    from local_stream_stack_spark.catalog import load_table

    d = load_table(spark, SF, "documents")
    words = word_counts(d, "text", vocab_cap=100)
    plan = (
        _pair_counts(words, _sym_base_expr("word"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") >= 2


def test_quality_filter_is_shuffle_free(spark):
    """The Gopher filter is a narrow per-row map: the only exchange
    allowed is the final presentation sort's range partitioning."""
    plan = _plan(spark, "quality_filter_gopher")
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # rangepartitioning for ORDER BY
    assert "HashAggregate" not in plan
    assert "Window" not in plan  # repetition max folds scan-side


def test_regression_broadcasts_dims_and_partial_aggs(spark):
    plan = _plan(spark, "regression_by_nation")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final moments


def test_substring_spans_no_cartesian(spark):
    plan = _plan(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_paths_windows_share_one_exchange(spark):
    """The trigram window partitions by (user_id, session_id) - a
    refinement of the sessionizer's user_id hash - so both windows
    must ride ONE user_id exchange."""
    plan = _plan(spark, "session_paths_top")
    assert plan.count("hashpartitioning(user_id") == 1
    assert "TakeOrderedAndProject" in plan


def test_corr_matrix_single_partial_agg_and_pruned_scan(spark):
    """All 15 moments ride ONE partial+final aggregate (no second
    scan per pair), and the scan reads only the four measures."""
    plan = _plan(spark, "corr_matrix_lineitem")
    assert plan.count("HashAggregate") == 2
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_quantity" in read_schema
    assert "l_orderkey" not in read_schema and "l_suppkey" not in read_schema


def test_token_sort_dedup_partial_aggregation(spark):
    """The vocabulary-fingerprint groupBy combines map-side: shuffle
    volume is one row per distinct fingerprint per task, not per
    document."""
    plan = _plan(spark, "dedup_token_sort")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_active_streaks_windows_are_user_partitioned(spark):
    """Gaps-and-islands must never use a global window: every Window
    node carries the user_id partition spec."""
    plan = _plan(spark, "active_streaks")
    # every windowspecdefinition in the plan partitions by user_id
    assert "Window" in plan
    specs = plan.split("windowspecdefinition")[1:]
    assert specs, "expected a window in the streaks plan"
    for seg in specs:
        assert "user_id" in seg[:120]


def test_gini_windows_run_on_reduced_relation(spark):
    """The global-order Lorenz windows consume the per-customer
    AGGREGATE (post-groupBy), never the raw orders scan: an
    aggregate must appear below every window in the plan tree."""
    plan = _plan(spark, "revenue_gini_lorenz")
    first_window = plan.find("Window")
    assert first_window != -1
    assert "HashAggregate" in plan[first_window:], (
        "window must sit above the per-customer aggregate"
    )
    assert "CartesianProduct" not in plan


def test_minhash_calibration_no_cartesian_and_bounded_join(spark):
    """The exact-Jaccard stage joins shingles only through the LSH
    candidate equi-join — no Cartesian/broadcast-nested-loop pair
    enumeration anywhere."""
    plan = _plan(spark, "minhash_calibration")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zipf_rank_window_sits_above_vocab_aggregate(spark):
    """The rank window consumes the token-frequency AGGREGATE (vocab
    relation), never the raw exploded token stream."""
    plan = _plan(spark, "zipf_token_fit")
    first_window = plan.find("Window")
    assert first_window != -1
    assert "HashAggregate" in plan[first_window:]


def test_join_explosion_audit_topk_and_partial_agg(spark):
    """Hot-key selection is a distributed top-k, and the per-key
    count combines map-side."""
    plan = _plan(spark, "join_explosion_audit")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


# --- sort-sampling double-execution guard (VERDICT r13 #4) ----------
# The round-13 family: an expensive narrow segment directly under an
# Exchange rangepartitioning is re-executed by the range partitioner's
# bound-sampling job. tools/audit_plans.py flags the pattern; these
# tests pin the detector itself (a deliberately-unpinned fixture IS
# flagged, its pinned twin is NOT) and spot-check representative
# queries from the pinned family. The full-catalog sweep runs via
# `python tools/audit_plans.py` (soak tier / round closeout).

def _hazards(df) -> list:
    from tools.audit_plans import range_exchange_hazards

    return range_exchange_hazards(
        df._jdf.queryExecution().executedPlan().toString()
    )


def _guard_fixture(spark, sf_dir):
    # must scan a BASE TABLE: the detector only flags segments that
    # re-execute corpus-scale work (a spark.range leaf is both cheap
    # and already range-partitioned on id, so it would be vacuous)
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("t"),
    ).withColumn("n", F.regexp_count("t", F.lit("[a-z]+")))


def test_sort_sampling_guard_flags_unpinned_fixture(spark, sf_dir):
    flagged = _hazards(_guard_fixture(spark, sf_dir).orderBy("t", "n"))
    assert flagged, "unpinned scan->Generate+regex under orderBy must flag"
    assert "Generate" in flagged[0]


def test_sort_sampling_guard_accepts_pinned_fixture(spark, sf_dir):
    pinned = _guard_fixture(spark, sf_dir).localCheckpoint(eager=True).orderBy(
        "t", "n"
    )
    assert _hazards(pinned) == []


def test_sort_sampling_guard_accepts_exchange_below_sort(spark):
    """A shuffle below the sort is a materialization barrier (map
    outputs are reused by the sampling job) — not a hazard."""
    from pyspark.sql import functions as F

    base = spark.range(200).select(
        (F.col("id") % 7).alias("k"),
        F.explode(F.array(F.lit("a"), F.lit("b"))).alias("t"),
    )
    agg = base.groupBy("k").count().orderBy("k")
    assert _hazards(agg) == []


def test_sort_sampling_guard_pinned_family_clean(spark):
    """Representative members of the round-13 pin family stay pinned."""
    for name in ("text_stats", "lang_id", "fuzzy_name_match",
                 "multimodal_features"):
        plan = _plan(spark, name)
        from tools.audit_plans import range_exchange_hazards

        # non-vacuous: the presentation sort must actually plan a
        # range exchange in these queries
        assert "Exchange rangepartitioning" in plan, name
        assert range_exchange_hazards(plan) == [], name


# The real-codec queries built on llm.decoded_stats_query. The id
# column fans out to the session parallelism before the decode in all
# but three of them (the testdata documents table is one input split).
CODEC_FAN_OUT = [
    "multimodal_jpeg_decode",
    "multimodal_gif_decode",
    "multimodal_bmp_decode",
    "multimodal_qoi_decode",
    "multimodal_tga_decode",
    "multimodal_pcx_decode",
    "multimodal_ico_decode",
    "multimodal_midi_decode",
    "multimodal_au_g711_decode",
    "multimodal_pnm_decode",
    "multimodal_tiff_decode",
    "multimodal_mp3_meta",
    "multimodal_flac_meta",
]
CODEC_SINGLE_SPLIT = [
    "multimodal_png_decode",
    "multimodal_wav_decode",
    "multimodal_video_frames",
]


@pytest.mark.parametrize("name", CODEC_FAN_OUT + CODEC_SINGLE_SPLIT)
def test_codec_query_fan_out_sits_below_the_pin(spark, monkeypatch, name):
    """The fan-out is invisible in the final plan (the pin turns the
    decode into ``Scan ExistingRDD``), so the DataFrame handed to the
    pin is captured instead, without running it: it must hold the
    mapInPandas decode, over a round-robin exchange exactly for the
    fan-out queries."""
    pinned = []

    def record(self, *args, **kwargs):
        pinned.append(self)
        return self

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", record)
    QUERIES[name].fn(spark, SF)
    assert len(pinned) == 1
    plan = pinned[0]._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert ("RoundRobinPartitioning" in plan) == (name in CODEC_FAN_OUT)
