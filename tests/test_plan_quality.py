"""Physical-plan shape assertions — the 100 TB discipline, enforced.

These tests pin the properties that matter at scale and would silently
regress otherwise: filters pushed into the parquet scan, projections
pruned to the read columns, fixed-size dims broadcast, top-k executed as
TakeOrdered (no global sort), the CDC hot path free of Python evaluation,
and routing free of shuffles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from psql_streamer_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark, queries):
    plan = _physical(queries["q1_pricing_summary"](spark, SF_DIR))
    # the shipdate predicate must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must read only the 7 needed columns, not all 11
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dims_and_semi_reduces(spark, queries):
    plan = _physical(queries["q5_local_supplier_volume"](spark, SF_DIR))
    # nation/region reduction joins are broadcast, never shuffled
    assert "BroadcastHashJoin" in plan
    # the region filter reaches the region scan (pushed into parquet)
    assert "EqualTo(r_name,ASIA)" in plan


def test_broadcast_enrich_has_no_shuffle_join(spark, queries):
    plan = _physical(queries["join_broadcast_enrich"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark, queries):
    plan = _physical(queries["topk_customers_by_revenue"](spark, SF_DIR))
    # LIMIT k over ORDER BY must compile to TakeOrderedAndProject: each
    # partition keeps k rows, the driver merges — no full sort shuffle
    assert "TakeOrderedAndProject" in plan


def test_cdc_hot_path_is_jvm_only(spark, queries):
    # decode -> envelope -> route -> key -> serialize must stay inside
    # codegen: any BatchEvalPython/ArrowEvalPython here would put Python
    # in the per-event path the reference runs in native code
    for name in ("cdc_envelope_dml_events", "cdc_route_with_fallback",
                 "cdc_serialize_passthrough", "cdc_default_message_keys"):
        plan = _physical(queries[name](spark, SF_DIR))
        assert "EvalPython" not in plan, name
        # "*(n)" marks WholeStageCodegen in plan.toString(); AQE plans
        # print pre-codegen, so accept either
        assert "*(1)" in plan or "AdaptiveSparkPlan" in plan, name


def test_routing_is_shuffle_free(spark):
    from psql_streamer_spark.routing import route
    from psql_streamer_spark.operators.cdc import _as_cdc_events

    routed = route(
        _as_cdc_events(spark, SF_DIR), {"tbl_signup": "t1"}, fallback="fb"
    )
    plan = _physical(routed)
    assert "Exchange" not in plan  # pure projection: no shuffle anywhere


def test_semi_and_anti_joins_stay_semi(spark, queries):
    # left-semi/anti must not degrade into inner-join + distinct
    plan_semi = _physical(queries["join_semi_customers_with_orders"](spark, SF_DIR))
    plan_anti = _physical(queries["join_anti_customers_without_orders"](spark, SF_DIR))
    assert "LeftSemi" in plan_semi
    assert "LeftAnti" in plan_anti


def test_exact_dedup_is_partial_aggregated(spark, queries):
    # dropDuplicates compiles to hash aggregate with a partial (map-side)
    # phase — the dedup shuffles only one row per key, not the raw data
    plan = _physical(queries["dedup_exact_text"](spark, SF_DIR))
    assert "HashAggregate" in plan


def test_embedding_lsh_pairs_has_no_cartesian(spark, queries):
    # the bucketed pair miner must join on (tbl, bucket) equi-keys — the
    # quadratic theta-join shape it replaces would show up as a nested loop
    plan = _physical(queries["dedup_embedding_lsh_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mm_image_features_no_shuffle_when_well_split(spark):
    # once the scan yields >= defaultParallelism partitions the decode path
    # must stay a narrow map: repartition would shuffle every payload byte
    from psql_streamer_spark.operators.multimodal import (
        _FEATURES_SCHEMA,
        _extract_features,
        _media_frame,
    )

    media = _media_frame(spark, SF_DIR).select("doc_id", "payload")
    well_split = media.repartition(spark.sparkContext.defaultParallelism * 2)
    # build the operator body on an already-split input (what a 100 TB scan
    # provides): mapInPandas directly, no Exchange on top
    plan = _physical(well_split.mapInPandas(_extract_features, schema=_FEATURES_SCHEMA))
    assert plan.count("Exchange") == 1  # only the test's own repartition


def test_pivot_with_explicit_values_skips_discovery_job(spark, queries):
    # pivot with a value list compiles straight to one aggregate; without
    # it Spark runs a separate distinct collect first (invisible here but
    # the plan would carry its result as a local relation) — assert the
    # dims broadcast and the agg is partial+final
    plan = _physical(queries["pivot_nation_priority_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unpivot_is_shuffle_free(spark, queries):
    plan = _physical(queries["unpivot_part_metrics"](spark, SF_DIR))
    assert "Exchange" not in plan  # expand + project only


def test_split_and_sample_are_shuffle_free_scans(spark):
    # split/sample membership is a pure row-local function of the key —
    # anything with an Exchange before the final agg would be wrong
    from psql_streamer_spark.operators.mlprep import md5_bucket
    from psql_streamer_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, "documents", SF_DIR)
    tagged = d.select("doc_id", (md5_bucket(F.col("doc_id"), 100) < 80).alias("is_train"))
    assert "Exchange" not in _physical(tagged)


def test_join_strategy_hints_are_honored(spark):
    """The engine exposes Spark's full join-strategy control surface:
    hints override the optimizer's choice when the operator author knows
    better (e.g. shuffle_hash beats sort-merge when one side fits a hash
    table per partition but not a broadcast)."""
    from psql_streamer_spark.sources.tables import load_table

    l = load_table(spark, "lineitem", SF_DIR).select("l_orderkey", "l_quantity")
    o = load_table(spark, "orders", SF_DIR).select("o_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shj = _physical(
            l.join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"])
        )
        smj = _physical(
            l.join(o.hint("merge"), l["l_orderkey"] == o["o_orderkey"])
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "ShuffledHashJoin" in shj
    assert "SortMergeJoin" in smj


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory):
    """Bucketing discipline at 100 TB: pre-bucketed fact tables co-locate
    on the join key, so the repeated daily join runs with ZERO Exchange —
    the shuffle was paid once at write time. (local demo of the cluster
    layout; saveAsTable + bucketBy is the same API on a real warehouse)"""
    import uuid as _uuid

    from psql_streamer_spark.sources.tables import load_table

    db = f"bkt_{_uuid.uuid4().hex[:8]}"
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark.sql(f"CREATE DATABASE {db} LOCATION '{warehouse}'")
    try:
        load_table(spark, "orders", SF_DIR).select(
            "o_orderkey", "o_orderpriority"
        ).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
            f"{db}.orders_b"
        )
        load_table(spark, "lineitem", SF_DIR).select(
            "l_orderkey", "l_quantity"
        ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
            f"{db}.lineitem_b"
        )
        joined = spark.table(f"{db}.lineitem_b").join(
            spark.table(f"{db}.orders_b"),
            spark.table(f"{db}.lineitem_b")["l_orderkey"]
            == spark.table(f"{db}.orders_b")["o_orderkey"],
        )
        # disable auto-broadcast: at real scale neither side broadcasts —
        # the point is the SMJ runs WITHOUT exchanges on bucketed tables
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _physical(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        # sanity: result matches the plain join
        n_plain = (
            load_table(spark, "lineitem", SF_DIR)
            .join(
                load_table(spark, "orders", SF_DIR),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == n_plain
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_q7_broadcasts_dims_no_cartesian(spark, queries):
    # disjunctive nation-pair predicate must not degrade the join graph:
    # dims broadcast, the single big-big join is SMJ, nothing cartesian
    plan = _physical(queries["q7_volume_shipping"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_topk_is_take_ordered_with_pushed_filters(spark, queries):
    plan = _physical(queries["q10_returned_items"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # both selective predicates reach their scans
    assert "EqualTo(l_returnflag,R)" in plan
    assert "o_orderdate" in next(
        l for l in plan.splitlines() if "PushedFilters" in l and "o_orderdate" in l
    )


def test_pgoutput_decode_is_narrow_single_python_pass(spark):
    """The binary decode must be ONE Arrow-batched Python pass and no
    shuffle: parse (mapInPandas) -> literal relation-resolution CASE ->
    zip_with/map projection are all narrow. An Exchange here would mean
    the decode shuffles 100 TB of frames for what is a per-row transform;
    a second Python eval would mean tuple projection fell out of the JVM."""
    from psql_streamer_spark.sources.pgoutput_cdc import decode_pgoutput
    from psql_streamer_spark.sources.pgoutput_wire import (
        OID_INT4,
        Column,
        Relation,
        encode_relation,
    )
    from tests.pgoutput_encoders import encode_insert, text_col

    rows = [
        (1, 0, encode_relation(Relation(5, "public", "t", 0x64,
                                        [Column("a", OID_INT4, True)]))),
        (2, 10, encode_insert(5, [text_col(1)])),
    ]
    df = spark.createDataFrame(rows, "seq long, wal_position long, value binary")
    plan = _physical(decode_pgoutput(df, uuid=F.lit("u")))
    assert "Exchange" not in plan
    # exactly one Python stage (the frame parser, a MapInArrow pass since
    # the r7 pandas-glue fix); projection is JVM-side
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_q6_filters_all_reach_the_scan(spark, queries):
    # q6 is the pushdown showcase: every predicate is scan-eligible, so
    # the whole WHERE clause must appear in PushedFilters — at 100 TB this
    # is the difference between reading one year and reading everything
    plan = _physical(queries["q6_forecast_revenue"](spark, SF_DIR))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    # toString truncates the filter list; all three predicate columns
    # appearing in PushedFilters proves each predicate reached the scan
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    # ...and the scan reads only the 4 needed columns of 11
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_q19_disjunction_keeps_equi_join(spark, queries):
    # the OR-of-ANDs predicate must ride on the partkey equi join, not
    # degrade it into a nested-loop/cartesian shape
    plan = _physical(queries["q19_disjunctive_revenue"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scalar_subqueries_broadcast_not_collect(spark, queries):
    # q11/q15/q22 compare against a global 1-row aggregate: the plan must
    # broadcast that single row (BNLJ with a 1-row build side is the right
    # physical form); a CartesianProduct would mean the cross join lost
    # its broadcast
    for name in ("q11_important_stock", "q15_top_supplier",
                 "q22_global_sales_opportunity"):
        plan = _physical(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_decontamination_broadcasts_benchmark_grams(spark, queries):
    # the eval-set gram list is small at any corpus scale -> must be the
    # broadcast build side; the corpus grams must never shuffle against it
    plan = _physical(queries["decontaminate_ngram_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_materialized_band_index_join_never_reshuffles_corpus(spark):
    # the bucketed band-index table is the "written at ingest" artifact:
    # delta-vs-corpus candidate mining must join bucket-local — the ONLY
    # exchange allowed in the candidate frame is the post-join distinct
    # (|candidates|-sized); the corpus index itself must never re-shuffle
    from psql_streamer_spark.operators.dedup import (
        materialized_band_candidates,
    )

    # at sf0.001 AQE rightly broadcasts the tiny corpus; disable broadcast
    # to surface the shape a 100 TB corpus index would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = materialized_band_candidates(spark, SF_DIR)
        plan = _physical(cand)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(shuffles) == 1, plan
    # and that one shuffle is the distinct on the pair columns, not the
    # band join
    assert "doc_a" in shuffles[0] and "band" not in shuffles[0], shuffles
    # both join sides read the bucketed files (bucket scan, not a plain
    # parquet scan of documents)
    assert plan.count("Bucketed: true") == 2, plan


def test_scd2_history_single_pk_shuffle(spark, queries):
    # SCD2 materialization must cost exactly the snapshot merge's one
    # (table, pk) exchange — history for free is its selling point
    plan = _physical(queries["cdc_scd2_history"](spark, SF_DIR))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, plan
    assert "table" in exchanges[0] and "k#" in exchanges[0], exchanges


def test_point_in_time_pushes_wal_horizon_to_scan(spark, queries):
    # the as-of filter must reach the events scan so the probe reads only
    # history up to the horizon
    plan = _physical(queries["cdc_point_in_time_state"](spark, SF_DIR))
    assert "LessThanOrEqual(event_id" in plan, plan


def test_retention_cohorts_shares_user_partitioning(spark, queries):
    # firstseen and activity both shuffle on user_id; the join must not
    # introduce a third user-keyed exchange beyond those two, and no
    # nested-loop fallback
    plan = _physical(queries["evt_retention_cohorts"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    user_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "user_id" in l
    ]
    assert len(user_exchanges) <= 2, plan


def test_mixture_weights_single_corpus_pass(spark, queries):
    # the corpus is read ONCE (one documents scan) — the normalization
    # window runs over the |sources|-row aggregate, not the raw docs
    plan = _physical(queries["mlprep_source_mixture_weights"](spark, SF_DIR))
    scans = [l for l in plan.splitlines() if "documents.parquet" in l]
    assert len(scans) == 1, plan


def test_time_window_correlation_is_equi_join_not_theta(spark, queries):
    # the binned interval join exists to avoid the theta-join trap: the
    # plan must contain hash joins on (user_id, bin) and NO nested-loop /
    # cartesian fallback
    plan = _physical(queries["join_time_window_correlation"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan
    # the error-type filter reaches the scan
    assert "EqualTo(event_type,error)" in plan


def test_funnel_stage_joins_broadcast(spark, queries):
    # later funnel stages shrink monotonically and broadcast the previous
    # stage's (funnel-shrunk) frame; stage 1's all-viewers frame is
    # unbounded in |users| so it carries NO explicit broadcast hint —
    # AQE/planner may still elect one at this SF, which is fine. What
    # must hold: the shrunk stage-2 frame broadcasts, and no cartesian.
    plan = _physical(queries["evt_funnel_stages"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # event_type filters reach the scans
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_semantic_dedup_pair_mining_is_cluster_local(spark, queries):
    # SemDeDup's whole point: near-dup pairs are mined WITHIN clusters.
    # The full query's final plan hides the mining stage behind the
    # connected-components checkpoint, so pin the two layers separately:
    # (1) the end-to-end plan has no Cartesian / nested-loop anywhere
    # (the old crossJoin centroid assignment is gone — assignment is a
    # narrow margin-candidate map + equi-joins);
    plan = _physical(queries["dedup_semantic_clusters"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)
    # (2) the pair screen itself is a group-map over cluster_id — one
    # matmul per cluster inside FlatMapGroupsInPandas, never a self-join
    # materializing intra-cluster row pairs
    from psql_streamer_spark.operators.dedup import semantic_pair_screen

    assign = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 1)],
        "vec_id long, e array<double>, cluster_id long",
    )
    screen_plan = _physical(semantic_pair_screen(assign, 0.4))
    assert "FlatMapGroupsInPandas" in screen_plan
    assert "Join" not in screen_plan
    assert any(
        "hashpartitioning(cluster_id" in line for line in screen_plan.splitlines()
    ), screen_plan


def test_chunking_is_shuffle_free(spark, queries):
    # chunking is a narrow explode over computed starts — scan-bound
    plan = _physical(queries["mlprep_chunk_documents"](spark, SF_DIR))
    assert "Exchange" not in plan, plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema and "source" not in read_schema


def test_shuffle_order_uses_sharded_windows_not_global_sort(spark, queries):
    # the training shuffle must never global-sort: the window partitions
    # on shard, so the plan shows hashpartitioning (not rangepartitioning)
    plan = _physical(queries["mlprep_shuffle_order"](spark, SF_DIR))
    assert "rangepartitioning" not in plan.lower(), plan
    assert any(
        "hashpartitioning" in l and "shard" in l for l in plan.splitlines()
    ), plan


def test_salted_packing_window_partitions_on_source_and_salt(spark, queries):
    # hierarchical packing exists to break the one-task-per-source window:
    # the window exchange must hash-partition on BOTH source and salt so a
    # skewed mega-source spreads over K reducers
    plan = _physical(queries["mlprep_pack_sequences_salted"](spark, SF_DIR))
    part_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("source" in l and "salt" in l for l in part_lines), part_lines
    # and the window itself sorts within (source, salt)
    window_sorts = [l for l in plan.splitlines() if "Sort " in l]
    assert any("salt" in l for l in window_sorts), window_sorts


def test_blocked_blas_cosine_corpus_never_in_a_nested_loop(spark, queries):
    """The blocked-BLAS all-pairs tier must keep the quadratic work inside
    per-group numpy matmuls: the embeddings scans attach to the tiny
    block-pair frame via broadcast HASH joins, the Arrow group-map does the
    FLOPs, and the only Cross/nested-loop anywhere is the 16x16 Range-on-
    Range block-pair enumeration (256 rows). A Cartesian or nested loop
    touching the corpus would re-create the row-pair explosion the tier
    exists to avoid."""
    plan = _physical(queries["dedup_embedding_cosine_pairs_blocked"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan  # matmul runs as Arrow group-map
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # L and R corpus attachments
    # corpus scans must never feed a nested-loop join: every nested-loop
    # subtree here is the Range x Range block-pair enumeration, and the
    # corpus joins on blk via hash. SortMergeJoin would also betray a
    # shuffled row-pair join.
    assert "SortMergeJoin" not in plan
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scan_lines) == 2 and all("embeddings" in l for l in scan_lines)


def test_embedding_lsh_screen_is_grouped_not_joined(spark, queries):
    """The bucketed pair miner must run its candidate screen INSIDE the
    (table, bucket) groups: one FlatMapGroupsInPandas over the signature
    frame, never a signature self-join that materializes O(sum bucket^2)
    candidate rows carrying vector payloads (the 30x sweep measured that
    join at 33M rows before it was removed). The only joins allowed in
    the plan are the two survivor-rescore attachments back to the corpus,
    both equi-joins on vec ids."""
    plan = _physical(queries["dedup_embedding_lsh_pairs"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # signature frame feeds the group map via shuffle on (tbl, bucket)
    assert any(
        "hashpartitioning(tbl" in line for line in plan.splitlines()
    ), "group-map must partition on (tbl, bucket)"
    # no join keyed on the bucket columns (that would be the old self-join)
    join_lines = [l for l in plan.splitlines() if "Join" in l and "bucket" in l]
    assert not join_lines, join_lines


def test_bm25_broadcasts_query_side_no_cartesian(spark, queries):
    # retrieval plan: the tiny query-term frames broadcast to the postings
    # scan; the corpus must never be self-joined or cartesian-joined (the
    # only nested-loop allowed is the broadcast 1-row corpus-totals frame)
    plan = _physical(queries["text_bm25_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_unigram_surprisal_total_is_broadcast_scalar(spark, queries):
    # the corpus-total token count rides a broadcast 1-row frame; a
    # collect would put the driver in the loop, a cartesian would blow up
    plan = _physical(queries["text_unigram_surprisal"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_top_ngrams_topk_is_salted_two_phase(spark, queries):
    # the per-source top-5 must never sort the whole vocabulary on
    # |sources| threads (measured 105 s at sf30 before the fix): the
    # phase-1 ranking window hash-partitions on (source, __salt) so the
    # counted-gram frame spreads over source x 64 reducers; only the tiny
    # survivor frame (|sources| x 64 x 5 rows) sees a source-only window
    plan = _physical(queries["text_top_ngrams_per_source"](spark, SF_DIR))
    part_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("source" in l and "__salt" in l for l in part_lines), part_lines
    assert "rangepartitioning" not in plan.lower(), plan


def test_wal_gap_audit_windows_are_bucketed(spark, queries):
    # offset-continuity audit: the lag window over the raw change stream
    # must partition on (table, __bkt) — `table` alone has a handful of
    # values, so a table-only window would sort the whole stream on
    # |tables| threads; only the 4096x-smaller bucket-summary frame may
    # carry a table-partitioned window (boundary-gap pass)
    plan = _physical(queries["cdc_wal_gap_audit"](spark, SF_DIR))
    part_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("__bkt" in l for l in part_lines), part_lines


def test_full_ranking_windows_are_bucket_decomposed(spark, queries):
    # full-ranking output over low-cardinality partitions (5 segments; ONE
    # global ordering for ntile) must never sort the customer table on
    # |segments|/1 threads: every big-side ranking window (recognizable by
    # c_custkey in its spec) partitions on __bkt; segment-only or
    # SinglePartition windows may appear only over the per-bucket count
    # summaries (|segments| x ~55 rows)
    for name in ("window_rank_dense_ntile", "window_percent_rank_cume_dist"):
        plan = _physical(queries[name](spark, SF_DIR))
        wlines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        big = [l for l in wlines if "c_custkey" in l]
        assert big, (name, wlines)
        assert all("__bkt" in l for l in big), (name, big)


def test_per_query_topk_windows_are_salted(spark, queries):
    # per-query candidate ranking (similarity search, BM25 retrieval) is
    # the same wall with |queries| threads: phase 1 of the lossless
    # two-phase top-k must rank within (query_id, __salt) cells; only the
    # |queries| x 64 x k survivor frame may see a query-only window
    for name in (
        "sim_lsh_topk",
        "sim_ivf_topk",
        "text_bm25_topk",
    ):
        plan = _physical(queries[name](spark, SF_DIR))
        part_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
        assert any(
            "query_id" in l and "__salt" in l for l in part_lines
        ), (name, part_lines)


def test_bruteforce_topk_ranking_form_is_size_gated(spark, queries):
    # sim_bruteforce_topk picks its ranking form from the corpus scan's
    # plan statistics (r9 pin: at 20k vectors the two-phase form's extra
    # shuffle measured ~+0.25 s of pure overhead; at sf30+ the single
    # window IS the low-cardinality wall). Small corpus -> exactly one
    # query-only window, no salt cells; large (threshold forced to 0)
    # -> the salted two-phase shape.
    from psql_streamer_spark.operators import similarity as sim

    plan = _physical(queries["sim_bruteforce_topk"](spark, SF_DIR))
    assert "__salt" not in plan
    part_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("query_id" in l for l in part_lines), part_lines

    orig = sim._SALTED_TOPK_MIN_BYTES
    sim._SALTED_TOPK_MIN_BYTES = 0
    try:
        plan = _physical(queries["sim_bruteforce_topk"](spark, SF_DIR))
        part_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
        assert any(
            "query_id" in l and "__salt" in l for l in part_lines
        ), part_lines
    finally:
        sim._SALTED_TOPK_MIN_BYTES = orig


def test_minmax_broadcast_stats_is_jvm_only_narrow(spark, queries):
    # the grouped-map production tier: per-group aggregate state reduces
    # map-side (partial_min/partial_max) and broadcasts back; the big side
    # must see NO exchange and NO Python — the only Exchange allowed is
    # the |types|-row stats aggregation
    plan = _physical(
        queries["udf_minmax_normalize_broadcast_stats"](spark, SF_DIR)
    )
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan and "partial_max" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_pruned_date_range_scans_only_matching_partitions(spark, queries):
    """Partition pruning on the date-partitioned lake layout (r11): the
    3-day range predicate must plan as PartitionFilters on the scan of
    the events_by_date table, and the files actually read must be
    confined to the 3 matching event_date= directories of the 30 the
    table holds — pruning proven at BOTH the plan level and the
    file-listing level. At 100 TB this is the scan-3-days-not-the-lake
    property every time-ranged job depends on."""
    from psql_streamer_spark.operators.event_time import (
        EVT_PRUNE_END,
        EVT_PRUNE_START,
        events_date_partitioned_table,
    )

    df = queries["evt_pruned_date_range"](spark, SF_DIR)
    plan = _physical(df)
    assert "PartitionFilters" in plan and "event_date" in plan
    # the data filter must NOT degrade to a post-scan row filter only:
    # no event_date predicate may appear in PushedFilters/DataFilters
    # (it is a partition column — it never exists inside the files)
    dates = sorted(
        f.split("event_date=")[1].split("/")[0]
        for f in df.inputFiles()
        if "event_date=" in f
    )
    assert set(dates) == {"2024-01-10", "2024-01-11", "2024-01-12"}, dates
    # the table itself holds all 30 days — pruning, not a narrow table
    table = events_date_partitioned_table(spark, SF_DIR)
    all_days = {
        r.event_date.isoformat()
        for r in spark.table(table).select("event_date").distinct().collect()
    }
    assert len(all_days) == 30
    assert EVT_PRUNE_START in all_days and EVT_PRUNE_END in all_days


def test_quantile_bucket_balanced_and_monotone_on_striped_domain(spark):
    """r12: the regression that motivated equal-frequency bucketing. On
    a replica-striped key domain (replica*1e9 + original — the shape
    tools/inflate.py produces), equal-width quantization collapses all
    original-domain keys into bucket 0 and leaves most buckets empty,
    degenerating the z-order grid. quantile_bucket must fill every
    bucket near-uniformly and assign ids monotone in the key."""
    from psql_streamer_spark.operators.tpch_suite import quantile_bucket

    df = spark.range(10_000).select(
        ((F.col("id") % 10) * 1_000_000_000 + (F.col("id") % 997)).alias("k")
    )
    n = 16
    out = df.select("k", quantile_bucket(df, "k", n).alias("b"))
    counts = {
        r.b: r.cnt
        for r in out.groupBy("b").agg(F.count("*").alias("cnt")).collect()
    }
    assert len(counts) == n, counts  # every bucket populated
    assert max(counts.values()) <= 2 * min(counts.values()), counts
    rows = sorted((r.k, r.b) for r in out.distinct().collect())
    assert all(b1 <= b2 for (_, b1), (_, b2) in zip(rows, rows[1:]))


def test_pruned_shipmonth_range_scans_only_matching_partitions(spark, queries):
    """r12: partition pruning on the FACT side. evt_pruned_date_range
    proved the mechanism on the CDC events lake; this guards the same
    property on lineitem — the table that dominates a 100 TB TPC-H-shaped
    scan — laid out as l_shipmonth=YYYY-MM directories. The 3-month range
    must plan as PartitionFilters on the scan (month membership equals the
    timestamp range, so there is no data filter at all) and the files
    actually read must be confined to the 3 matching month directories of
    the 83 the table holds."""
    from psql_streamer_spark.operators.tpch_suite import (
        Q6_PRUNE_END_MONTH,
        Q6_PRUNE_START_MONTH,
        lineitem_shipmonth_partitioned_table,
    )

    df = queries["q6_pruned_shipdate_range"](spark, SF_DIR)
    plan = _physical(df)
    assert "PartitionFilters" in plan and "l_shipmonth" in plan
    months = sorted(
        {
            f.split("l_shipmonth=")[1].split("/")[0]
            for f in df.inputFiles()
            if "l_shipmonth=" in f
        }
    )
    assert months == ["1996-01", "1996-02", "1996-03"], months
    # the table itself holds all 83 months — pruning, not a narrow table
    table = lineitem_shipmonth_partitioned_table(spark, SF_DIR)
    all_months = {
        r.l_shipmonth
        for r in spark.table(table).select("l_shipmonth").distinct().collect()
    }
    assert len(all_months) == 83, len(all_months)
    assert Q6_PRUNE_START_MONTH in all_months and Q6_PRUNE_END_MONTH in all_months
    # write discipline: the (month, salt) repartition bounds files per
    # leaf at LAKE_LEAF_SALT (not one per scan task per leaf — the
    # small-files property) while keeping a pruned 3-month read wide
    # enough to parallelize (more than one split — the LAKE_r12 finding:
    # one file per leaf made the pruned read SLOWER than the full scan
    # at sf10 despite reading 2.9% of the bytes)
    from collections import Counter

    from psql_streamer_spark.operators.tpch_suite import LAKE_LEAF_SALT

    per_leaf = Counter(
        f.split("l_shipmonth=")[1].split("/")[0]
        for f in df.inputFiles()
        if "l_shipmonth=" in f
    )
    assert all(1 <= n <= LAKE_LEAF_SALT for n in per_leaf.values()), per_leaf
    assert sum(per_leaf.values()) > 3, per_leaf  # wider than 1 split/leaf


def test_pruned_ordermonth_range_scans_only_matching_partitions(spark, queries):
    """r12: the orders-side twin of the lineitem guard above — the q4
    3-month window on the o_ordermonth=YYYY-MM layout must read only the
    3 matching directories of the 80 the table holds."""
    from psql_streamer_spark.operators.tpch_suite import (
        orders_ordermonth_partitioned_table,
    )

    df = queries["q4_pruned_orderdate_range"](spark, SF_DIR)
    plan = _physical(df)
    assert "PartitionFilters" in plan and "o_ordermonth" in plan
    months = sorted(
        {
            f.split("o_ordermonth=")[1].split("/")[0]
            for f in df.inputFiles()
            if "o_ordermonth=" in f
        }
    )
    assert months == ["1996-01", "1996-02", "1996-03"], months
    table = orders_ordermonth_partitioned_table(spark, SF_DIR)
    n_months = (
        spark.table(table).select("o_ordermonth").distinct().count()
    )
    assert n_months == 80, n_months


def test_pruned_fact_join_prunes_both_scans(spark, queries):
    """r12: the composed job shape — a q3-class order/lineitem revenue
    join where BOTH fact scans must partition-prune before the join
    shuffle: orders to its 3 o_ordermonth directories, lineitem to its 6
    l_shipmonth directories (asymmetric windows — lineitems of a Q1
    order ship into Q2). At 100 TB this is the difference between
    joining two month-slices and shuffling two decades."""
    df = queries["q3_pruned_fact_join"](spark, SF_DIR)
    plan = _physical(df)
    assert plan.count("PartitionFilters: [isnotnull") >= 2, plan[:3000]
    o_months = sorted(
        {
            f.split("o_ordermonth=")[1].split("/")[0]
            for f in df.inputFiles()
            if "o_ordermonth=" in f
        }
    )
    l_months = sorted(
        {
            f.split("l_shipmonth=")[1].split("/")[0]
            for f in df.inputFiles()
            if "l_shipmonth=" in f
        }
    )
    assert o_months == ["1996-01", "1996-02", "1996-03"], o_months
    assert l_months == [f"1996-0{i}" for i in range(1, 7)], l_months


def test_clustered_lookup_pushes_filter_and_sorts_within_files(spark, queries):
    """r12: the clustering axis. The partkey equality must push down to
    the clustered table's scan (PushedFilters — that is what row-group
    stat skipping keys off), and the mechanism itself must hold: inside
    any leaf file, l_partkey is NON-DECREASING (sortWithinPartitions
    ordered the rows), which is what narrows row-group min/max ranges.
    At sf0.01 each file is a single row group so skipping itself is a
    scale effect — measured at sf10 in LAKE_r12 — but sortedness and
    pushdown are the local invariants that make it happen."""
    import pyarrow.parquet as pq

    df = queries["lake_clustered_partkey_lookup"](spark, SF_DIR)
    plan = _physical(df)
    assert "PushedFilters" in plan
    assert "EqualTo(l_partkey,42)" in plan, plan[:2500]

    files = [f.replace("file:", "") for f in df.inputFiles()]
    assert files
    # spot-check sortedness in a handful of leaf files
    for f in sorted(files)[:5]:
        col = pq.read_table(f, columns=["l_partkey"])["l_partkey"].to_pylist()
        assert col == sorted(col), f


def test_zorder_lookup_skips_files_on_both_dimensions(spark, queries):
    """r12: z-order's defining property, asserted from the parquet
    footers — a point predicate on EITHER interleaved key must be able
    to skip most files by raw-column min/max stats (the morton grid
    gives each dimension ~1/sqrt(files) read fraction), where the linear
    clustered layout serves only its sort key. Also guards pushdown on
    both lookup plans."""
    import pyarrow.parquet as pq

    from psql_streamer_spark.operators.tpch_suite import (
        CLUSTER_LOOKUP_PARTKEY,
        ZORDER_LOOKUP_SUPPKEY,
    )

    dfp = queries["lake_zorder_partkey_lookup"](spark, SF_DIR)
    dfs = queries["lake_zorder_suppkey_lookup"](spark, SF_DIR)
    assert f"EqualTo(l_partkey,{CLUSTER_LOOKUP_PARTKEY})" in _physical(dfp)
    assert f"EqualTo(l_suppkey,{ZORDER_LOOKUP_SUPPKEY})" in _physical(dfs)

    files = sorted({f.replace("file:", "") for f in dfp.inputFiles()})
    assert len(files) >= 32, len(files)

    def straddle(col, key):
        hit = 0
        for f in files:
            t = pq.read_table(f, columns=[col])[col].to_pylist()
            if min(t) <= key <= max(t):
                hit += 1
        return hit / len(files)

    # both dimensions skip most files; neither gets linear's near-total
    # skipping — the documented multi-dim trade
    assert straddle("l_partkey", CLUSTER_LOOKUP_PARTKEY) <= 0.5
    assert straddle("l_suppkey", ZORDER_LOOKUP_SUPPKEY) <= 0.5


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark):
    """Row-level runtime filtering, the shuffle-join companion to
    partition pruning: with a selective filter on one join side, Spark
    builds a Bloom filter from that side and injects might_contain onto
    the OTHER side's scan, so fact rows that cannot match die before the
    shuffle. The session enables the optimizer rule
    (runtime.bloomFilter.enabled is true by default); its
    application-side threshold is 10 GiB — sized for exactly the
    100 TB fact scans this engine targets — so a local[32] sf0.01 probe
    must lower it to OBSERVE the injection. This guard proves the
    engine's join plans are runtime-filterable (no structural blocker:
    creation side under threshold, equi-key visible through the
    projections) and pins result parity with the unfiltered plan."""
    from psql_streamer_spark.sources.tables import load_table

    app_key = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    prev_app = spark.conf.get(app_key)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def _join():
        o = (
            load_table(spark, "orders", SF_DIR)
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        l = load_table(spark, "lineitem", SF_DIR).select(
            "l_orderkey", "l_quantity"
        )
        return l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))

    baseline = _join().count()
    spark.conf.set(app_key, "0")
    # broadcast off: the rule targets shuffle joins (a broadcast join
    # already ships the small side everywhere — nothing to prune with)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = _join()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt[:2000]
        assert "bloom_filter_agg" in opt, opt[:2000]
        assert j.count() == baseline  # the filter prunes, never drops
    finally:
        spark.conf.set(app_key, prev_app)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_partitioned_lake_daily_append_lifecycle(spark, tmp_path):
    """The daily-append lifecycle the date layout exists for: append one
    new day's partition and (a) existing range reads are untouched (same
    3 directories), (b) the new day is readable as its own directory —
    appends and scans never touch the same bytes, which is what makes
    the layout safe for concurrent ingest + analytics at 100 TB."""
    from psql_streamer_spark.sources.tables import load_table

    e = load_table(spark, "events", SF_DIR).withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_lake")
    e.write.partitionBy("event_date").parquet(path)

    # day-31 delta: day 1 shifted +30 days with fresh event ids — the
    # shape of tomorrow's ingest batch
    delta = (
        e.filter(F.col("event_date") == F.lit("2024-01-01").cast("date"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
        .withColumn("event_date", F.to_date("ts"))
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    n_delta = delta.count()
    assert n_delta > 0
    delta.write.mode("append").partitionBy("event_date").parquet(path)

    t = spark.read.parquet(path)
    assert t.select("event_date").distinct().count() == 31
    # the appended day lands in exactly one new directory
    assert (
        spark.read.parquet(f"{path}/event_date=2024-01-31").count() == n_delta
    )
    # a pre-existing range query sees exactly what it saw before the
    # append (pruned plan, identical rows)
    rng = t.filter(
        (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
        & (F.col("event_date") <= F.lit("2024-01-12").cast("date"))
    )
    plan = rng._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    expected = e.filter(
        (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
        & (F.col("event_date") <= F.lit("2024-01-12").cast("date"))
    ).count()
    assert rng.count() == expected


def test_split_drift_topk_is_take_ordered_with_broadcast_totals(spark, queries):
    plan = _physical(queries["audit_split_token_drift"](spark, SF_DIR))
    # top-20 must be TakeOrdered (never a global sort) and the 1-row
    # totals frame must arrive broadcast, not shuffled
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_corr_profile_is_single_scan_no_join(spark, queries):
    plan = _physical(queries["profile_numeric_correlations"](spark, SF_DIR))
    # one sufficient-statistics pass: the pair rows must come from the
    # single aggregate row (stack/expand), never from re-scans or joins
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert "partial_" in plan  # map-side combined moments


def test_corpus_prep_report_single_window_no_join(spark, queries):
    plan = _physical(queries["pipeline_corpus_prep_report"](spark, SF_DIR))
    # quality gate + dedup + split compose into one scan, one fingerprint
    # window, one final aggregate — no join anywhere
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert "Window" in plan


def test_langid_score_model_join_is_broadcast(spark, queries):
    """The trained-langid scorer's model and prior joins must be
    broadcasts: the model is LANGID_BIGRAM_CAP-bounded by construction
    (the r15 cap's whole point), so no per-doc exchange may appear for
    the model side — the only shuffles in the scoring plan are the
    per-doc aggregates/window. Guards both the registered query and the
    fused gate's fourth signal (same scoring function)."""
    plan = _physical(queries["text_langid_model_scores"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # exactly ONE shuffle join is legitimate: the per-doc assembly of
    # (docs x priors) against the per-doc gram-cost sums, keyed
    # (doc_id, cand_lang) — both sides are doc-sized. Any other
    # sort-merge means a model-sized side stopped broadcasting.
    smj = [
        ln for ln in plan.splitlines() if "SortMergeJoin" in ln
    ]
    assert len(smj) <= 1, smj
    for ln in smj:
        assert "doc_id" in ln, f"non-doc-keyed shuffle join: {ln}"
    assert "EvalPython" not in plan  # whole pipeline stays JVM-side


def test_exact_incremental_broadcasts_delta_both_steps(spark, queries):
    """dedup_exact_incremental's contract is zero corpus shuffles: the
    delta fingerprints broadcast into the prior-corpus probe, and the
    delta-sized match stats broadcast back into the per-arrival left
    join — two BroadcastHashJoins, no sort-merge join anywhere."""
    plan = _physical(queries["dedup_exact_incremental"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
