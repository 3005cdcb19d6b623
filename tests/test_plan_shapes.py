"""Physical-plan assertions: the scale properties the engine claims
(pushdown, pruning, broadcasts, window top-k, no cartesian products)
are verified in the optimized plans, not just asserted in docstrings."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def plan_of(spark, sf_dir, name: str) -> str:
    # any tier: the folded q9/q21 *_bucketed twins stay pinned here
    from noaa_data_pipeline_spark.plans import resolve

    df = resolve(name).fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    scan = plan[plan.index("ReadSchema") :].split("\n")[0]
    # only the 7 referenced columns are read, not all 16
    assert "l_orderkey" not in scan and "l_comment" not in scan
    assert "l_quantity" in scan and "l_returnflag" in scan


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # lineitem never shuffles on join keys


def test_q5_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_regional_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # all four dims broadcast


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top_orders_per_customer")
    # rank<=3 predicate becomes a per-group top-k, not a full sort+filter
    assert "WindowGroupLimit" in plan


def test_order_limit_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "latest_events_limit")
    assert "TakeOrderedAndProject" in plan


def test_semi_join_is_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "urgent_order_lines_semi")
    assert "LeftSemi" in plan


def test_anti_join_is_anti(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "customers_without_recent_orders")
    assert "LeftAnti" in plan


def test_whole_stage_codegen_everywhere(spark, sf_dir):
    for name in ["q1_pricing_summary", "events_daily_rollup_two_level"]:
        plan = plan_of(spark, sf_dir, name)
        # '*(n)' marks operators fused into a WholeStageCodegen stage
        assert "*(1)" in plan and "*(2)" in plan, name


def test_lsh_band_join_is_equi_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sim_ann_lsh_hyperplane")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["dedup_exact", "text_token_counts", "mm_binary_metadata"])
def test_map_side_ops_have_no_shuffle_on_fact(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    # at most the aggregate's own exchange; never a join exchange
    assert "SortMergeJoin" not in plan


def test_sample_and_split_are_shuffle_free_scans(spark, sf_dir):
    # deterministic hash sampling is a map-side filter: no exchange
    plan = plan_of(spark, sf_dir, "sample_stratified_hash")
    assert "Exchange" not in plan
    # the split aggregates 3 groups: exactly one exchange (the combine)
    plan = plan_of(spark, sf_dir, "split_train_val_hash")
    assert plan.count("Exchange") == 1


def test_bigram_topk_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_bigram_topk")
    assert "TakeOrderedAndProject" in plan  # top-k, never a full sort


def test_pack_sequences_single_shard_shuffle(spark, sf_dir):
    # window + both aggregates reuse the shard hash partitioning:
    # one shuffle for the window, one for the final (shard, bin) agg
    plan = plan_of(spark, sf_dir, "docs_pack_sequences")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bucketed_join_eliminates_shuffle(spark, tmp_path_factory):
    """The 100 TB co-location story: orders/lineitem written bucketed
    on the join key join WITHOUT a shuffle on either side — the
    pre-partitioning replaces both exchanges (classic warehouse
    layout for repeated fact-fact joins)."""
    import os

    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdemo LOCATION '{wh}'")
    # at 100 TB neither fact side broadcasts; force the SMJ shape the
    # bucketing exists for (the sf0.001 files would broadcast)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        (
            orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable("buckdemo.orders_b")
        )
        (
            lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .mode("overwrite").saveAsTable("buckdemo.lineitem_b")
        )
        joined = (
            spark.table("buckdemo.orders_b")
            .join(
                spark.table("buckdemo.lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # no exchange below the join: bucketing provides the distribution
        join_part = plan[plan.index("SortMergeJoin") :]
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        # sanity: same result as the unbucketed join
        expected = (
            orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect())
        )
        del join_part
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP DATABASE IF EXISTS buckdemo CASCADE")


def test_q5_correct_without_broadcast(spark, sf_dir):
    """Cluster reality check: with broadcasting disabled (the at-scale
    planner choice when no side fits), q5 falls back to shuffle joins
    and produces the identical result."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()["q5_regional_revenue"]
    expected = sorted(map(tuple, fn(spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        got = sorted(map(tuple, fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == expected


# --- round-2 late additions ------------------------------------------


def test_mask_numbers_is_pure_mapside(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_mask_numbers")
    # a scrub is a projection over the scan: any exchange is a bug
    assert "Exchange" not in plan


def test_quantize_is_pure_mapside(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "emb_quantize_int8")
    assert "Exchange" not in plan


def test_q7_no_cartesian_and_broadcast_nations(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q7_volume_shipping")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # both nation roles


def test_q21_single_lineitem_agg_no_expand(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q21_waiting_suppliers")
    # the two-level distinct-count rewrite must not plan an Expand
    # (the COUNT(DISTINCT)-pair form does, doubling fact rows)
    assert "Expand" not in plan


def test_scd2_reuses_one_customer_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_scd2_status_intervals")
    # all three windows + the run aggregate share hash(o_custkey):
    # exactly one exchange in the whole plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_grouping_sets_single_expand(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_grouping_sets_marginals")
    # one pass: Expand over the scan, not a union of two aggregates
    assert plan.count("Expand") == 1
    assert plan.count("Union") == 0


# --- round-5: single-file-scan parallelism guards --------------------


def test_token_pipeline_tokenizes_in_parallel(spark, sf_dir):
    """The corpus is one small parquet file (1-2 raw splits); token
    pipelines with per-token downstream work must hash-repartition on
    doc_id BEFORE the explode or the whole tokenize stage (and, under
    AQE, everything after it) serializes. Guard the explicit exchange."""
    for name in ("text_fingerprint_winnow", "text_tfidf_topk", "dedup_simhash"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange hashpartitioning(doc_id" in plan, name


def test_embedding_compute_spreads_over_cores(spark, sf_dir):
    """Same guard for the embeddings table: the decimal dot-product
    compute (norms/sign bits/scoring) must sit behind an explicit
    vec_id repartition (AQE-exempt), not on the raw file splits."""
    for name in ("sim_cosine_topk_brute", "sim_ann_lsh_hyperplane"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange hashpartitioning(vec_id" in plan, name


def test_chunk_overlap_is_pure_mapside(spark, sf_dir):
    # tokenize -> sequence -> explode -> slice: no exchange at all
    plan = plan_of(spark, sf_dir, "docs_chunk_overlap")
    assert "Exchange" not in plan


def test_embed_hash_single_rollup_shuffle(spark, sf_dir):
    # hash/sign are map-side; only the (doc_id, dim) combine shuffles
    # (plus the explicit tokenize-spread repartition)
    plan = plan_of(spark, sf_dir, "docs_embed_hash")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_ivf_multiprobe_corpus_never_shuffles(spark, sf_dir):
    # centroids and probes broadcast into the corpus scan; the only
    # hash exchanges belong to the tiny centroid aggregation and the
    # final per-query top-k window — never a corpus-sized join
    plan = plan_of(spark, sf_dir, "sim_ivf_multiprobe")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # probes broadcast into the corpus scan (hash join), and the
    # query x centroid cross is a broadcast nested loop over the
    # kilobyte centroid table — the corpus side never moves
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin BuildRight" in plan


def test_user_sequences_single_exchange_bounded_state(spark, sf_dir):
    # rank window, count window, and rollup share hash(user_id):
    # one exchange; the rank filter bounds collect state at SEQ_MAX
    plan = plan_of(spark, sf_dir, "events_user_sequences")
    assert plan.count("Exchange hashpartitioning") == 1


def test_lake_bucketed_entry_join_is_exchange_free(spark, sf_dir):
    """The registry's bucketed co-partition entry: the fact⋈fact join
    reads bucketed scans (Bucketed: true) and needs no exchange on
    either join key — only the final tiny priority aggregate
    shuffles."""
    plan = plan_of(spark, sf_dir, "lake_bucketed_copartition_join")
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_zorder_layout_tightens_file_envelopes(spark, sf_dir, tmp_path):
    """Writing the lake range-partitioned on the z-key gives files a
    tighter min-max envelope on BOTH dimensions than a time-sorted
    layout — the property data skipping prunes on. Compare the mean
    per-file x_b spread under the two layouts."""
    import glob

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    zdf = entrymod.queries()["lake_zorder_key"](spark, sf_dir)
    n_files = 8

    def mean_x_spread(df, order_col):
        path = str(tmp_path / order_col)
        (
            df.repartitionByRange(n_files, F.col(order_col))
            .sortWithinPartitions(order_col)
            .write.mode("overwrite")
            .parquet(path)
        )
        spreads = []
        for f in glob.glob(path + "/*.parquet"):
            part = spark.read.parquet(f).agg(
                (F.max("x_b") - F.min("x_b")).alias("s")
            ).collect()[0]
            if part["s"] is not None:
                spreads.append(part["s"])
        return sum(spreads) / len(spreads)

    # y_b is the day bucket: ordering by it alone leaves x (user
    # bucket) unclustered — every file spans nearly the full x range
    naive = mean_x_spread(zdf, "y_b")
    z = mean_x_spread(zdf, "z_key")
    assert z < naive * 0.7, f"z-order spread {z} not tighter than {naive}"


def test_range_search_is_broadcast_scan(spark, sf_dir):
    """Radius search: query batch broadcasts, corpus never self-joins
    via shuffle — and the threshold filter runs before any window
    (there is none)."""
    plan = plan_of(spark, sf_dir, "sim_cosine_range_search")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_dq_fk_check_is_anti_probe(spark, sf_dir):
    """The referential-integrity check must be an anti join against
    the broadcast dim, not a row-expanding outer join."""
    plan = plan_of(spark, sf_dir, "events_dq_report")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_pq_adc_codes_scan_joins_broadcast_tables(spark, sf_dir):
    """ADC search: distance tables broadcast onto the corpus-codes
    scan; the corpus is never sort-merge-joined against itself."""
    plan = plan_of(spark, sf_dir, "sim_pq_adc_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_pq_recall_matches_independent_runs(spark, sf_dir):
    """Regression lock for the exchange-reuse wrong-result hazard:
    composing the exact-topk and ADC-topk subtrees into one plan made
    reuse substitute exchanges across them and drop one subspace row
    per ADC pair (distances halved). The recall entry must equal the
    intersection of the two INDEPENDENTLY executed top-k sets."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in qs["sim_cosine_topk_brute"](spark, sf_dir).collect()
    }
    adc = {
        (r.query_id, r.neighbor_id)
        for r in qs["sim_pq_adc_topk"](spark, sf_dir).collect()
    }
    want = {}
    for q, n in exact:
        want.setdefault(q, 0)
        if (q, n) in adc:
            want[q] += 1
    got = {
        r.query_id: r.n_hit
        for r in qs["sim_pq_recall_eval"](spark, sf_dir).collect()
    }
    assert got == want


def test_q21_bucketed_has_zero_fact_exchanges(spark, sf_dir):
    """The bucketed Q21: both fact scans read the bucket layout, so
    neither the per-(order,supplier) aggregate nor the orders join
    exchanges on a fact key — the only exchange left is the final
    supplier-name rollup."""
    plan = plan_of(spark, sf_dir, "q21_waiting_suppliers_bucketed")
    assert plan.count("Bucketed: true") == 2
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_q9_bucketed_has_zero_fact_exchanges_and_no_sorts(spark, sf_dir):
    """Bucketed Q9: the broadcast dim joins preserve the lineitem
    scan's bucket distribution, so the orders merge join runs with
    no exchange on either fact key — and, because the layout writer
    verified one file per bucket and enabled the sorted bucketed
    scan (r10: bucketed_fact_tables), with NO per-run Sort on either
    side (the write-time sortBy serves the merge join directly;
    measured 1.03 s -> 0.86 s at x100)."""
    plan = plan_of(spark, sf_dir, "q9_product_type_profit_bucketed")
    assert plan.count("Bucketed: true") == 2
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "SortMergeJoin" in plan
    assert "Sort [l_orderkey" not in plan
    assert "Sort [o_orderkey" not in plan


def test_daily_rollup_single_raw_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_daily_rollup_two_level")
    # one raw repartition on user_id serves BOTH aggregation levels
    # (prefix partitioning); a second exchange means the rewrite
    # regressed to the groupBy-then-groupBy shape
    assert plan.count("Exchange hashpartitioning") == 1


def test_outcome_scoring_single_raw_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_outcome_scoring")
    assert plan.count("Exchange hashpartitioning") == 1


def test_decontam_two_shuffles_no_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "decontam_ngram_overlap")
    # fused form: groupBy(shingle) -> explode -> groupBy(doc_id).
    # No join anywhere (the split is a map-side hash of doc_id), and
    # exactly two hash exchanges
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_q9_routes_to_bucketed_when_warehouse(spark, sf_dir, monkeypatch, tmp_path):
    # isolated layout root: the env=1 build below durably declares a
    # warehouse manifest (r11 semantics) and must not leak onto the
    # shared root other tests / the real gate lake see
    from noaa_data_pipeline_spark.plans import scale
    from tests.test_bucketed_routing import isolate_layout_root

    isolate_layout_root(spark, monkeypatch, str(tmp_path / "bkt"))
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
    plan = plan_of(spark, sf_dir, "q9_product_type_profit")
    # routed to the bucketed twin: the orders merge join consumes the
    # bucket layout, so no exchange on either fact key
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "0")
    plan = plan_of(spark, sf_dir, "q9_product_type_profit")
    # the explicit gate pin serves the un-bucketed plan even though
    # the env=1 call above declared the warehouse manifest — this is
    # the profile tools/check_correctness.py runs under
    assert "bkt_lineitem" not in plan
    # DEFAULT (env unset): the declared manifest now routes (r11,
    # r10 VERDICT task 3 — durable file-presence state, not hidden
    # session state; the incidental-build no-flip case is pinned in
    # tests/test_bucketed_routing.py)
    monkeypatch.delenv("SPARK_GRAFT_BUCKETED")
    plan = plan_of(spark, sf_dir, "q9_product_type_profit")
    assert "bkt_lineitem" in plan


def test_multiprobe_plan_construction_is_lazy(spark, sf_dir):
    """sim_ann_lsh_multiprobe's bucket persist is lazy (r9: the last
    eager persist+count barrier converted) — constructing the plan
    launches ZERO jobs; the cache fills on the first consumer."""
    fn = entrymod.queries()["sim_ann_lsh_multiprobe"]
    fn(spark, sf_dir)  # warm table/schema caches (a cold mergeSchema
    # read runs a footer-merge job unrelated to the persist barrier)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or ())
    df = fn(spark, sf_dir)
    after = set(tracker.getJobIdsForGroup(None) or ())
    assert after == before, "plan construction launched a Spark job"
    assert df.count() > 0  # and the plan still executes


def test_registry_wide_plan_hygiene(spark, sf_dir):
    """Every registered entry's physical plan, in one sweep: no
    CartesianProduct anywhere, and no row-at-a-time Python UDF
    (BatchEvalPython) — the only sanctioned Python crossings are the
    Arrow-batched ones (mapInPandas / applyInPandas / scalar
    pandas_udf). BroadcastNestedLoopJoin is allowed: the r9/r10
    audits verified every instance is a broadcast of a 1-row scalar
    aggregate or a kilobyte centroid/query frame under a non-equi
    condition (15 entries at sf0.01), which is the intended plan for
    those shapes. A future edit that leaks a cartesian or a row-wise
    UDF into ANY entry fails here without needing a dedicated test."""
    import __spark_entry__ as entrymod
    from noaa_data_pipeline_spark.plans import CATALOG

    sweep = dict(entrymod.queries())
    # folded twins too
    sweep.update({n: q.fn for n, q in CATALOG.items() if q.tier == "folded"})
    offenders = {}
    for name, fn in sweep.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        flags = [
            f
            for f in ("CartesianProduct", "BatchEvalPython")
            if f in plan
        ]
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_language_id_is_map_only(spark, sf_dir):
    # r15 rewrite: profile-hit counting folds over the token array in
    # a single projection — no explode, no profile join, no argmax
    # window, zero shuffles. A reappearing Exchange/Join means the
    # rewrite regressed to the explode->join->window shape.
    plan = plan_of(spark, sf_dir, "text_language_id")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan  # the old posexplode node


def test_language_id_tiebreak_and_edges(spark):
    # value pin for the map-side argmax: (n_hits DESC, lang ASC)
    # tie-break, zero-hit docs -> ('und', 0), empty/NULL text safe
    from pyspark.sql import Row

    from noaa_data_pipeline_spark.plans.text import text_language_id

    rows = [
        Row(doc_id=1, text="the la of to and is in"),   # en 7? no: 7 tokens, en hits
        Row(doc_id=2, text="el la de que y los"),        # es sweep
        Row(doc_id=3, text="la de"),                     # es vs fr tie -> es (ASC)
        Row(doc_id=4, text="zzz qqq"),                   # zero hits -> und
        Row(doc_id=5, text=""),                          # empty
        Row(doc_id=6, text=None),                        # null
    ]
    import noaa_data_pipeline_spark.tables as tables

    df = spark.createDataFrame(rows)
    orig = tables.load_table
    try:
        tables.load_table = lambda *_a, **_k: df
        from noaa_data_pipeline_spark.plans import text as textmod

        orig_mod = textmod.load_table
        textmod.load_table = lambda *_a, **_k: df
        got = {
            r["doc_id"]: (r["detected_lang"], r["n_hits"])
            for r in text_language_id(spark, "unused").collect()
        }
        textmod.load_table = orig_mod
    finally:
        tables.load_table = orig
    assert got[1] == ("en", 6)   # 'la' is es/fr, the 6 en stopwords win
    assert got[2] == ("es", 6)
    assert got[3] == ("es", 2)   # es before fr on the ASC tie-break
    assert got[4] == ("und", 0)
    assert got[5] == ("und", 0)
    assert got[6] == ("und", 0)


def test_cc_label_joins_hash_not_sort(spark, sf_dir):
    """r15: the corpus-vs-CC-label accounting joins (purge report,
    leakage-safe split, semantic purge) must build a hash table on
    the partition-bounded label/removed side instead of sorting the
    corpus side per partition (the docs_curation_pipeline_e2e
    precedent applied to the remaining three consumers)."""
    for name in (
        "dedup_purge_report",
        "split_leakage_safe",
        "dedup_semantic_purge",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" in plan, name


def test_column_profile_single_scan_hash_agg(spark, sf_dir):
    """r15 rewrite: the previous per-column agg union planned THREE
    corpus scans, each a Sort + SortAggregate chain (the string
    min/max buffer disqualifies hash aggregation). The unpivoted
    two-level form must scan once and hash-aggregate the corpus
    stage; SortAggregate may only appear above the first exchange,
    i.e. on the deduped value table."""
    plan = plan_of(spark, sf_dir, "events_column_profile")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    # toString prints root-first, so the text after the LAST exchange
    # is the corpus-side stage: Generate + partial HashAggregate only
    corpus_stage = plan.rsplit("Exchange hashpartitioning", 1)[1]
    assert "HashAggregate" in corpus_stage
    assert "SortAggregate" not in corpus_stage
    assert "Generate" in corpus_stage


def test_column_profile_null_and_dup_semantics(spark):
    """Value pin for the r15 single-scan rewrite: nulls count in
    n_rows but never in n_nonnull/n_distinct/min/max; duplicate
    values collapse in n_distinct; typed min/max stay per-column."""
    import noaa_data_pipeline_spark.plans.scale as scalemod

    df = spark.createDataFrame(
        [
            (1, 2.5, "a"),
            (1, 2.5, "b"),
            (2, None, "a"),
            (None, -1.0, None),
        ],
        "user_id long, value double, event_type string",
    )
    orig = scalemod.load_table
    try:
        scalemod.load_table = lambda *_a, **_k: df
        got = {
            r["column_name"]: r.asDict()
            for r in scalemod.events_column_profile(spark, "unused").collect()
        }
    finally:
        scalemod.load_table = orig
    v = got["value"]
    assert (v["n_rows"], v["n_nonnull"], v["n_distinct"]) == (4, 3, 2)
    assert (v["min_num"], v["max_num"]) == (-1.0, 2.5)
    assert v["min_str"] is None and v["max_str"] is None
    e = got["event_type"]
    assert (e["n_rows"], e["n_nonnull"], e["n_distinct"]) == (4, 3, 2)
    assert (e["min_str"], e["max_str"]) == ("a", "b")
    assert e["min_num"] is None and e["max_num"] is None
    u = got["user_id"]
    assert (u["n_rows"], u["n_nonnull"], u["n_distinct"]) == (4, 3, 2)
    assert (u["min_num"], u["max_num"]) == (1.0, 2.0)


def test_cosine_verify_single_fold_eval(spark, sf_dir):
    """r15 explode-as-barrier: the cosine threshold must NOT be pushed
    through the scoring projection into a join condition — that made
    every candidate pair pay the decimal fold twice and re-derived the
    norm fold behind inferred isnotnull(SQRT(...)) constraints. The
    Generate barrier keeps the fold at one evaluation; the inferred
    constraint's disappearance is the pushdown's signature."""
    for name in (
        "sim_ann_lsh_hyperplane",
        "sim_cosine_range_search",
        "dedup_embedding_cosine",
        "dedup_semantic_clusters",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "Generate" in plan, name
        assert "isnotnull(SQRT" not in plan, name
