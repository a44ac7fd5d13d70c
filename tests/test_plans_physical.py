"""Physical-plan contract tests — regression guards on the scale
properties SCALE.md documents. These assert the SHAPE of the plan, not
its output: a silent fall-back to sort-merge joins or a lost pushdown
is a performance bug tests on 6k rows would never catch.
"""

from __future__ import annotations

import pytest

from automotive_translation_pipeline_spark import queries_catalog as qc


def _physical(spark, name, sf_dir):
    # Default metadata rendering truncates PushedFilters at 100 chars —
    # widen so the assertions below see the full filter list.
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    df = qc.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcast_join_chain(spark, sf_dir):
    plan = _physical(spark, "tpch_q3_shipping_priority", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must broadcast, not shuffle
    # top-k compiles to TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_q1_scan_pruning(spark, sf_dir):
    plan = _physical(spark, "tpch_q1_pricing_summary", sf_dir)
    # Only the 6 referenced columns reach the reader.
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    for col in ("l_quantity", "l_extendedprice", "l_returnflag"):
        assert col in scan
    assert "l_partkey" not in scan  # untouched column pruned
    # Partial (map-side) aggregation before the exchange.
    assert "partial_sum" in plan


def test_q6_ts_pushdown_reaches_scan(spark, sf_dir):
    """The date range must land in PushedFilters (l_shipdate is
    TIMESTAMP(MICROS) → native timestamp_ntz scan, so the predicate
    pushes as-is) — losing this means full row-group scans on every
    date-filtered query."""
    plan = _physical(spark, "tpch_q6_forecast_revenue", sf_dir)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "GreaterThanOrEqual(l_shipdate" in scan
    assert "LessThan(l_shipdate" in scan
    # The non-date predicates keep pushing alongside.
    assert "GreaterThanOrEqual(l_discount" in scan


def test_events_nanos_pushdown_reaches_scan(spark, sf_dir):
    """The repo's events.ts is TIMESTAMP(MICROS), so this guards the
    native-timestamp branch of scan_ts_pruned: the range predicate sits
    on the scan column and reaches the reader as a PushedFilter. The
    NANOS compat branch (bigint under nanosAsLong, pushed in the raw
    nanos domain) is exercised on a written NANOS file in
    test_lazy_tables.py."""
    plan = _physical(spark, "events_ts_range_pruned", sf_dir)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "GreaterThanOrEqual(ts," in scan
    assert "LessThan(ts," in scan


def test_pipeline_assigned_reused_not_recomputed(spark, sf_dir):
    plan = _physical(spark, "pipeline_rows", sf_dir)
    # The packed-assignment stage feeds two consumers through the cache.
    assert plan.count("InMemoryTableScan") >= 2


def test_ann_corpus_never_shuffles_for_join(spark, sf_dir):
    plan = _physical(spark, "ann_cosine_topk", sf_dir)
    # Query side broadcasts; corpus joins without an exchange on its side.
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_bruteforce_prereduces_before_global_window(spark, sf_dir):
    """The global per-query top-k window must consume the pre-reduced
    candidate set (<= partitions x |Q| x k rows), never the raw
    |corpus| x |Q| score set — otherwise the final window is a skewed
    shuffle into |Q| partitions. Plan text reads top-down, so the
    global window appears first, then the local-top-k filter, then the
    local (__pid, query_id) window below it."""
    plan = _physical(spark, "ann_cosine_topk", sf_dir)
    windows = [i for i, l in enumerate(plan.splitlines()) if "Window" in l]
    assert len(windows) >= 2, plan
    lines = plan.splitlines()
    global_w = windows[0]
    local_w = windows[-1]
    assert "__pid" in lines[local_w] and "__pid" not in lines[global_w]
    lrk_filter = [
        i for i, l in enumerate(lines) if "Filter" in l and "__lrk" in l
    ]
    assert lrk_filter and global_w < lrk_filter[0] < local_w, plan


def test_topk_never_global_sorts(spark, sf_dir):
    plan = _physical(spark, "r28_topk_recent", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_anti_join_is_hash_not_loop(spark, sf_dir):
    plan = _physical(spark, "r12_anti_join_dedup", sf_dir)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_global_sort_is_range_partitioned(spark, sf_dir):
    """Full ORDER BY (no limit) must compile to sampled range
    partitioning + per-partition sort — never a single-partition
    global sort."""
    plan = _physical(spark, "sorted_lang_source_profile", sf_dir)
    assert "Exchange rangepartitioning" in plan
    assert "TakeOrderedAndProject" not in plan


def test_q7_all_dims_broadcast(spark, sf_dir):
    """Five-way star with nation in two roles: every dim must broadcast
    — a single SortMergeJoin here means the fact shuffles five times."""
    plan = _physical(spark, "tpch_q7_volume_shipping", sf_dir)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q8_widest_star_all_dims_broadcast(spark, sf_dir):
    """Q8 hangs seven dim roles off the fact (part, supplier, orders,
    customer, nation x2, region-filtered nation set): every one must
    broadcast so the fact is scanned once and only the o_year rollup
    shuffles."""
    plan = _physical(spark, "tpch_q8_market_share", sf_dir)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5
    # exactly one aggregation exchange (the groupBy(o_year))
    assert plan.count("Exchange hashpartitioning") == 1


def test_q15_single_fact_scan(spark, sf_dir):
    """Q15 references the revenue view twice; the plan must still read
    lineitem ONCE (cached aggregate + broadcast max), not re-aggregate
    the fact per reference."""
    plan = _physical(spark, "tpch_q15_top_supplier", sf_dir)
    assert "SortMergeJoin" not in plan
    # the quarter predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join is union + ONE keyed window: exactly one exchange
    (on the key). A second exchange means the formulation regressed to
    a range self-join."""
    plan = _physical(spark, "asof_purchase_last_view", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1


def test_staged_pipeline_rejoin_is_shuffle_free(spark, sf_dir):
    """The staged flagship re-join job (bucketed scans → dedup → join →
    shift window) must contain NO Exchange: hashpartitioning(batch_id)
    from the bucket layout satisfies the join's clustered distribution
    on (batch_id, description_id), the build-side dropDuplicates, and
    the window's partitionBy — the whole downstream job runs on the
    staged layout. Broadcast is disabled so the join can't hide the
    shuffle behind a BroadcastExchange."""
    from automotive_translation_pipeline_spark.plans.pipeline import (
        translation_pipeline_staged,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = translation_pipeline_staged(spark, sf_dir, buckets=8)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_staged_pipeline_matches_inline(spark, sf_dir):
    """Row-level parity between the persist() topology and the
    bucketed-staging topology."""
    from automotive_translation_pipeline_spark.plans.pipeline import (
        translation_pipeline,
        translation_pipeline_staged,
    )

    cols = ["batch_id", "description_id", "translation", "is_failed"]
    inline = sorted(
        tuple(r) for r in translation_pipeline(spark, sf_dir).select(*cols).collect()
    )
    staged = sorted(
        tuple(r)
        for r in translation_pipeline_staged(spark, sf_dir).select(*cols).collect()
    )
    assert inline == staged


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides of a join on the key co-locates partitions:
    the join plan has NO Exchange — the 100 TB strategy for repeated
    joins on the same key (SCALE.md join layer)."""
    import pyspark.sql.functions as F

    from automotive_translation_pipeline_spark.sources import load_testdata

    # warehouse.dir is a static conf — tables land in the session's
    # default warehouse; unique names + drops keep the test hermetic.
    t = load_testdata(spark, "/root/testdata/sf0.001")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    (t["lineitem"].select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("li_bucketed"))
    (t["orders"].select("o_orderkey", "o_orderstatus")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("o_bucketed"))
    li = spark.table("li_bucketed")
    o = spark.table("o_bucketed")
    # Disable broadcast so the join would otherwise shuffle.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.sum("l_quantity").alias("q"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        join_section = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # No Exchange feeding the join: bucket layout co-locates keys.
        assert "Exchange hashpartitioning(l_orderkey" not in join_section
        assert "Exchange hashpartitioning(o_orderkey" not in join_section
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """When a selective dim join can't broadcast, Spark can inject a
    runtime bloom filter that pre-filters the fact scan. This guards
    that our scan/join shapes ADMIT the injection (a UDF barrier or
    opaque source between scan and join would silently disable it).
    Thresholds are lowered because the default application-side
    trigger is 10GB — a production-scale property we can only
    contract-test locally."""
    from automotive_translation_pipeline_spark.sources import load_testdata
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = load_testdata(spark, sf_dir)
        sel = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        j = t["lineitem"].join(sel, t["lineitem"].l_orderkey == sel.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_global_index_parallel_plan_and_parity(spark, sf_dir):
    """with_global_index must number identically to a global
    row_number() but WITHOUT collapsing the data path into one task:
    the only SinglePartition exchange allowed is the P-row offsets
    table; the data path goes through RangePartitioning."""
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    from automotive_translation_pipeline_spark.operators.indexing import (
        with_global_index,
    )
    from automotive_translation_pipeline_spark.sources import load_testdata

    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id")
    # scatter input across partitions to prove ordering is reconstructed
    scattered = docs.repartition(7)
    out = with_global_index(scattered, order_by=["doc_id"])

    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan
    assert plan.count("singlepartition") <= 1  # offsets table only

    expected = docs.select(
        "doc_id", F.row_number().over(Window.orderBy("doc_id")).alias("rn")
    )
    got = {r.doc_id: r.global_index for r in out.collect()}
    assert got == {r.doc_id: r.rn for r in expected.collect()}


def test_ledger_point_lookup_filters_below_window(spark, tmp_path):
    """R-9 at scale: Ledger.get() must prune the event log by job_id
    BEFORE the latest-wins window — the key predicate has to reach the
    parquet scan as a PushedFilter instead of windowing the whole
    ledger and filtering one key afterwards."""
    from pyspark.sql import functions as F

    from automotive_translation_pipeline_spark.ledger import (
        Ledger,
        latest_wins_view,
    )

    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    led = Ledger(spark, str(tmp_path / "plan_ledger"))
    led.append(
        [
            {"batch_id": "a", "job_id": f"batch_{i}", "status": "submitted",
             "timestamp": i}
            for i in range(20)
        ]
    )
    lookup = latest_wins_view(
        led.events().filter(F.col("job_id") == "batch_7")
    ).limit(1)
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "EqualTo(job_id,batch_7)" in scan
    assert led.get("batch_7")["timestamp"] == 7


def test_decontaminate_broadcasts_eval_never_shuffles_train(spark, sf_dir):
    """The 100 TB contract: the eval shingle set broadcasts; the train
    side's exploded shingles must reach the join without an Exchange
    (scan -> explode -> broadcast hash join), and the per-doc count
    aggregates map-side first."""
    plan = _physical(spark, "decontaminate_train_eval", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    join_pos = plan.index("BroadcastHashJoin")
    train_branch = plan[join_pos:].split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in train_branch
    assert "partial_count" in plan


def test_bm25_query_side_broadcasts(spark, sf_dir):
    """The query-term join must broadcast the tiny term set — a
    shuffled join would re-exchange the whole postings table per
    query batch."""
    plan = _physical(spark, "search_bm25_topk", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pairwise_ops_never_cartesian(spark, sf_dir):
    """Every pairwise operator must pair through a KEYED join (prefix
    token, band bucket, basket, position) — a cartesian/nested-loop
    fallback is the n^2 cliff the blocking exists to avoid."""
    for name in (
        "dedup_prefix_jaccard",
        "dedup_sorted_neighbors",
        "graph_triangle_counts",
        "events_type_cooccurrence",
        "embedding_centroid_affinity",
        "text_source_vocab_overlap",
    ):
        plan = _physical(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_equidepth_no_global_window(spark, sf_dir):
    """Bin assignment must ride the range-partitioned global index —
    a single-partition window over the fact table is the antipattern
    the operator exists to avoid. (The plan's only SinglePartition
    exchanges are tiny by construction: the P-row offset table and the
    1-row total-count aggregate. The duplicated range exchanges are
    canonically identical, so AQE stage reuse runs ONE shuffle write;
    see equidepth_histogram.)"""
    plan = _physical(spark, "profile_equidepth_histogram", sf_dir)
    assert "rangepartitioning" in plan.lower()
    assert plan.lower().count("singlepartition") <= 2


def test_enrich_is_broadcast_left_join(spark, sf_dir):
    plan = _physical(spark, "stream_static_enrich", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_filter_applies_before_exchange(spark, sf_dir):
    """The bloom membership test must prune the probe side at scan
    level (a Filter containing the bitwise mask test), before any
    exchange for the exact semi-join."""
    plan = _physical(spark, "bloom_pruned_semi_join", sf_dir)
    assert "&" in plan or "AND" in plan  # bitwise test present
    # exact semi join still present for correctness
    assert "LeftSemi" in plan


def test_dsir_two_map_passes_no_persist_broadcast_ratio(spark, sf_dir):
    """DSIR (round-8 shape): the bucket-ratio table (1024 rows) must
    broadcast onto the per-doc pass, nothing may sort-merge, and
    there is NO cache — the two consumers are two recomputed
    shuffle-free map passes over the corpus scan (the round-7
    persisted (doc, bucket) collapse was corpus x buckets sized and
    spilled at sf100). The bucket-stats pass runs eagerly at
    checkpoint time (its 1024-row result appears as Scan
    ExistingRDD); the visible plan is then ONE corpus FileScan (the
    per-doc pass) joined to the checkpointed ratio; zero
    InMemoryRelation."""
    plan = _physical(spark, "sample_dsir_weights", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryRelation" not in plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("FileScan parquet") == 1


def test_duplicate_spans_no_joins_two_windows(spark, sf_dir):
    """Span detection is windows over narrow rows — fingerprint count
    then per-doc islands — with NO join of any kind: the corpus
    explodes once and every later stage is an exchange of
    (doc, pos, fp) triples."""
    plan = _physical(spark, "dedup_duplicate_spans", sf_dir)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan
    assert plan.count("Window") >= 2


def test_remove_spans_narrow_span_side_join(spark, sf_dir):
    """The removal join brings the tiny span list back to the word
    arrays; the text column must appear in exactly one scan branch —
    the span side carries only (doc, pos, fp) and never raw text."""
    plan = _physical(spark, "dedup_remove_duplicate_spans", sf_dir)
    text_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "text" in l
    ]
    # two FileScan lines may print (base + span lineage) but both prune
    # to the same columns; the SPAN side must not shuffle text: no
    # Exchange whose key set includes the text column.
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges and all("text" not in l for l in exchanges)
    assert text_scans  # text is read at scan, not synthesized downstream


def test_doc_signals_single_scan_zero_shuffle(spark, sf_dir):
    """The signals bundle must stay a pure scan-side projection: one
    FileScan, no Exchange of any kind, no join, no aggregate."""
    plan = _physical(spark, "text_doc_signals", sf_dir)
    assert plan.count("FileScan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan and "HashAggregate" not in plan
