"""operators.staging: one helper materializes intermediates and one scope
releases them. A scope's frames are gone when it exits (also on error),
a checkpoint read after its scope fails loudly, no scope means no
reference is held, and every scoped caller leaves the session's
persisted RDDs and block storage as it found them."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

import bench
from automotive_translation_pipeline_spark import queries_catalog as qc
from automotive_translation_pipeline_spark.operators import staging
from automotive_translation_pipeline_spark.operators.staging import stage, staged

# Every catalog entry whose build reaches a stage() site.
STAGING_ENTRIES = [
    "pipeline_rows",
    "pipeline_summary",
    "dedup_minhash_candidates",
    "dedup_components",
    "dedup_ngram_jaccard",
    "dedup_canonical_survivors",
    "dedup_winnow_pairs",
    "graph_pagerank_dup_hubs",
    "graph_triangle_counts",
    "sql_recursive_bfs_hops",
    "text_unigram_surprisal",
    "text_perplexity_buckets",
    "text_bigram_surprisal",
    "text_bpe_train_merges",
    "text_bpe_tokenize_stats",
    "sample_dsir_weights",
    "curation_full_pipeline",
    "tpch_q15_top_supplier",
    "search_rrf_hybrid",
    "profile_psi_drift",
    "basket_brand_lift",
]


def resident(spark):
    """The persisted RDD ids and the ids of RDDs holding blocks."""
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keySet().toArray())
    stored = {info.id() for info in jsc.sc().getRDDStorageInfo()}
    return persisted, stored


def left_behind(spark, before):
    """What is resident now and was not in ``before`` (an earlier test's
    frame may be garbage-collected meanwhile, so only additions count)."""
    persisted, stored = resident(spark)
    return persisted - before[0], stored - before[1]


def test_scope_releases_every_form(spark):
    before = resident(spark)
    df = spark.range(200).withColumn("x", F.col("id") * 2)
    with staged():
        frames = [stage(df), stage(df.filter("id > 3"), "lazy"),
                  stage(df.filter("id > 5"), "cache")]
        assert [f.count() for f in frames] == [200, 196, 194]
        persisted, stored = resident(spark)
        assert len(persisted - before[0]) == 3
        assert len(stored - before[1]) == 3
    assert left_behind(spark, before) == (set(), set())


def test_checkpoint_read_after_its_scope_raises(spark):
    with staged():
        df = stage(spark.range(50).withColumn("y", F.col("id") + 1))
        assert df.count() == 50
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.count()


def test_error_inside_scope_still_releases(spark):
    before = resident(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with staged():
            stage(spark.range(30)).count()
            stage(spark.range(40), "cache").count()
            raise RuntimeError("boom")
    assert left_behind(spark, before) == (set(), set())


def test_no_scope_holds_no_reference(spark):
    """Outside a scope stage() only materializes; nothing is recorded,
    and release() frees the frame on demand."""
    assert staging._scope.get() is None
    df = stage(spark.range(20))
    assert df.count() == 20 and staging._scope.get() is None
    before = resident(spark)
    staging.release(df)
    persisted, stored = resident(spark)
    assert len(before[0] - persisted) == 1 and len(before[1] - stored) == 1


def test_scope_belongs_to_its_thread(spark):
    """A frame staged on another thread while this thread's scope is
    open is not this scope's to release."""
    other = []
    with staged():
        t = threading.Thread(target=lambda: other.append(stage(spark.range(10))))
        t.start()
        t.join()
    assert other[0].count() == 10
    staging.release(other[0])


@pytest.mark.parametrize("name", STAGING_ENTRIES)
def test_bench_measure_leaves_nothing_resident(spark, sf_dir, name):
    before = resident(spark)
    bench.measure(spark, qc.queries()[name], sf_dir)
    assert left_behind(spark, before) == (set(), set())


def test_streaming_incremental_dedup_batch_leaves_nothing_resident(
    spark, sf_dir, tmp_path
):
    """Both micro-batch paths (first batch: no index yet; later batch:
    probe the index) release their banded checkpoint."""
    from automotive_translation_pipeline_spark.sources import load_testdata
    from automotive_translation_pipeline_spark.streaming.jobs import (
        streaming_incremental_dedup,
    )

    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "text")
    process = streaming_incremental_dedup(
        None, str(tmp_path / "index"), str(tmp_path / "pairs")
    )
    for i in range(2):
        before = resident(spark)
        process(docs.filter(F.col("doc_id") % 2 == i), i)
        assert left_behind(spark, before) == (set(), set())
    assert spark.read.parquet(str(tmp_path / "index")).count() > 0
