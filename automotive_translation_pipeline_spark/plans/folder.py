"""Folder-orchestrator plan (SURVEY §3.3: batch_auto_translate.py).

The reference fans out one subprocess per CSV through a 3-thread pool
with a 2-hour timeout and regex-scrapes job ids from stdout
(``batch_auto_translate.py:108-229``). In Spark the fan-out disappears:
one job reads ``dir/*.csv`` with ``input_file_name()`` lineage, every
downstream operator shards by source file, and the per-file summary
(X-7's success/failed/timeout taxonomy) is a ``groupBy(source_file)``.

Concurrency is Spark's scheduler; the reference's worker cap maps to
executor/task slots, not hand-rolled thread pools.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.parsing import parse_responses
from ..functions.predicates import is_suspicious
from ..operators.joins import rejoin_results
from ..operators.packing import (
    assign_batches_cumsum,
    materialize_requests,
    with_cost,
)
from ..sources import read_descriptions_dir
from ..translate import translate_requests


def folder_pipeline(
    spark: SparkSession,
    input_dir: str,
    translate_fn=translate_requests,
) -> DataFrame:
    """Run the full translation pipeline over every CSV in a folder in
    ONE Spark job; returns row-level results with file lineage.

    ``translate_fn`` is the X-5 seam: production/mock is
    ``translate_requests``; fault-path testing injects
    ``translate.translate_requests_with_faults`` (X-7 taxonomy) —
    batches that time out / error / lose their download produce no
    content, so their rows surface as ``is_failed`` sentinel rows
    exactly like the reference's failed-subprocess files."""
    docs = read_descriptions_dir(spark, input_dir)
    # R-7 + stem extraction (F-16) for the per-file shard key.
    docs = (
        docs.filter(F.length(F.trim("english_sentence")) > 0)
        .withColumn("english_sentence", F.trim("english_sentence"))
        .withColumn(
            "source_stem",
            F.regexp_extract(F.col("source_file"), r"([^/]+?)(?:\.[^./]+)?$", 1),
        )
        .withColumn(
            "seq",
            F.row_number().over(
                Window.partitionBy("source_stem").orderBy("description_id")
            ),
        )
    )
    costed = with_cost(docs, "english_sentence")
    # Batches never span files (v1 contract: {stem}-batch-NNNN,
    # old_functionalities/jsonl_convertor.py:76-79).
    assigned = assign_batches_cumsum(
        costed, order_col="seq", limit=4000, shard_col="source_stem"
    )
    requests = materialize_requests(assigned)
    responses = translate_fn(requests)
    parsed = parse_responses(responses).drop("strategy")
    expected = assigned.select(
        "batch_id", "description_id", "english_sentence", "source_stem", "seq"
    )
    joined = rejoin_results(expected, parsed)
    return joined.withColumn("is_failed", F.col("translation").isNull()).withColumn(
        "is_suspicious", is_suspicious(F.col("translation"))
    )


def folder_summary(
    spark: SparkSession,
    input_dir: str,
    translate_fn=translate_requests,
) -> DataFrame:
    """X-7's per-file result taxonomy as a groupBy(source) summary
    (reference prints this per subprocess,
    ``batch_auto_translate.py:231-280``). ``translate_fn`` passes
    through to the pipeline (fault injection included)."""
    rows = folder_pipeline(spark, input_dir, translate_fn=translate_fn)
    total = F.count("*")
    failed = F.count(F.when(F.col("is_failed"), 1))
    return rows.groupBy("source_stem").agg(
        total.alias("total_rows"),
        (total - failed).alias("successful"),
        failed.alias("failed"),
        F.round((total - failed) * 100.0 / total, 2).alias("success_rate_pct"),
        F.countDistinct("batch_id").alias("n_batches"),
    )
