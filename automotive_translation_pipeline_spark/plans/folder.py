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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import read_descriptions_dir
from ..translate import translate_requests
from .pipeline import _translate, file_todo


def folder_todo(spark: SparkSession, input_dir: str) -> DataFrame:
    """R-5 + R-7 + F-16: every CSV in the folder with its file stem
    (``source_stem``), which is also the shard, so batches never span
    files (v1 contract: {stem}-batch-NNNN,
    old_functionalities/jsonl_convertor.py:76-79) and each file packs
    in its own row order, as ``cli translate`` packs it."""
    docs = read_descriptions_dir(spark, input_dir)
    stem = F.regexp_extract(F.col("source_file"), r"([^/]+?)(?:\.[^./]+)?$", 1)
    return file_todo(
        docs.select("description_id", "english_sentence", stem.alias("source_stem")),
        F.col("source_stem"),
    )


def folder_pipeline(
    spark: SparkSession,
    input_dir: str,
    translate_fn=translate_requests,
) -> DataFrame:
    """Run the full translation pipeline over every CSV in a folder in
    ONE Spark job; returns row-level results with file lineage
    (``source_stem``) and the same quality flags as ``cli translate``,
    shift detection included.

    ``translate_fn`` is the X-5 seam: production/mock is
    ``translate_requests``; fault-path testing injects
    ``translate.translate_requests_with_faults`` (X-7 taxonomy) —
    batches that time out / error / lose their download produce no
    content, so their rows surface as ``is_failed`` sentinel rows
    exactly like the reference's failed-subprocess files.

    Lazy: the caller's ``staged()`` scope owns the two cached frames;
    ``cli batch`` runs the ``pipeline.translating`` scope instead."""
    rows = _translate(folder_todo(spark, input_dir), 4000, translate_fn)
    return rows.drop("shard")


def summarize_files(rows: DataFrame) -> DataFrame:
    """X-7's per-file result taxonomy over folder rows: one row per
    ``source_stem`` (reference prints this per subprocess,
    ``batch_auto_translate.py:231-280``)."""
    total = F.count("*")
    failed = F.count(F.when(F.col("is_failed"), 1))
    return rows.groupBy("source_stem").agg(
        total.alias("total_rows"),
        (total - failed).alias("successful"),
        failed.alias("failed"),
        F.round((total - failed) * 100.0 / total, 2).alias("success_rate_pct"),
        F.countDistinct("batch_id").alias("n_batches"),
    )


def folder_summary(
    spark: SparkSession,
    input_dir: str,
    translate_fn=translate_requests,
) -> DataFrame:
    """:func:`summarize_files` over :func:`folder_pipeline`.
    ``translate_fn`` passes through to the pipeline (fault injection
    included)."""
    return summarize_files(
        folder_pipeline(spark, input_dir, translate_fn=translate_fn)
    )
