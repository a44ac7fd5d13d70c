"""The flagship end-to-end plan (SURVEY §3.1 / §7 Milestone 1):

    scan → filter/trim → anti-join dedup → token-aware pack →
    translate (grouped UDF) → parse cascade → re-join + sentinel →
    quality flags (suspicious / shift) → run summary

This is the reference's whole ``run_translation_pipeline``
(``auto_translate.py:1761-1857``) as ONE declarative DataFrame plan:
Catalyst fuses the scan/filter/projection, the pack is a per-shard
window, translate and the repair+parse kernel are the only Python
stages (row-local, one Arrow pass each), and everything after them is
joins/windows/aggregates that AQE sizes at runtime.

:func:`_translate` composes that chain once: ``cli translate``, ``cli
batch`` and the streaming ``foreachBatch`` run it through the
:func:`translating` scope, the catalog through :func:`translate_docs`.

Scale shape: shuffles are (1) the pack window on (shard), (2) the
groupBy(batch_id) materialization, (3) the re-join on
(batch_id, description_id). All key-partitioned; nothing global.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parsing import parse_responses
from ..functions.predicates import is_suspicious
from ..operators.aggregates import run_summary
from ..operators.dedup import anti_join_dedup
from ..operators.joins import rejoin_results
from ..operators.packing import (
    assign_batches_cumsum,
    materialize_requests,
    with_cost,
)
from ..operators.staging import stage, staged
from ..operators.windows import shift_flags
from ..sources import load_testdata
from ..translate import translate_requests


def nonempty_trimmed(docs: DataFrame) -> DataFrame:
    """R-7: drop rows whose ``english_sentence`` is empty after trimming,
    and trim the rest (reference ``auto_translate.py:267-275``)."""
    return docs.filter(F.length(F.trim(F.col("english_sentence"))) > 0).withColumn(
        "english_sentence", F.trim(F.col("english_sentence"))
    )


def file_todo(docs: DataFrame, shard: Column) -> DataFrame:
    """The todo for rows read from CSV files: R-7 trim, ``shard`` as
    given, and ``seq`` in input-file order (the reference's
    ``csv.reader`` order). ``monotonically_increasing_id()`` grows along
    each scan partition, and Spark orders one file's splits by offset,
    so it follows each file; it is an order key for the pack and the
    shift flags, not a row number."""
    return nonempty_trimmed(docs).withColumn("shard", shard).withColumn(
        "seq", F.monotonically_increasing_id()
    )


def _pack(todo: DataFrame, limit: int) -> DataFrame:
    """R-17: token-cost pack (per-shard window)."""
    costed = with_cost(todo, "english_sentence")
    return assign_batches_cumsum(
        costed, order_col="seq", limit=limit, shard_col="shard"
    )


def _parse_responses(responses: DataFrame) -> DataFrame:
    """F-13 → F-7/F-8: repair-then-parse in one Arrow-batched Python
    pass, one (batch_id, description_id, translation) row per parsed id."""
    return parse_responses(responses).drop("strategy")


def _rejoin_and_flag(
    assigned: DataFrame, columns: list[str], parsed: DataFrame
) -> DataFrame:
    """R-13/R-14 + R-10 + R-26/R-27: join back onto the expected rows
    (``batch_id`` plus ``columns`` of ``assigned``; NULL marks failure)
    and attach the quality flags."""
    expected = assigned.select("batch_id", *columns)
    joined = rejoin_results(expected, parsed)
    flagged = joined.withColumn(
        "is_failed", F.col("translation").isNull()
    ).withColumn("is_suspicious", is_suspicious(F.col("translation")))
    return shift_flags(flagged, batch_col="batch_id", order_col="seq")


def _translate(todo: DataFrame, limit: int, translate_fn) -> DataFrame:
    """The one composition of the chain; returns the flagged rows, whose
    plan reads two staged (cached) frames. ``translate_fn`` is the X-5
    seam: ``translate_requests`` (mock or live), or a fault-injecting
    map passed through ``folder_pipeline``."""
    # The batch assignment feeds BOTH the request materialization and
    # the expected-rows join side; uncached, Spark recomputes the
    # scan→filter→anti-join→window chain per consumer (4 source scans
    # in the physical plan). The cache is the staging point — the
    # reference kept this same artifact in driver memory
    # (auto_translate.py:340,932-935); on a cluster it's a
    # MEMORY_AND_DISK cache or an intermediate table write.
    assigned = stage(_pack(todo, limit), "cache")

    # X-5: the grouped translate map (mock in the harness). Cached:
    # the responses are the one paid, per-batch LLM call; every further
    # action on the result (a count, then a write) re-reads them instead
    # of calling the translator again. One row per batch, so the cache
    # is small.
    responses = stage(translate_fn(materialize_requests(assigned)), "cache")
    return _rejoin_and_flag(assigned, todo.columns, _parse_responses(responses))


@contextmanager
def translating(todo: DataFrame, limit: int = 4000) -> Iterator[DataFrame]:
    """The pipeline core as a scope: pack → translate → parse/repair →
    re-join → quality flags. ``todo`` carries (description_id,
    english_sentence, shard, seq), already filtered and deduplicated;
    its columns ride through, and batch ids are ``{shard}-N``.
    It is an ``operators.staging.staged`` scope: the two cached frames
    are released on exit, also on error, so run every action on the
    rows inside the ``with``."""
    with staged():
        yield _translate(todo, limit, translate_requests)


def translate_docs(todo: DataFrame, limit: int = 4000) -> DataFrame:
    """:func:`translating` as a plain lazy DataFrame, for callers that
    only plan (the catalog, the benchmark); the caller's ``staged()``
    scope owns its two cached frames."""
    return _translate(todo, limit, translate_requests)


def _stage_table(
    spark: SparkSession, df: DataFrame, name: str, buckets: int
) -> DataFrame:
    """Write ``df`` as a bucketed+sorted managed table on batch_id and
    return the table-backed DataFrame. Drops any previous incarnation —
    including a stale warehouse directory left by an earlier session
    (the in-memory Derby metastore forgets the table, the location
    survives, and saveAsTable then refuses with
    LOCATION_ALREADY_EXISTS)."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
    (
        df.write.bucketBy(buckets, "batch_id")
        .sortBy("batch_id", "description_id")
        .mode("overwrite")
        .saveAsTable(name)
    )
    return spark.table(name)


def translate_docs_staged(
    spark: SparkSession,
    todo: DataFrame,
    limit: int = 4000,
    buckets: int = 32,
    prefix: str = "atp_stage",
) -> DataFrame:
    """Staged variant of :func:`translate_docs`: the packed assignment
    and the parsed results are persisted as bucketed+sorted tables on
    ``batch_id`` before the re-join — the multi-job / service topology.

    In the real async-batch lifecycle (§3.1: submit … poll … fetch)
    pack and re-join run in DIFFERENT jobs, possibly hours apart —
    ``persist()`` doesn't survive that, and re-deriving the pack means
    re-scanning the source. Writing both keyed stores bucketed by
    ``batch_id`` makes every later consumer shuffle-free: the bucketed
    scan's hashpartitioning(batch_id) satisfies the re-join's clustered
    distribution on (batch_id, description_id), the build-side
    dropDuplicates, AND the shift-window's partitionBy(batch_id) — the
    plan between the staged scans and the output has no Exchange at
    all (guarded by a plan-contract test). At 100 TB this is the
    difference between one bounded write per stage and a full fact
    shuffle per downstream job.
    """
    # Both stores are bucketed by batch_id ALONE (the window/regroup
    # key), while the re-join adds description_id. Co-partitioning on a
    # subset of the join keys is sufficient (rows with equal full keys
    # share a bucket) but Spark only accepts it with this conf off —
    # otherwise it re-shuffles both sides onto the full key pair.
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    assigned = _pack(todo, limit)
    staged_expected = _stage_table(spark, assigned, f"{prefix}_expected", buckets)

    responses = translate_requests(materialize_requests(staged_expected))
    parsed = _parse_responses(responses)
    staged_parsed = _stage_table(spark, parsed, f"{prefix}_parsed", buckets)
    return _rejoin_and_flag(staged_expected, todo.columns, staged_parsed)


def translation_pipeline(
    spark: SparkSession,
    sf_dir: str,
    done_mod: int = 7,
    limit: int = 4000,
) -> DataFrame:
    """Row-level flagship output: one row per surviving input document
    with its (mock) translation and quality flags.

    The `documents` table plays the descriptions CSV; docs whose id is
    ``0 mod done_mod`` play the already-translated table for the R-12
    anti-join (deterministic, so the DuckDB oracle can reproduce it).
    """
    todo = _flagship_todo(spark, sf_dir, done_mod)
    return translate_docs(todo, limit=limit)


def _flagship_todo(spark: SparkSession, sf_dir: str, done_mod: int) -> DataFrame:
    """Scan + R-7 filter/trim + R-12 anti-join for the flagship input."""
    t = load_testdata(spark, sf_dir)
    docs = t["documents"].select(
        F.col("doc_id").cast("string").alias("description_id"),
        F.col("text").alias("english_sentence"),
        F.col("lang").alias("shard"),
        F.col("doc_id").alias("seq"),
    )
    docs = nonempty_trimmed(docs)
    # R-12: anti-join against the already-done set.
    done = docs.filter(F.col("seq") % done_mod == 0).select("description_id")
    return anti_join_dedup(docs, done)


def translation_pipeline_staged(
    spark: SparkSession,
    sf_dir: str,
    done_mod: int = 7,
    limit: int = 4000,
    buckets: int = 32,
) -> DataFrame:
    """Flagship via the bucketed-staging topology (same rows as
    :func:`translation_pipeline`; oracle-checked against the same SQL
    replica)."""
    todo = _flagship_todo(spark, sf_dir, done_mod)
    return translate_docs_staged(
        spark, todo, limit=limit, buckets=buckets, prefix="atp_stage_flagship"
    )


def translation_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-20 run summary over the flagship pipeline — the ``entry()``
    DataFrame."""
    return run_summary(translation_pipeline(spark, sf_dir))
