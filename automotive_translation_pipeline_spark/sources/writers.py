"""Sink operators (SURVEY §2.1: R-6, R-6b).

The reference writes a single CSV with a UTF-8 BOM and one JSONL request
file per run. In Spark both are distributed writes; the BOM is a
presentation detail of the single-file boundary, applied only when a
caller explicitly asks for a merged single file.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.joins import FAILED_SENTINEL


def write_output_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """R-6: final 3-col output CSV.

    Reference: ``auto_translate.py:938-999`` (utf-8-sig, sentinel
    in-band). Internally failures are NULL; the sentinel is materialized
    here, at the sink — keeping NULL semantics inside the engine.
    """
    out = df.withColumn(
        "translated_sentence",
        F.coalesce(F.col("translated_sentence"), F.lit(FAILED_SENTINEL)),
    )
    if not single_file:
        out.write.mode("overwrite").option("header", True).csv(path)
        return
    tmp = path + "._spark_tmp"
    out.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    with open(part, "rb") as src, open(path, "wb") as dst:
        dst.write(b"\xef\xbb\xbf")  # utf-8-sig BOM, matching the reference sink
        shutil.copyfileobj(src, dst)
    shutil.rmtree(tmp)


def write_layout(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
    zorder_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    files_per_partition: int = 1,
) -> None:
    """Scale-aware parquet layout: the write pattern that decides
    whether a 100 TB table is scannable.

    Three levers, each mapped to the failure it prevents:

    * ``repartition(partition_by)`` before ``partitionBy`` — without
      it every one of the N shuffle tasks writes a file into every one
      of the K partition dirs (N×K small files; at N=10k tasks and
      K=1k days that is 10M files and a dead namenode). With it each
      partition's rows land in ``files_per_partition`` tasks.
    * ``sortWithinPartitions(sort_by)`` — clusters rows so parquet
      row-group min/max stats become selective; a later range filter
      on the sort column skips whole row groups instead of reading
      them. This is the poor man's Z-order for the 1-column case.
    * ``maxRecordsPerFile`` — bounds file size so a skewed partition
      degrades into several well-sized files instead of one 50 GB
      file that a single task must read end-to-end.
    * ``zorder_by`` — multi-column clustering: sorts by an interleaved
      z-order key (``operators/layout.py``) so min/max stats prune on
      ALL the listed columns, not just the first of a lexicographic
      sort. Mutually exclusive with ``sort_by``.
    """
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    out = df
    zkey = "__zkey"
    if zorder_by:
        from ..operators.layout import with_zorder_key

        out = with_zorder_key(out, zorder_by, key_name=zkey)
        sort_by = (zkey,)
        if not partition_by:
            # Disjoint z-ranges per task: without this, every output
            # file spans the whole z-range and stats prune nothing.
            out = out.repartitionByRange(F.col(zkey))
    if partition_by:
        keys = [F.col(c) for c in partition_by]
        if files_per_partition > 1:
            # Salt the distribution so one hot partition value can use
            # several write tasks without interleaving others' files.
            keys = [*keys, (F.rand(seed=7) * files_per_partition).cast("int")]
        out = out.repartition(*keys)
    if sort_by:
        out = out.sortWithinPartitions(*partition_by, *sort_by)
    if zorder_by:
        out = out.drop(zkey)
    writer = out.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def upsert_partitioned(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_col: str,
) -> int:
    """Partition-level copy-on-write MERGE on plain parquet — the
    no-Delta upsert that survives 100 TB.

    A naive upsert reads the whole table, joins, and rewrites the
    whole table. This one touches only the partitions the updates land
    in: (1) the distinct update partition values prune the read to the
    affected directories (partition pruning, not a scan), (2) existing
    rows lose to updates on the key (anti-join), and (3) only those
    partitions are rewritten, atomically, via dynamic partition
    overwrite — untouched partitions' files are never read or moved.
    Cost scales with the size of the TOUCHED partitions, not the
    table. (Delta/Iceberg MERGE does file-level rather than
    partition-level pruning; same principle, finer grain.)

    Returns the number of partitions rewritten.
    """
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not parts:
        return 0
    existing = spark.read.parquet(path).filter(F.col(partition_col).isin(parts))
    keep = existing.join(
        updates.select(*key_cols).distinct(), list(key_cols), "left_anti"
    )
    merged = keep.unionByName(updates.select(*existing.columns))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition(F.col(partition_col))
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return len(parts)


def compact_dir(
    spark,
    path: str,
    target_records_per_file: int = 1_000_000,
    partition_col: str | None = None,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_records_per_file``-row files, atomically.

    Streaming sinks and repeated upserts accumulate files; at 100 TB
    the file COUNT (listing cost, task-per-file scheduling, row groups
    too small for their stats to matter) degrades reads long before
    data size does. This is the OPTIMIZE-equivalent on plain parquet:
    one sized repartition + a directory swap — readers see the old or
    the new layout, never a mix. For partitioned tables pass
    ``partition_col`` so the rewrite keeps the directory structure
    (repartitioned BY the partition column, so each dir gets few
    files).

    Returns (files_before, files_after).
    """
    import glob
    import os
    import shutil

    def _count_files(p: str) -> int:
        return len(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))

    before = _count_files(path)
    df = spark.read.parquet(path)
    n = df.count()
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    if partition_col:
        write_layout(
            df,
            tmp,
            partition_by=(partition_col,),
            max_records_per_file=target_records_per_file,
        )
    else:
        n_files = max(1, -(-n // target_records_per_file))
        df.repartition(n_files).write.mode("overwrite").option(
            "maxRecordsPerFile", target_records_per_file
        ).parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return before, _count_files(path)


def write_request_jsonl(df: DataFrame, path: str) -> None:
    """R-6b: request JSONL sink — one JSON object per line.

    Reference: ``auto_translate.py:303-332``. Input df must already have
    the BATCH_REQUEST shape (custom_id/method/url/body).
    """
    df.select(F.to_json(F.struct("custom_id", "method", "url", "body"))).write.mode(
        "overwrite"
    ).text(path)
