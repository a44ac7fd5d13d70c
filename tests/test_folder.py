"""Folder-orchestrator plan tests (SURVEY §3.3): multi-CSV input in one
Spark job with per-file lineage."""

from __future__ import annotations

import pyspark.sql.functions as F

from automotive_translation_pipeline_spark.operators.staging import stage, staged
from automotive_translation_pipeline_spark.plans.folder import (
    folder_pipeline,
    folder_summary,
)


def _write_csvs(tmp_path, n_files=3, rows_per_file=20):
    d = tmp_path / "csvs"
    d.mkdir()
    for f in range(n_files):
        lines = ["description_id,english_sentence"]
        for i in range(rows_per_file):
            lines.append(f"F{f}R{i:03d},sentence {i} from file {f} with words")
        # One blank row per file to exercise R-7.
        lines.append(f"F{f}BLANK,   ")
        (d / f"input_{f}.csv").write_text("\n".join(lines) + "\n")
    return str(d)


def test_folder_pipeline_lineage(spark, tmp_path):
    d = _write_csvs(tmp_path)
    rows = folder_pipeline(spark, d)
    stems = {r["source_stem"] for r in rows.select("source_stem").distinct().collect()}
    assert stems == {"input_0", "input_1", "input_2"}
    # Blank rows filtered; 20 rows per file survive.
    counts = {
        r["source_stem"]: r["n"]
        for r in rows.groupBy("source_stem").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"input_0": 20, "input_1": 20, "input_2": 20}
    # Batches never span files.
    cross = (
        rows.select("batch_id", "source_stem")
        .distinct()
        .groupBy("batch_id")
        .agg(F.countDistinct("source_stem").alias("n_files"))
        .filter(F.col("n_files") > 1)
    )
    assert cross.count() == 0
    # Batch ids are {stem}-N, each within its own file.
    assert rows.filter(
        ~F.col("batch_id").startswith(F.concat("source_stem", F.lit("-")))
    ).isEmpty()
    # Shift detection runs per file, like the reference's per-file
    # pipeline: the flag is on every row and never NULL.
    assert rows.columns == [
        "batch_id", "description_id", "english_sentence", "source_stem",
        "seq", "translation", "is_failed", "is_suspicious", "shift_suspect",
    ]
    assert rows.filter(F.col("shift_suspect").isNull()).isEmpty()

    # `cli batch` writes the same rows: per-stem CSVs of 3 columns, with
    # the stem as the partition directory (4 columns read back).
    from automotive_translation_pipeline_spark import cli

    out = tmp_path / "out"
    cli.cmd_batch(spark, d, "German", str(out))
    back = spark.read.option("header", True).csv(str(out))
    assert back.columns == [
        "description_id", "english_sentence", "translated_sentence", "source_stem",
    ]
    got = {(r["source_stem"], r["description_id"]) for r in back.collect()}
    want = {
        (r["source_stem"], r["description_id"])
        for r in rows.select("source_stem", "description_id").collect()
    }
    assert got == want


def test_folder_pipeline_fault_taxonomy(spark, tmp_path):
    """X-7: drive the folder plan through injected timeout / api_error /
    download_failed paths (reference batch_auto_translate.py:146-186).
    Rows of faulted batches must ALL surface as failed (the reference's
    failed-subprocess file → sentinel rows); completed batches must
    translate normally."""
    from automotive_translation_pipeline_spark.translate import (
        batch_status,
        translate_requests_with_faults,
    )

    d = tmp_path / "csvs"
    d.mkdir()
    # ~263 cost/row × 50 rows ≈ 4 batches per file, so batch ids
    # input_{0,1,2}-{0..3} exist — their md5 fault buckets cover all
    # four statuses deterministically.
    for f in range(3):
        lines = ["description_id,english_sentence"]
        for i in range(50):
            text = f"sentence {i} file {f} " + "diagnostic " * 30
            lines.append(f"F{f}R{i:03d},{text.strip()}")
        (d / f"input_{f}.csv").write_text("\n".join(lines) + "\n")

    with staged():
        rows = stage(
            folder_pipeline(spark, str(d), translate_fn=translate_requests_with_faults),
            "cache",
        )
        expected = {
            r["batch_id"]: r["status"]
            for r in rows.select("batch_id")
            .distinct()
            .withColumn("status", batch_status(F.col("batch_id")))
            .collect()
        }
        assert set(expected.values()) == {
            "completed", "timeout", "api_error", "download_failed"
        }
        per_batch = {
            r["batch_id"]: (r["n_failed"], r["n"])
            for r in rows.groupBy("batch_id")
            .agg(
                F.sum(F.when(F.col("is_failed"), 1).otherwise(0)).alias("n_failed"),
                F.count("*").alias("n"),
            )
            .collect()
        }
    for bid, (n_failed, n) in per_batch.items():
        if expected[bid] == "completed":
            assert n_failed < n, f"{bid} completed but all rows failed"
        else:
            assert n_failed == n, f"{bid} {expected[bid]} leaked translations"


def test_folder_summary(spark, tmp_path):
    d = _write_csvs(tmp_path, n_files=2, rows_per_file=15)
    s = {r["source_stem"]: r for r in folder_summary(spark, d).collect()}
    assert set(s) == {"input_0", "input_1"}
    for r in s.values():
        assert r["total_rows"] == 15
        assert r["successful"] + r["failed"] == 15
        assert r["n_batches"] >= 1
