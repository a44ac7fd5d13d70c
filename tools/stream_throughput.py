"""Sustained streaming throughput (round 10, VERDICT r9 #8).

The streaming paths have correctness + restart tests and batch-side
SPOT numbers, but no sustained-throughput artifact — "runs fine in
tests, unknown under load". This tool closes that: it feeds a real
document volume through the streaming machinery in MULTIPLE
micro-batches with checkpointing on, and reports end-to-end rows/s
plus the per-micro-batch cadence from the query's own progress events.

Two jobs:

- ``flagship``: documents → CSV landing folder → file stream →
  foreachBatch(pipeline.translating) → parquet sink + ledger transitions —
  the full reference lifecycle (SURVEY §3.1) under streaming delivery.
- ``incr_dedup``: documents → rate-limited file stream →
  foreachBatch MinHash-band + probe-persisted-LSH-index + append —
  the streaming face of the incremental dedup path.

    python tools/stream_throughput.py --sf /root/testdata/sf0.1 \
        --job flagship --files 32 --files-per-trigger 8

Prints one JSON line:
{"job": ..., "rows": N, "wall_s": ..., "rows_per_sec": ...,
 "micro_batches": k, "batch_secs": [...], "sf_dir": ...}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stage_csvs(spark, sf_dir: str, landing: str, n_files: int) -> int:
    """Materialize the documents table as n_files CSVs in the landing
    folder (the reference's operational input shape) and return the
    row count."""
    from automotive_translation_pipeline_spark.sources import load_testdata
    from pyspark.sql import functions as F

    docs = (
        load_testdata(spark, sf_dir)["documents"]
        .select(
            F.col("doc_id").cast("string").alias("description_id"),
            F.col("text").alias("english_sentence"),
        )
        .filter(F.length(F.trim("english_sentence")) > 0)
    )
    n = docs.count()
    docs.repartition(n_files).write.mode("overwrite").option(
        "header", True
    ).csv(landing)
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--job", choices=["flagship", "incr_dedup"],
                    default="flagship")
    ap.add_argument("--files", type=int, default=32,
                    help="CSV files staged into the landing folder")
    ap.add_argument("--files-per-trigger", type=int, default=8,
                    help="micro-batch size in files (backpressure bound)")
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from automotive_translation_pipeline_spark.session import get_spark

    spark = get_spark(app_name="atp_stream_throughput", cpus=args.cpus)
    work = tempfile.mkdtemp(prefix="atp_stream_tp_")
    landing = os.path.join(work, "landing")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        n_rows = _stage_csvs(spark, args.sf, landing, args.files)

        if args.job == "flagship":
            from automotive_translation_pipeline_spark.ledger import Ledger
            from automotive_translation_pipeline_spark.schemas import (
                DESCRIPTIONS,
            )
            from automotive_translation_pipeline_spark.streaming.flagship import (
                run_streaming_translation,
            )

            stream = (
                spark.readStream.schema(DESCRIPTIONS)
                .option("header", True)
                .option("maxFilesPerTrigger", args.files_per_trigger)
                .csv(f"{landing}/*.csv")
            )
            ledger = Ledger(spark, os.path.join(work, "ledger"))
            t0 = time.time()
            q = run_streaming_translation(
                spark, landing, out, ckpt, ledger=ledger, source=stream
            )
            q.awaitTermination()
            wall = time.time() - t0
            done = spark.read.parquet(out).count()
        else:
            from automotive_translation_pipeline_spark.streaming.jobs import (
                streaming_incremental_dedup,
            )
            from pyspark.sql.types import (
                StringType, StructField, StructType,
            )

            schema = StructType([
                StructField("description_id", StringType()),
                StructField("english_sentence", StringType()),
            ])
            stream = (
                spark.readStream.schema(schema)
                .option("header", True)
                .option("maxFilesPerTrigger", args.files_per_trigger)
                .csv(f"{landing}/*.csv")
                .selectExpr(
                    "description_id AS doc_id",
                    "english_sentence AS text",
                )
            )
            process = streaming_incremental_dedup(
                stream,
                index_dir=os.path.join(work, "lsh_index"),
                pairs_dir=os.path.join(work, "pairs"),
            )
            t0 = time.time()
            q = (
                stream.writeStream.foreachBatch(process)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            wall = time.time() - t0
            done = n_rows  # every input row is banded + probed + indexed

        def _prog(p) -> dict:
            # recentProgress items are dicts on some pyspark versions,
            # StreamingQueryProgress objects (with .json) on others.
            return p if isinstance(p, dict) else json.loads(p.json)

        progress = [
            {
                "rows": d["numInputRows"],
                "sec": round(
                    d["durationMs"].get("triggerExecution", 0) / 1000.0, 3
                ),
            }
            for d in (_prog(p) for p in q.recentProgress)
            if d["numInputRows"]
        ]
        print(json.dumps({
            "job": args.job,
            "sf_dir": args.sf,
            "files": args.files,
            "files_per_trigger": args.files_per_trigger,
            "rows": done,
            "input_rows": n_rows,
            "wall_s": round(wall, 3),
            "rows_per_sec": round(done / max(wall, 1e-9), 1),
            "micro_batches": len(progress),
            "batch_secs": [p["sec"] for p in progress],
            "batch_rows": [p["rows"] for p in progress],
            "cpus": args.cpus,
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
