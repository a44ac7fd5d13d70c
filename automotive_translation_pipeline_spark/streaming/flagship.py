"""The flagship pipeline as a streaming service (SURVEY §3.1 + §2.11).

CSV files land in a watched folder (the reference's operational reality:
``batch_auto_translate`` pointed at a directory); each micro-batch runs
the SAME ``plans.pipeline.translating`` fragment as ``cli translate``
via ``foreachBatch``, appends row-level results to a parquet sink, and
records per-micro-batch job status in the ledger — submitted on entry,
completed/failed on exit, exactly the reference's §1.6 state machine.

foreachBatch (not a pure streaming plan) is the right tool here: the
pack window and the grouped translate UDF need full-micro-batch
semantics.

Delivery is at-least-once: ``foreachBatch`` replays an uncommitted
micro-batch, and neither the sink append (not keyed by micro-batch id)
nor the ledger update commits with the other. A run that dies after a
micro-batch's write, before its ledger ``completed``, appends the same
rows again on restart (48 rows for 24 ids in one such test).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..ledger import Ledger
from ..plans.pipeline import nonempty_trimmed, translating
from ..schemas import DESCRIPTIONS


def kafka_descriptions_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int = 100_000,
) -> DataFrame:
    """Kafka source variant of the descriptions stream: one record per
    document, ``key = description_id``, ``value = english_sentence``
    (UTF-8). ``maxOffsetsPerTrigger`` is the backpressure bound — it
    caps each micro-batch at a fixed record budget so a backlog drains in
    bounded-size batches instead of one giant catch-up batch.

    Requires the ``spark-sql-kafka`` package on the classpath (not
    bundled with pip pyspark); raises a clear error when absent so
    callers can fall back to the file source.
    """
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
            .load()
        )
    except Exception as e:  # pragma: no cover - needs the kafka jar
        raise RuntimeError(
            "Kafka source unavailable: the spark-sql-kafka package is not "
            "on the classpath (start Spark with --packages "
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>). "
            f"Underlying error: {e}"
        ) from e
    return raw.select(
        F.col("key").cast("string").alias("description_id"),
        F.col("value").cast("string").alias("english_sentence"),
    )


def file_descriptions_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File source for the descriptions stream (the reference's
    operational reality: CSVs landing in a folder).
    ``maxFilesPerTrigger`` is the file-source backpressure bound."""
    return (
        spark.readStream.schema(DESCRIPTIONS)
        .option("header", True)
        .option("maxFilesPerTrigger", 16)
        .csv(f"{input_dir}/*.csv")
    )


def run_streaming_translation(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint: str,
    ledger: Ledger | None = None,
    limit: int = 4000,
    trigger_secs: int | None = None,
    source: DataFrame | None = None,
) -> StreamingQuery:
    """Start the service. ``trigger_secs=None`` → availableNow (drain
    what's there and stop — the test/backfill mode); otherwise a
    processing-time trigger (the reference's 300 s cadence).

    ``source`` overrides the default file stream with any streaming
    DataFrame carrying (description_id, english_sentence) — e.g.
    :func:`kafka_descriptions_stream`."""
    stream = source if source is not None else file_descriptions_stream(
        spark, input_dir
    )

    def process(batch_df, micro_batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        job_id = f"batch_mb{micro_batch_id}"
        if ledger is not None:
            ledger.append(
                [
                    {
                        "batch_id": f"stream_{micro_batch_id}",
                        "input_file": input_dir,
                        "job_id": job_id,
                        "status": "in_progress",
                        "timestamp": int(time.time()),
                        "target_language": "mock",
                    }
                ]
            )
        try:
            # Shard per micro-batch: batch ids stay unique across
            # triggers without global coordination.
            todo = (
                nonempty_trimmed(batch_df)
                .withColumn("shard", F.lit(f"mb{micro_batch_id}"))
                .withColumn(
                    "seq",
                    F.row_number().over(
                        Window.partitionBy("shard").orderBy("description_id")
                    ),
                )
            )
            with translating(todo, limit=limit) as result:
                result.select(
                    "batch_id",
                    "description_id",
                    "english_sentence",
                    "translation",
                    "is_failed",
                    "is_suspicious",
                    "shift_suspect",
                ).write.mode("append").parquet(output_path)
            if ledger is not None:
                ledger.update_status(job_id, "completed", output_file=output_path)
        except Exception:
            if ledger is not None:
                ledger.update_status(job_id, "failed")
            raise

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_secs is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.queryName("streaming_translation").start()
