"""Structured Streaming surface (SURVEY §2.11, §7 Milestone 5).

The reference's streaming-shaped behaviors and their engine mappings:

* X-3 5-minute poll loop (``auto_translate.py:362-374``) →
  ``trigger(processingTime="300 seconds")`` micro-batches;
* ledger status transitions (§1.6) → ``applyInPandasWithState`` keyed
  by job_id (``ledger_state_stream``), emitting transition records;
* emit-with-placeholder + later repair (``auto_translate.py:977-992``,
  ``analyze`` mode) → ``repair_pass`` as a foreachBatch second chance;
* extension surface: tumbling/sliding window counts + watermark late
  policy and session windows over the events table.

Tests drive these with the file/rate sources; production would swap in
Kafka — the plans are source-agnostic.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

POLL_INTERVAL_SECS = 300  # reference auto_translate.py:33

# --- windowed aggregations (extension surface) ----------------------------


def event_window_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding) per-type counts with a watermark: late rows
    beyond the watermark are dropped deterministically rather than
    blocking state growth — the scale-safe late-data policy."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def event_session_windows(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per user (gap-based) — the reference has no
    sessionization; this is the Structured Streaming extension."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def view_purchase_attribution(
    views: DataFrame,
    purchases: DataFrame,
    horizon_minutes: int = 30,
    view_watermark: str = "60 minutes",
    purchase_watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase is
    attributed to every view by the same user within the preceding
    ``horizon_minutes``. The event-time bound on the join condition is
    what makes this run forever: Spark keeps a view in state only until
    ``view watermark + horizon`` passes it, so state size tracks
    rate × horizon, never the full history. Without the interval bound
    a stream-stream join is an unbounded-state footgun and would OOM at
    production rates. Works identically on batch DataFrames (the same
    plan minus state), which is how the oracle checks it."""
    v = views.withWatermark("ts", view_watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.withWatermark("ts", purchase_watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    # how="left_outer" preserves unattributed purchases (view columns
    # NULL) — in streaming mode Spark emits the NULL side only once the
    # watermark proves no match can still arrive, which is exactly why
    # both sides must carry watermarks here.
    return p.join(v, cond, how).select(
        "purchase_id",
        "view_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "view_ts",
        F.round("purchase_value", 2).alias("purchase_value"),
    )


def attribution_window_counts(
    views: DataFrame,
    purchases: DataFrame,
    horizon_minutes: int = 30,
    window_minutes: int = 60,
) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4's
    multi-stateful-operator support): the watermarked stream-stream
    attribution join feeds a tumbling event-time window aggregation —
    two independent state stores in one query, with the watermark
    propagating through the join into the window operator (the
    pre-3.5 limitation forced an intermediate sink between them).

    Per (event-time window): attributed purchase count and summed
    value in exact integer cents (order-independent — a float sum
    would be engine- and partitioning-order-dependent). Works
    identically on batch inputs (same plan minus state), which is how
    the oracle checks it. Distinct aggregations are unsupported over
    streaming state, so purchaser cardinality is left to a downstream
    ``approx_count_distinct`` if needed.
    """
    joined = view_purchase_attribution(
        views, purchases, horizon_minutes=horizon_minutes
    )
    return (
        joined.groupBy(
            F.window("purchase_ts", f"{window_minutes} minutes").alias("__w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_attributions"),
            F.sum(
                F.floor(F.col("purchase_value") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("attributed_cents"),
        )
        .select(
            F.col("__w.start").alias("window_start"),
            "n_attributions",
            "attributed_cents",
        )
    )


def streaming_upsert_query(
    stream: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    partition_col: str,
    checkpoint_dir: str,
    seq_col: str | None = None,
):
    """CDC-style sink: each micro-batch MERGEs into a partitioned
    parquet table via the partition-level COW upsert
    (``sources.writers.upsert_partitioned``) instead of appending.

    Why this shape: an append sink turns every late correction into a
    duplicate the readers must dedup; upserting by key makes the sink
    IDEMPOTENT — a replayed micro-batch (restart, at-least-once
    source) converges to the same table, which is exactly the
    exactly-once story foreachBatch offers. Merge cost per batch
    scales with the partitions the batch touches, never the table.

    Returns the unstarted ``DataStreamWriter`` (caller picks trigger
    and starts — mirrors the other factories here).
    """
    import os

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if seq_col is not None:
            # Highest sequence per key wins within the micro-batch
            # (CDC ordering made explicit — source arrival order is
            # not a deterministic thing to lean on).
            w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
            deduped = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            deduped = batch_df.dropDuplicates(list(key_cols))
        from ..sources.writers import upsert_partitioned, write_layout

        if not os.path.isdir(path):
            write_layout(deduped, path, partition_by=(partition_col,))
        else:
            upsert_partitioned(
                spark, path, deduped, key_cols=key_cols, partition_col=partition_col
            )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


# --- stateful ledger tracking ---------------------------------------------

LEDGER_STATE_SCHEMA = "job_id string, status string, n_updates long"
_TRANSITION_SCHEMA = (
    "job_id string, prev_status string, status string, n_updates long"
)
_TRANSITION_TWS_SCHEMA = (
    "job_id string, prev_status string, status string, n_updates long, "
    "trail_len long"
)


def streaming_dedup(
    stream: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: at-least-once sources
    (Kafka replays, file redelivery, retried batch jobs) become
    effectively-once. ``dropDuplicatesWithinWatermark`` keeps each key
    only until the watermark passes it, so state size tracks the event
    rate × watermark horizon instead of growing forever — the property
    that makes streaming dedup survive at 100 TB/day. (Plain streaming
    ``dropDuplicates`` without a watermark is an unbounded-state
    footgun and is deliberately not exposed.)"""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def streaming_incremental_dedup(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
):
    """Streaming NEAR-dup detection: each micro-batch of documents is
    MinHash-banded once, probed against the persisted LSH index (every
    document seen so far), self-joined for within-batch pairs, and then
    appended to the index — so after any prefix of batches the emitted
    pair set equals what the batch self-join would have found on the
    union of those batches (equivalence pinned by test).

    This is the streaming face of ``operators.dedup.minhash_lsh_probe``:
    per batch the corpus-sized work is ONE scan of the banded index
    (bands rows per historical doc — narrow), never a re-hash of
    historical text; the batch side broadcasts. State lives in the
    index parquet, not the state store — restartable, inspectable, and
    shared with the batch path (``lsh_banded_table`` written once
    offline bootstraps the stream). At-least-once replay duplicates
    pairs/index rows; downstream ``connected_components`` is
    insensitive to duplicate edges, and exact consumers dedup at read
    (pairs are DISTINCT within a batch already).

    Returns the foreachBatch callable (attach via
    ``stream.writeStream.foreachBatch(...)``).
    """
    from ..operators.dedup import (
        lsh_banded_table,
        minhash_lsh_candidates,
        minhash_lsh_probe,
    )

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        banded = lsh_banded_table(
            batch_df, text_col, id_col, num_hashes, bands, k
        ).localCheckpoint()  # one banding feeds probe + self-join + sink
        within = minhash_lsh_candidates(
            banded, id_col=id_col, max_bucket=max_bucket
        ).select(
            F.col("id_a").alias("new_id"), F.col("id_b").alias("index_id")
        )
        try:
            idx = spark.read.parquet(index_dir)
            has_index = True
        except Exception:
            has_index = False  # first batch: nothing indexed yet
        if has_index:
            cross = minhash_lsh_probe(
                idx, banded, id_col=id_col, max_bucket=max_bucket
            )
            pairs = within.unionByName(cross)
        else:
            pairs = within
        pairs.write.mode("append").parquet(pairs_dir)
        banded.write.mode("append").parquet(index_dir)

    return _process


def _track_job(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-job state machine: remember the last status, emit one row per
    observed transition. State times out after inactivity so completed
    jobs don't pin memory forever."""
    (job_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    prev_status, n = state.get if state.exists else (None, 0)
    out = []
    for pdf in pdfs:
        for _, row in pdf.sort_values("timestamp").iterrows():
            if row["status"] != prev_status:
                out.append((job_id, prev_status, row["status"], n + 1))
            prev_status = row["status"]
            n += 1
    state.update((prev_status, n))
    state.setTimeoutDuration(24 * 3600 * 1000)
    if out:
        yield pd.DataFrame(
            out, columns=["job_id", "prev_status", "status", "n_updates"]
        )


def ledger_state_stream(ledger_events: DataFrame) -> DataFrame:
    """§2.11 stateful tracking: ledger events → status-transition stream
    via applyInPandasWithState keyed by job_id.

    Requires the RocksDB state store (set by our session factory): the
    HDFS-backed default NPEs with Python stateful workers on Spark 4.1,
    and RocksDB is the right provider at scale regardless. Sink must be
    a real sink (file/kafka/foreachBatch) — the memory sink hits the
    same planner bug.
    """
    spark = ledger_events.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return (
        ledger_events.groupBy("job_id")
        .applyInPandasWithState(
            _track_job,
            outputStructType=_TRANSITION_SCHEMA,
            stateStructType="status string, n_updates long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# --- transformWithState job tracker (Spark 4 arbitrary-state API) ---------


class _JobTrackerProcessor(StatefulProcessor):
    """Per-job_id state machine on the Spark 4 `transformWithState`
    API — the successor to applyInPandasWithState with TYPED state
    variables instead of one opaque tuple:

    * a ValueState ``last`` (status string, n_updates long) with a TTL
      — expiry replaces the manual setTimeoutDuration bookkeeping of
      `_track_job`; completed jobs age out of the store automatically;
    * a ListState ``trail`` — the full transition history per job, an
      audit trail the old API could only keep by packing everything
      into the single state tuple (unbounded rewrite per update; the
      ListState append is O(1) per transition in RocksDB).

    Emission contract is identical to `_track_job`: one row per
    observed status CHANGE, carrying the 1-based update ordinal, plus
    the trail depth after the change.
    """

    def __init__(self, ttl_ms: int):
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._last = handle.getValueState(
            "last", "status string, n_updates long", ttlDurationMs=self._ttl_ms
        )
        self._trail = handle.getListState("trail", "status string, at long")

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (job_id,) = key
        prev_status, n = (
            self._last.get() if self._last.exists() else (None, 0)
        )
        out = []
        for pdf in rows:
            for _, row in pdf.sort_values("timestamp").iterrows():
                if row["status"] != prev_status:
                    self._trail.appendValue(
                        (row["status"], int(row["timestamp"]))
                    )
                    trail_len = sum(1 for _ in self._trail.get())
                    out.append(
                        (job_id, prev_status, row["status"], n + 1, trail_len)
                    )
                prev_status = row["status"]
                n += 1
        self._last.update((prev_status, int(n)))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "job_id",
                    "prev_status",
                    "status",
                    "n_updates",
                    "trail_len",
                ],
            )

    def close(self) -> None:
        pass


def ledger_state_stream_tws(
    ledger_events: DataFrame, state_ttl_hours: int = 24
) -> DataFrame:
    """§2.11 stateful tracking on `transformWithStateInPandas`: ledger
    events → status-transition stream keyed by job_id, with TTL'd value
    state and a per-job ListState audit trail. Same transition contract
    as `ledger_state_stream` (parity-tested); requires the RocksDB
    provider, which the TWS operator is designed around — state reads
    are columnar Arrow batches, updates are RocksDB merges, so per-key
    state never round-trips through the JVM row-at-a-time.

    Dependency-gated like `kafka_descriptions_stream`: the TWS state
    protocol speaks protobuf between the JVM and the Python state
    server, so the `protobuf` package must be installed (it is not in
    this container — the processor logic itself is unit-tested against
    a fake handle, and the operator runs wherever `pip install
    protobuf` has happened)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(the JVM<->Python state-server protocol is protobuf-framed). "
            "Install it with: pip install protobuf. "
            "ledger_state_stream (applyInPandasWithState) is the "
            "dependency-free fallback with the same transition contract."
        ) from exc
    spark = ledger_events.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return ledger_events.groupBy("job_id").transformWithStateInPandas(
        statefulProcessor=_JobTrackerProcessor(state_ttl_hours * 3600 * 1000),
        outputStructType=_TRANSITION_TWS_SCHEMA,
        outputMode="append",
        timeMode="ProcessingTime",
    )


# --- repair second pass ---------------------------------------------------


def repair_pass(responses: DataFrame) -> DataFrame:
    """The analyze-mode repair re-run (``auto_translate.py:1339-1396``)
    as a batch transform suitable for ``foreachBatch``: take stored
    responses, re-parse with repair, emit recovered rows."""
    from ..functions.parsing import parse_responses

    return parse_responses(responses).drop("strategy")


def enrich_with_dimension(
    events: DataFrame,
    dim: DataFrame,
    event_key: str,
    dim_key: str,
    attrs: dict[str, str],
    default: str = "UNKNOWN",
) -> DataFrame:
    """Stream-static enrichment: left-join the (micro-batched) event
    stream against a broadcast dimension and coalesce missing
    attributes to ``default``.

    Works identically on a batch DataFrame and a streaming one —
    stream-static joins re-read the static side per micro-batch, and
    the explicit broadcast() keeps every micro-batch join shuffle-free
    on the stream side, which is the only viable plan at streaming
    rates (a shuffling stream join would re-exchange every batch).
    ``attrs`` maps dimension column -> output name.
    """
    proj = dim.select(
        F.col(dim_key).alias("__dk"),
        *[F.col(src).alias(out) for src, out in attrs.items()],
    )
    joined = events.join(
        F.broadcast(proj), events[event_key] == proj["__dk"], "left"
    ).drop("__dk")
    for _, out in attrs.items():
        joined = joined.withColumn(out, F.coalesce(F.col(out), F.lit(default)))
    return joined
