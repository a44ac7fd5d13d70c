"""Batch-tracking ledger (SURVEY §1.6, §2.1 R-6c, §7 Milestone 4).

The reference keeps a mutable CSV it rewrites in full for every status
update (``update_batch_status``, ``auto_translate.py:159-205``) — a
pattern that cannot survive concurrent writers or scale. The engine
replaces it with the append-only design its own guide claims
(BATCH_TRACKING_GUIDE.md:196-201):

* every status transition is an APPENDED event row;
* the "current" table is a latest-wins VIEW
  (``row_number() OVER (PARTITION BY job_id ORDER BY ts DESC) = 1``);
* on a real deployment the parquet append becomes a Delta/Iceberg
  MERGE — the read semantics stay identical.

All reader operations from the reference's ``batch_tracker.py`` CLI are
provided: filtered scan (R-8), point lookup (R-9), status counts (R-22),
language counts (R-23), recent top-k (R-28).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .schemas import LEDGER
from .sources import local_frame

# Terminal + transient states (BATCH_TRACKING_GUIDE.md:169-182).
TERMINAL_STATUSES = ("completed", "failed", "download_failed")


def delta_available(spark: SparkSession) -> bool:
    """Probe for a usable Delta Lake runtime: the ``delta-spark``
    package must import AND the session must carry the Delta SQL
    extension (jar on the classpath). Both are absent in this
    container — the probe is the gate, mirroring the Kafka factory and
    PIL-decode gates."""
    try:
        from delta.tables import DeltaTable  # noqa: F401, PLC0415
    except ImportError:
        return False
    return "DeltaSparkSessionExtension" in (
        spark.conf.get("spark.sql.extensions", "") or ""
    )


class Ledger:
    """Append-only ledger over a parquet directory.

    ``storage`` picks the upsert strategy behind ``merge()``:
    ``"auto"`` (default) uses Delta ``MERGE INTO`` when
    ``delta_available`` says the runtime has it, else the append +
    latest-wins path; ``"parquet"`` / ``"delta"`` force one. The READ
    semantics of ``current()`` are identical either way — that is the
    contract ``tests/test_ledger.py`` asserts."""

    def __init__(self, spark: SparkSession, path: str, storage: str = "auto"):
        self.spark = spark
        self.path = path
        if storage == "auto":
            storage = "delta" if delta_available(spark) else "parquet"
        if storage == "delta" and not delta_available(spark):
            raise RuntimeError(
                "storage='delta' but no Delta runtime: install delta-spark "
                "and add the delta jar + DeltaSparkSessionExtension to the "
                "session (this container has neither) — use storage="
                "'parquet' for the append + latest-wins fallback"
            )
        self.storage = storage

    # -- writes (append-only; R-6c) ------------------------------------

    def append(self, rows: list[dict]) -> None:
        """Append event rows. ``timestamp`` defaults to now (unix s)."""
        now = int(time.time())
        normalized = [
            {
                "batch_id": r["batch_id"],
                "input_file": r.get("input_file"),
                "job_id": r["job_id"],
                "status": r["status"],
                "timestamp": int(r.get("timestamp", now)),
                "target_language": r.get("target_language"),
                "output_file": r.get("output_file"),
            }
            for r in rows
        ]
        writer = local_frame(self.spark, normalized, LEDGER).write.mode(
            "append"
        )
        if self.storage == "delta":
            writer.format("delta").save(self.path)
        else:
            writer.parquet(self.path)

    def update_status(
        self, job_id: str, status: str, output_file: str | None = None
    ) -> None:
        """Status transition = append a new event for the job (the
        reference's read-all/rewrite-all is deliberately NOT ported)."""
        current = self.get(job_id)
        if current is None:
            raise KeyError(f"unknown job_id: {job_id}")
        row = current.asDict()
        row.update(
            status=status,
            timestamp=int(time.time()),
            output_file=output_file or row.get("output_file"),
        )
        self.append([row])

    def merge(self, rows: list[dict]) -> None:
        """Upsert by job_id — ROADMAP #7's Delta MERGE, jar-gated.

        Delta storage: a real ``MERGE INTO`` keyed on job_id
        (whenMatchedUpdateAll / whenNotMatchedInsertAll); the table
        holds one row per job and history lives in the Delta log (time
        travel), so ``current()`` short-circuits to a plain read.
        Parquet storage: merge IS append — the latest-wins view gives
        the same upsert read semantics, which the contract test pins.
        """
        if self.storage != "delta":
            self.append(rows)
            return
        from delta.tables import DeltaTable  # noqa: PLC0415 — gated above

        now = int(time.time())
        src = local_frame(
            self.spark,
            [
                {
                    "batch_id": r["batch_id"],
                    "input_file": r.get("input_file"),
                    "job_id": r["job_id"],
                    "status": r["status"],
                    "timestamp": int(r.get("timestamp", now)),
                    "target_language": r.get("target_language"),
                    "output_file": r.get("output_file"),
                }
                for r in rows
            ],
            LEDGER,
        )
        if not DeltaTable.isDeltaTable(self.spark, self.path):
            src.write.format("delta").mode("append").save(self.path)
            return
        (
            DeltaTable.forPath(self.spark, self.path)
            .alias("t")
            .merge(src.alias("s"), "t.job_id = s.job_id")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )

    # -- reads (all through the latest-wins view) ----------------------

    def events(self) -> DataFrame:
        """The raw append log (full history — the audit trail the
        reference loses when it rewrites the file). Delta storage keeps
        one row per job instead; its history is the Delta log (time
        travel), not extra rows."""
        if self.storage == "delta":
            return self.spark.read.format("delta").load(self.path)
        return self.spark.read.schema(LEDGER).parquet(self.path)

    def current(self) -> DataFrame:
        """Latest-wins view: one row per job_id, newest event wins.
        This is the ONLY read path — never scan the log directly for
        current state. (Under Delta MERGE the table is already
        one-row-per-job, but append() remains a legal write there too,
        so the view stays in the path — it is a no-op on merged rows.)"""
        return latest_wins_view(self.events())

    def list(self, status: str | None = None) -> DataFrame:
        """R-8: filtered scan (None = all), reference
        ``list_batch_records`` (auto_translate.py:221-235)."""
        df = self.current()
        return df.filter(F.col("status") == status) if status else df

    def get(self, job_id: str):
        """R-9: point lookup, reference ``get_batch_record``
        (auto_translate.py:208-218). Returns Row or None.

        The key filter goes BELOW the latest-wins window (filter the
        event log first, then dedup one key) so the predicate reaches
        the parquet scan instead of windowing the whole ledger."""
        rows = (
            latest_wins_view(self.events().filter(F.col("job_id") == job_id))
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    # -- reports (batch_tracker.py CLI equivalents) --------------------

    def status_counts(self) -> DataFrame:
        """R-22 (batch_tracker.py:110-115)."""
        return self.current().groupBy("status").agg(F.count("*").alias("n"))

    def language_counts(self) -> DataFrame:
        """R-23 (batch_tracker.py:117-120)."""
        return (
            self.current().groupBy("target_language").agg(F.count("*").alias("n"))
        )

    def recent(self, k: int = 5) -> DataFrame:
        """R-28 (batch_tracker.py:132-140)."""
        return (
            self.current()
            .orderBy(F.col("timestamp").desc(), F.col("job_id").desc())
            .limit(k)
        )

    def pending(self) -> DataFrame:
        """Jobs still in flight — the poll set for the streaming side.

        ``unknown_<status>`` rows are dead ends, not in-flight work: the
        reference records them and ENDS the run
        (``auto_translate.py:1853-1856``), so polling must not retry
        them forever."""
        return self.current().filter(
            ~F.col("status").isin(*TERMINAL_STATUSES)
            & ~F.col("status").startswith("unknown_")
        )

    # -- maintenance ---------------------------------------------------

    def compact(self, keep_history_for_pending: bool = True) -> int:
        """Rewrite the append log to its latest-wins snapshot, bounding
        log growth (the Delta/Iceberg MERGE-compaction equivalent on
        plain parquet).

        Terminal jobs collapse to one row each; pending jobs optionally
        keep their full event history (so in-flight audit trails
        survive). Returns the number of rows after compaction.

        Swap strategy: write snapshot beside the log, then atomically
        rename directories — readers either see the old log or the
        compacted one, never a partial mix.
        """
        import os
        import shutil

        events = self.events()
        terminal_current = latest_wins_view(events).filter(
            F.col("status").isin(*TERMINAL_STATUSES)
        )
        if keep_history_for_pending:
            pending_jobs = latest_wins_view(events).filter(
                ~F.col("status").isin(*TERMINAL_STATUSES)
            ).select("job_id")
            pending_history = events.join(pending_jobs, "job_id", "left_semi").select(
                *[f.name for f in LEDGER.fields]
            )
            snapshot = terminal_current.select(
                *[f.name for f in LEDGER.fields]
            ).unionByName(pending_history)
        else:
            snapshot = latest_wins_view(events).select(
                *[f.name for f in LEDGER.fields]
            )
        tmp = self.path.rstrip("/") + "._compacting"
        snapshot.write.mode("overwrite").parquet(tmp)
        n = self.spark.read.schema(LEDGER).parquet(tmp).count()
        old = self.path.rstrip("/") + "._old"
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old)
        return n


def latest_wins_view(events: DataFrame, key: str = "job_id") -> DataFrame:
    """R-25 applied to the ledger: newest event per key, ties broken by
    status ordinal so a terminal state beats a transient one written in
    the same second."""
    ordinal = F.when(F.col("status").isin(*TERMINAL_STATUSES), 1).otherwise(0)
    w = Window.partitionBy(key).orderBy(
        F.col("timestamp").desc(), ordinal.desc(), F.col("status").desc()
    )
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
