"""Batch-tracking CLI — parity with the reference's ``batch_tracker.py``
user tool (reference ``batch_tracker.py:66-140``: list / status filter /
details / summary over the tracking store).

    python -m automotive_translation_pipeline_spark.tracker <ledger_dir> list
    python -m automotive_translation_pipeline_spark.tracker <ledger_dir> status <status>
    python -m automotive_translation_pipeline_spark.tracker <ledger_dir> details <job_id>
    python -m automotive_translation_pipeline_spark.tracker <ledger_dir> summary

Every subcommand is a thin driver over the existing ledger queries
(``Ledger.list`` R-8, ``.get`` R-9, ``.status_counts`` R-22,
``.language_counts`` R-23, ``.recent`` R-28) with F-15 timestamp
rendering pushed into the plan (``format_unix_ts`` — the reference's
``format_timestamp``, ``batch_tracker.py:40-46``). Output collects to
the driver, which is bounded: the current-state view holds one row per
JOB, never per document.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.timeutil import format_unix_ts
from .ledger import Ledger
from .sources import local_frame

_LIST_HEADERS = (
    "batch_id",
    "input_file",
    "job_id",
    "status",
    "formatted_time",
    "target_language",
)

USAGE = """Batch Job Tracking Utility

Usage:
  python -m automotive_translation_pipeline_spark.tracker <ledger_dir> list
  python -m automotive_translation_pipeline_spark.tracker <ledger_dir> status <status>
  python -m automotive_translation_pipeline_spark.tracker <ledger_dir> details <job_id>
  python -m automotive_translation_pipeline_spark.tracker <ledger_dir> summary"""


def _print_table(records: list[dict], headers: tuple[str, ...]) -> None:
    """Fixed-width table, reference ``print_table``
    (batch_tracker.py:14-36)."""
    if not records:
        print("No records found.")
        return
    widths = {
        h: max(len(h), *(len(str(r.get(h) or "")) for r in records))
        for h in headers
    }
    header_row = " | ".join(f"{h:<{widths[h]}}" for h in headers)
    print(header_row)
    print("-" * len(header_row))
    for r in records:
        print(
            " | ".join(f"{str(r.get(h) or ''):<{widths[h]}}" for h in headers)
        )


def _with_formatted_time(df: DataFrame) -> DataFrame:
    return df.withColumn("formatted_time", format_unix_ts(F.col("timestamp")))


def _collect_listing(df: DataFrame) -> list[dict]:
    return [
        r.asDict()
        for r in _with_formatted_time(df)
        .orderBy(F.col("timestamp"), F.col("job_id"))
        .collect()
    ]


def cmd_list(ledger: Ledger, status: str | None = None) -> None:
    """list / status subcommands (batch_tracker.py:48-81)."""
    title = (
        "=== ALL BATCH RECORDS ==="
        if status is None
        else f"=== BATCH RECORDS WITH STATUS: {status.upper()} ==="
    )
    print(title)
    records = _collect_listing(ledger.list(status))
    _print_table(records, _LIST_HEADERS)
    if status is None:
        print(f"\nTotal records: {len(records)}")
    else:
        print(f"\nRecords with status '{status}': {len(records)}")


def cmd_details(ledger: Ledger, job_id: str) -> None:
    """details subcommand (batch_tracker.py:84-100)."""
    print(f"=== BATCH DETAILS FOR JOB ID: {job_id} ===")
    row = ledger.get(job_id)
    if row is None:
        print(f"No batch record found for job ID: {job_id}")
        return
    r = row.asDict()
    formatted = (
        _with_formatted_time(
            local_frame(ledger.spark, [row], ledger.events().schema)
        )
        .collect()[0]
        .asDict()
    )
    print(f"Batch ID:        {r['batch_id']}")
    print(f"Input File:      {r['input_file']}")
    print(f"Job ID:          {r['job_id']}")
    print(f"Status:          {r['status']}")
    print(f"Timestamp:       {formatted['formatted_time']}")
    print(f"Target Language: {r['target_language']}")
    print(f"Output File:     {r['output_file']}")


def cmd_summary(ledger: Ledger) -> None:
    """summary subcommand (batch_tracker.py:103-140): totals, status
    breakdown (R-22), language breakdown (R-23), recent top-5 (R-28).
    One current() scan feeds all four via persist."""
    print("=== BATCH TRACKING SUMMARY ===")
    total = ledger.current().count()
    if total == 0:
        print("No batch records found.")
        return
    print(f"Total batches: {total}")
    print("\nStatus breakdown:")
    for r in ledger.status_counts().orderBy("status").collect():
        print(f"  {r['status']}: {r['n']}")
    print("\nLanguage breakdown:")
    for r in ledger.language_counts().orderBy("target_language").collect():
        print(f"  {r['target_language']}: {r['n']}")
    print("\nRecent activity (last 5):")
    recent = _with_formatted_time(ledger.recent(5)).collect()
    for i, r in enumerate(recent, 1):
        print(
            f"  {i}. {r['batch_id']} ({r['status']}) - {r['formatted_time']}"
        )


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) < 2:
        print(USAGE)
        return 1
    ledger_dir, cmd, *rest = argv
    if cmd not in ("list", "status", "details", "summary") or (
        cmd in ("status", "details") and len(rest) != 1
    ):
        print(USAGE)
        return 1
    if spark is None:
        from .session import get_spark

        spark = get_spark()
    ledger = Ledger(spark, ledger_dir)
    if cmd == "list":
        cmd_list(ledger)
    elif cmd == "status":
        cmd_list(ledger, rest[0])
    elif cmd == "details":
        cmd_details(ledger, rest[0])
    else:
        cmd_summary(ledger)
    return 0


if __name__ == "__main__":
    sys.exit(main())
