"""User-facing CLI — parity with the reference's three entry points:

* ``translate <input.csv> <target_language> <output.csv>`` — the §3.1
  main pipeline (reference ``auto_translate.py:1639-1857``): scan →
  filter/trim → token-aware pack → translate → parse/repair → rejoin +
  sentinel → quality flags → output CSV + run summary.
* ``analyze <responses.jsonl> [input.csv]`` — the §3.2 error analysis
  (reference ``analyze_jsonl_errors``, ``auto_translate.py:1137-1636``):
  classify every response line into the parse-outcome taxonomy, write a
  ``*_repaired.jsonl`` for recovered truncations, print the rollup.
* ``batch <input_dir> <target_language> <output_dir>`` — the §3.3
  folder orchestrator (``batch_auto_translate.py:285-316``): one Spark
  job over ``dir/*.csv`` with file lineage; per-stem output CSVs plus
  the per-file summary table (the reference's subprocess-per-file
  fan-out disappears into tasks).

The translate step is the X-5 seam: without a wire client this runs
the deterministic mock (clearly announced), so the tool exercises the
complete engine path offline; a networked deployment swaps
``OpenAIBatchTransport`` in behind ``run_batch_lifecycle`` with no
change above the transport (see ``translate.openai_batch_submit``).

    python -m automotive_translation_pipeline_spark.cli translate in.csv German out.csv
    python -m automotive_translation_pipeline_spark.cli analyze responses.jsonl [in.csv]
    python -m automotive_translation_pipeline_spark.cli batch ./csvs German ./out
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

USAGE = """Automotive Translation Pipeline (Spark engine)

Usage:
  python -m automotive_translation_pipeline_spark.cli translate <input.csv> <target_language> <output.csv>
  python -m automotive_translation_pipeline_spark.cli analyze <responses.jsonl> [input.csv]
  python -m automotive_translation_pipeline_spark.cli analyze <responses.jsonl> --batch <custom_id> --requests <requests.jsonl>
  python -m automotive_translation_pipeline_spark.cli batch <input_dir> <target_language> <output_dir>"""


def _todo_from_csv(spark: SparkSession, input_csv: str) -> DataFrame:
    """Scan + R-7 filter/trim, shaped for the pipeline core. One shard:
    a single input file packs sequentially like the reference; the
    folder path shards per file."""
    from .plans.pipeline import file_todo
    from .sources import read_descriptions_csv

    return file_todo(read_descriptions_csv(spark, input_csv), F.lit("batch"))


def cmd_translate(
    spark: SparkSession, input_csv: str, language: str, output_csv: str
) -> None:
    """§3.1 main pipeline over one CSV, mock translator (offline)."""
    from .operators.aggregates import observed_run_counters
    from .plans.pipeline import translating
    from .sources.writers import write_output_csv

    print(f"Translating {input_csv} -> {language} -> {output_csv}")
    print("(offline run: deterministic mock translator — plug "
          "OpenAIBatchTransport for the live Batch API)")
    with translating(_todo_from_csv(spark, input_csv), limit=4000) as rows:
        out = rows.select(
            F.col("description_id"),
            F.col("english_sentence"),
            F.col("translation").alias("translated_sentence"),
            "is_failed",
            "is_suspicious",
            "shift_suspect",
        )
        # R-20 counters ride the sink write (zero extra passes).
        observed, obs = observed_run_counters(out)
        write_output_csv(
            observed.select(
                "description_id", "english_sentence", "translated_sentence"
            ),
            output_csv,
            single_file=True,
        )
    m = obs.get
    total, failed = m["total_rows"], m["failed"]
    print(f"\nTotal rows:      {total}")
    print(f"Successful:      {total - failed}")
    print(f"Failed:          {failed}")
    print(f"Suspicious:      {m['suspicious']}")
    print(f"Shift suspects:  {m['shift_suspects']}")
    rate = 100.0 * (total - failed) / total if total else 0.0
    print(f"Success rate:    {rate:.2f}%")
    print(f"Output written:  {output_csv}")


def cmd_analyze(
    spark: SparkSession, responses_jsonl: str, input_csv: str | None = None
) -> None:
    """§3.2 error analysis: parse-outcome taxonomy + repaired store."""
    from .functions.parsing import parse_translations
    from .functions.predicates import is_truncated
    from .functions.repair import repair_json_udf
    from .operators.aggregates import error_rollup
    from .sources.readers import read_response_jsonl

    print(f"Analyzing {responses_jsonl}")
    raw = read_response_jsonl(spark, responses_jsonl)
    parsed_n = F.size(parse_translations(F.col("content")))
    repaired_content = F.when(
        is_truncated(F.col("content")),
        repair_json_udf(F.col("content")),
    )
    repaired_n = F.size(
        parse_translations(F.coalesce(repaired_content, F.col("content")))
    )
    classified = raw.select(
        "custom_id",
        "content",
        repaired_content.alias("repaired_content"),
        # Reference bucket order (auto_translate.py:1165-1181): wire
        # errors first, then empties, then parse outcomes.
        F.when(F.col("_corrupt_record").isNotNull(), "malformed_line")
        .when(
            F.col("error").isNotNull()
            | (F.coalesce(F.col("status_code"), F.lit(0)) != 200),
            "api_error",
        )
        .when(
            F.col("content").isNull() | (F.trim(F.col("content")) == ""),
            "empty_content",
        )
        .when(parsed_n > 0, "parsed_ok")
        .when(repaired_n > 0, "repaired")
        .otherwise("unparseable")
        .alias("error_type"),
    ).persist()

    report = error_rollup(classified).orderBy(F.col("n").desc(), "error_type")
    print("\nError taxonomy:")
    for r in report.collect():
        print(f"  {r['error_type']:<15} {r['n']:>8}  ({r['pct']}%)")

    repaired_rows = classified.filter(F.col("error_type") == "repaired")
    n_repaired = repaired_rows.count()
    if n_repaired:
        dest = os.path.splitext(responses_jsonl.rstrip("/"))[0] + "_repaired.jsonl"
        # One real JSONL FILE, like the reference's analyze path — not a
        # Spark .text() part-file directory. The repaired set is bounded
        # (failed batches only), so collecting it driver-side is the
        # same contract as the report print above.
        lines = repaired_rows.select(
            F.to_json(
                F.struct(
                    F.col("custom_id"),
                    F.col("repaired_content").alias("content"),
                )
            ).alias("j")
        ).collect()
        with open(dest, "w", encoding="utf-8") as fh:
            for r in lines:
                fh.write(r["j"] + "\n")
        print(f"\nRepaired {n_repaired} truncated batch(es) -> {dest}")

    if input_csv:
        from .functions.text import estimated_cost

        docs = _todo_from_csv(spark, input_csv)
        n_docs = docs.count()
        parsed_ids = classified.filter(
            F.col("error_type").isin("parsed_ok", "repaired")
        ).select(
            F.explode(
                parse_translations(
                    F.coalesce(F.col("repaired_content"), F.col("content"))
                )
            ).alias("description_id", "translation")
        )
        n_missing = docs.join(
            parsed_ids.select("description_id").distinct(),
            "description_id",
            "left_anti",
        ).count()
        avg_cost = docs.agg(
            F.round(F.avg(estimated_cost(F.col("english_sentence"))), 1)
        ).first()[0]
        print(f"\nOriginal rows:   {n_docs} (avg est. cost {avg_cost} tokens)")
        print(f"Missing ids:     {n_missing}")
    classified.unpersist()


def cmd_analyze_batch(
    spark: SparkSession,
    responses_jsonl: str,
    requests_jsonl: str,
    custom_id: str,
) -> int:
    """``analyze --batch`` drill-down (reference
    ``old_functionalities/check_and_process.py:322-374``
    ``debug_specific_batch``): one batch's expected-vs-received ids —
    missing translations, extras (R-15 ``detect_extras``), and the
    R-29 order check — from the request JSONL that created the batch
    plus the response JSONL."""
    from .functions.parsing import parse_responses
    from .operators.joins import detect_extras
    from .operators.windows import sequence_check
    from .sources.readers import read_request_jsonl, read_response_jsonl

    print(f"Drill-down for batch {custom_id}")
    req = read_request_jsonl(spark, requests_jsonl).filter(
        F.col("custom_id") == custom_id
    )
    expected = req.select(
        F.posexplode("payload").alias(
            "exp_pos", "description_id", "english_sentence"
        )
    ).persist()
    parsed = None
    try:
        n_expected = expected.count()
        if n_expected == 0:
            print(f"[ERROR] {custom_id} not found in {requests_jsonl}")
            return 1
        resp = read_response_jsonl(spark, responses_jsonl).filter(
            F.col("custom_id") == custom_id
        )
        if resp.isEmpty():
            print(f"[ERROR] {custom_id} not found in {responses_jsonl}")
            return 1
        parsed = (
            parse_responses(resp)
            .select(
                F.col("batch_id").alias("custom_id"),
                # Each response's rows leave the map in parse order.
                F.monotonically_increasing_id().alias("pos"),
                "description_id",
                "translation",
            )
            .persist()
        )
        n_received = parsed.count()
        chars = resp.select(F.length("content")).first()[0] or 0
        print(f"Expected ids:    {n_expected}")
        print(f"Received ids:    {n_received} (content {chars} chars)")

        missing = expected.join(
            parsed.select("description_id"), "description_id", "left_anti"
        ).orderBy("exp_pos")
        print(f"\nMissing translations for {custom_id}:")
        for r in missing.collect():
            print(f"  - {r['description_id']}: {r['english_sentence']}")

        extras = detect_extras(
            parsed.select("custom_id", "description_id"),
            expected.withColumn("custom_id", F.lit(custom_id)),
            keys=("custom_id", "description_id"),
        )
        print(f"\nExtra translations for {custom_id}:")
        for r in extras.collect():
            print(f"  - {r['description_id']}")

        seq = sequence_check(
            parsed.join(
                expected.select(
                    "description_id", (F.col("exp_pos") + 1).alias("num")
                ),
                "description_id",
            ),
            "custom_id",
            "pos",
            "num",
        )
        viol = seq.collect()
        print(f"\nOrder violations: {len(viol)}")
        for r in viol:
            print(f"  - {r['description_id']}: requested at {r['num']}, "
                  f"received at {r['expected_number']}")
        return 0
    finally:
        # Both error returns and any failure release the cached frames.
        expected.unpersist()
        if parsed is not None:
            parsed.unpersist()


def cmd_batch(
    spark: SparkSession, input_dir: str, language: str, output_dir: str
) -> None:
    """§3.3 folder orchestrator: one job, per-stem outputs + summary."""
    from .operators.joins import FAILED_SENTINEL
    from .plans.folder import folder_todo, summarize_files
    from .plans.pipeline import translating

    print(f"Processing folder {input_dir} -> {language} -> {output_dir}")
    print("(offline run: deterministic mock translator)")
    with translating(folder_todo(spark, input_dir)) as rows:
        # One partitioned write — per-stem subdirectories, not a
        # job-per-file loop.
        rows.select(
            "source_stem",
            "description_id",
            "english_sentence",
            F.coalesce(F.col("translation"), F.lit(FAILED_SENTINEL)).alias(
                "translated_sentence"
            ),
        ).write.mode("overwrite").option("header", True).partitionBy(
            "source_stem"
        ).csv(output_dir)
        summary = summarize_files(rows).orderBy("source_stem").collect()
    print(f"\n{'file':<24} {'rows':>6} {'ok':>6} {'failed':>6} "
          f"{'ok%':>7} {'batches':>8}")
    for r in summary:
        print(
            f"{r['source_stem']:<24} {r['total_rows']:>6} "
            f"{r['successful']:>6} {r['failed']:>6} "
            f"{r['success_rate_pct']:>7} {r['n_batches']:>8}"
        )
    n_files = len(summary)
    n_failed_rows = sum(r["failed"] for r in summary)
    print(f"\nProcessed {n_files} file(s); {n_failed_rows} failed row(s).")
    print(f"Outputs under {output_dir}/source_stem=<file>/")


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        print(USAGE)
        return 1
    cmd, *rest = argv
    # --batch <custom_id> --requests <requests.jsonl>: the analyze
    # drill-down flags, extracted before the positional check.
    flags: dict[str, str] = {}
    positional: list[str] = []
    i = 0
    while i < len(rest):
        if rest[i] in ("--batch", "--requests") and i + 1 < len(rest):
            flags[rest[i][2:]] = rest[i + 1]
            i += 2
        else:
            positional.append(rest[i])
            i += 1
    rest = positional
    specs = {"translate": (3, 3), "analyze": (1, 2), "batch": (3, 3)}
    if cmd not in specs or not (specs[cmd][0] <= len(rest) <= specs[cmd][1]):
        print(USAGE)
        return 1
    if cmd == "analyze" and ("batch" in flags) != ("requests" in flags):
        print(USAGE)
        return 1
    if spark is None:
        from .session import get_spark

        spark = get_spark()
    if cmd == "translate":
        cmd_translate(spark, *rest)
    elif cmd == "analyze":
        if "batch" in flags:
            return cmd_analyze_batch(
                spark, rest[0], flags["requests"], flags["batch"]
            )
        cmd_analyze(spark, *rest)
    else:
        cmd_batch(spark, *rest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
