"""End-to-end flagship pipeline tests (SURVEY §3.1 / Milestone 1)."""

from __future__ import annotations

import pyspark.sql.functions as F

from automotive_translation_pipeline_spark.operators.staging import stage, staged
from automotive_translation_pipeline_spark.plans import (
    translation_pipeline,
    translation_pipeline_summary,
)
from automotive_translation_pipeline_spark.translate import (
    mock_translation,
    render_mock_content,
)


def test_pipeline_rows(spark, sf_dir):
    df = translation_pipeline(spark, sf_dir)
    rows = df.count()
    assert rows > 0
    # Dedup removed the doc_id % 7 == 0 rows.
    assert df.filter(F.col("seq") % 7 == 0).count() == 0
    # Successful rows carry the deterministic mock translation.
    ok = df.filter(~F.col("is_failed")).select("english_sentence", "translation")
    for r in ok.limit(20).collect():
        assert r["translation"] == mock_translation(r["english_sentence"])


def test_pipeline_failures_only_from_truncation(spark, sf_dir):
    with staged():
        df = stage(translation_pipeline(spark, sf_dir), "cache")
        failed_batches = {
            r["batch_id"]
            for r in df.filter(F.col("is_failed")).select("batch_id").collect()
        }
    # Every failure must come from a batch whose mock format is the
    # truncated one (format index 2).
    for b in failed_batches:
        assert sum(b.encode()) % 4 == 2, f"unexpected failure in batch {b}"


def test_pipeline_summary_schema(spark, sf_dir):
    s = translation_pipeline_summary(spark, sf_dir)
    row = s.first()
    assert row["total_rows"] == row["successful"] + row["failed"]
    assert 0 <= row["success_rate_pct"] <= 100
    assert s.columns == [
        "total_rows",
        "successful",
        "failed",
        "suspicious",
        "shift_suspects",
        "success_rate_pct",
    ]


def test_mock_content_formats():
    payload = {"1": "check engine", "2": "brake pads worn"}
    for cid, expected in [
        ("batch-a", None),  # format depends on byte sum — just exercise
        ("batch-b", None),
        ("batch-c", None),
        ("batch-d", None),
    ]:
        blob = render_mock_content(payload, cid)
        assert isinstance(blob, str) and blob


def test_observed_counters_match_run_summary(spark, sf_dir):
    """The Observation counters (collected during the sink action, zero
    extra passes) must agree exactly with the run_summary aggregation
    (a second scan)."""
    from automotive_translation_pipeline_spark.operators.aggregates import (
        observed_run_counters,
        run_summary,
    )
    from automotive_translation_pipeline_spark.plans.pipeline import (
        translation_pipeline,
    )

    flagged = translation_pipeline(spark, sf_dir)
    observed, obs = observed_run_counters(flagged)
    observed.write.format("noop").mode("overwrite").save()  # the "sink"
    got = obs.get
    want = run_summary(flagged).first()
    assert got["total_rows"] == want["total_rows"]
    assert got["failed"] == want["failed"]
    assert got["suspicious"] == want["suspicious"]
    assert got["shift_suspects"] == want["shift_suspects"]
