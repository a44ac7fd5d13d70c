"""The remote-function map (SURVEY §2.10: X-1..X-5) — LLM-as-UDF.

The reference submits one OpenAI Batch API request per packed batch and
polls for results (``auto_translate.py:343-389``). In the engine the
translate step is a grouped map over batches: an Arrow-vectorized pandas
UDF receives the JSON-map payloads and returns one response-content blob
per batch — exactly the BASELINE.json-mandated design ("DataFrame batch
processing with UDF for GPT-4o calls").

The UDF is ``asNondeterministic()`` so Catalyst never pushes filters
through it, re-runs it speculatively, or collapses it — external calls
must sit behind a barrier (SURVEY §7 watch list).

Tests and the harness use ``mock_translate_udf``: a deterministic fake
whose output format *varies by batch* (clean JSON / fenced / truncated /
numbered lines) so the full parse+repair cascade is exercised end-to-end.
The mock "translation" of a sentence is ``reverse(sentence)`` — chosen
because the DuckDB oracle can compute the same value in plain SQL.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MOCK_FORMATS = ("clean_json", "fenced_json", "truncated_json", "numbered_lines")


def mock_translation(sentence: str) -> str:
    """Deterministic fake translation: the reversed sentence (oracle:
    ``reverse(text)``)."""
    return (sentence or "")[::-1]


def render_mock_content(payload: dict[str, str], custom_id: str) -> str:
    """One response blob per batch; format cycles deterministically by a
    stable hash of custom_id so every parse strategy gets coverage."""
    translations = {k: mock_translation(v) for k, v in payload.items()}
    fmt = MOCK_FORMATS[sum(custom_id.encode()) % len(MOCK_FORMATS)]
    body = json.dumps(translations, ensure_ascii=False, indent=2)
    if fmt == "clean_json":
        return body
    if fmt == "fenced_json":
        return f"```json\n{body}\n```"
    if fmt == "truncated_json":
        # Cut after the last complete entry, drop closing brace+fence —
        # repairable by brace balancing (F-10).
        cut = body.rfind('",')
        return f"```json\n{body[: cut + 2] if cut > 0 else body}"
    lines = [f"{k}. {v}" for k, v in translations.items()]
    return "\n".join(lines)


@F.pandas_udf(T.StringType())
def mock_translate_udf(payload_json: pd.Series, custom_id: pd.Series) -> pd.Series:
    return pd.Series(
        [
            render_mock_content(json.loads(p) if p else {}, c or "")
            for p, c in zip(payload_json, custom_id)
        ]
    )


# --- extras injection (R-15 detect_extras exercise) -----------------------
# The reference logs ids that arrive in a response but were never in the
# request (auto_translate.py:1006-1009). To make that path observable —
# and its oracle non-vacuous at every SF — this mock variant APPENDS one
# unrequested id to a deterministic subset of batches. The extra is
# prepended so it survives the truncated-json format's tail cut, and its
# id/value are pure functions of the batch id so a DuckDB oracle can
# replay the injection without running the pipeline.

EXTRAS_MOD = 3  # bucket 0 of md5("extras|" + batch_id) gets an extra


def _extras_bucket_py(custom_id: str, mod: int = EXTRAS_MOD) -> int:
    """Deterministic per-batch extras bucket. DuckDB twin:
    ``CAST('0x' || substr(md5('extras|' || id), 1, 8) AS BIGINT) % mod``."""
    return int(
        hashlib.md5(f"extras|{custom_id}".encode()).hexdigest()[:8], 16
    ) % mod


def extra_id(custom_id: str) -> str:
    """The injected unrequested id for a batch ('x' + batch id — never
    collides with numeric description ids)."""
    return f"x{custom_id}"


def render_mock_content_with_extras(
    payload: dict[str, str], custom_id: str, mod: int = EXTRAS_MOD
) -> str:
    """``render_mock_content`` plus one planted extra entry for batches
    in bucket 0; value = mock_translation('extra ' + batch id), i.e.
    ``reverse('extra ' || batch_id)`` for the oracle."""
    if _extras_bucket_py(custom_id or "", mod) == 0:
        payload = {extra_id(custom_id): f"extra {custom_id}", **payload}
    return render_mock_content(payload, custom_id)


@F.pandas_udf(T.StringType())
def mock_translate_extras_udf(
    payload_json: pd.Series, custom_id: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            render_mock_content_with_extras(json.loads(p) if p else {}, c or "")
            for p, c in zip(payload_json, custom_id)
        ]
    )


def translate_requests(
    requests: DataFrame,
    translator_udf: Callable | None = None,
) -> DataFrame:
    """X-5: apply the (mock or real) translator to materialized request
    rows → response rows (custom_id, status_code, content, error)."""
    udf = translator_udf or mock_translate_udf
    call = udf(F.to_json(F.col("payload")), F.col("custom_id")).alias("content")
    return requests.select(
        "custom_id",
        F.lit(200).alias("status_code"),
        call,
        F.lit(None).cast("string").alias("error"),
    )


# --- fault injection (X-7 status taxonomy) --------------------------------
# The reference classifies each per-file run as completed / timeout /
# api_error, plus the ledger-level download_failed
# (batch_auto_translate.py:146-186; BATCH_TRACKING_GUIDE.md:169-182).
# The engine injects those outcomes deterministically per batch via a
# portable md5 bucket so the whole taxonomy is exercised — and
# oracle-checkable — without a network.

FAULT_STATUSES = ("timeout", "api_error", "download_failed")
FAULT_MOD = 5  # buckets 0..2 are the three failure classes, 3..4 complete


def fault_bucket(custom_id: Column | str, mod: int = FAULT_MOD) -> Column:
    """Deterministic per-batch fault bucket. Engine-portable: DuckDB twin
    is (CAST('0x' || substr(md5('fault|' || id), 1, 8) AS BIGINT) % mod)."""
    col = F.col(custom_id) if isinstance(custom_id, str) else custom_id
    hashed = F.md5(F.concat(F.lit("fault|"), col))
    return F.conv(F.substring(hashed, 1, 8), 16, 10).cast("long") % mod


def batch_status(custom_id: Column | str, mod: int = FAULT_MOD) -> Column:
    """Injected lifecycle outcome per batch id."""
    b = fault_bucket(custom_id, mod)
    return (
        F.when(b == 0, F.lit("timeout"))
        .when(b == 1, F.lit("api_error"))
        .when(b == 2, F.lit("download_failed"))
        .otherwise(F.lit("completed"))
    )


def translate_requests_with_faults(
    requests: DataFrame,
    translator_udf: Callable | None = None,
    mod: int = FAULT_MOD,
) -> DataFrame:
    """X-5 + X-7: the translate map with the reference's failure taxonomy
    injected per batch. Failed batches mirror the reference's observable
    shape: ``timeout`` and ``api_error`` produce no content (the
    subprocess died / the API errored); ``download_failed`` completed
    remotely but its output never arrived, so content is also null and
    only the ledger status distinguishes it. Content is computed only
    for completed batches (the when() guards the UDF call)."""
    status = batch_status(F.col("custom_id"), mod)
    udf = translator_udf or mock_translate_udf
    call = udf(F.to_json(F.col("payload")), F.col("custom_id"))
    return requests.select(
        "custom_id",
        status.alias("status"),
        F.when(status == "completed", F.lit(200))
        .when(status == "api_error", F.lit(500))
        .cast("int")
        .alias("status_code"),
        F.when(status == "completed", call).alias("content"),
        F.when(status != "completed", status).cast("string").alias("error"),
    )


def openai_batch_submit(spark, requests, ledger, work_dir, **kwargs):
    """X-1..X-4 real-API lifecycle (upload → submit → poll → download)
    over the wire: constructs ``transport.OpenAIBatchTransport`` (which
    import-gates the ``openai`` package and requires credentials) and
    runs the SAME ``run_batch_lifecycle`` spine the local transport
    uses — serialization, ledger transitions, poll loop, and response
    ingestion are identical code either way."""
    from .transport import OpenAIBatchTransport, run_batch_lifecycle

    transport = OpenAIBatchTransport(api_key=kwargs.pop("api_key", None))
    return run_batch_lifecycle(
        spark, requests, transport, ledger, work_dir, **kwargs
    )
