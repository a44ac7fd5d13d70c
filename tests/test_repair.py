"""Truncation repair tests (F-9..F-13) modeled on the reference's
truncation scenario (TRUNCATION_SOLUTION_GUIDE.md: 3 truncated
responses → 745 recovered translations)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from automotive_translation_pipeline_spark.functions.predicates import (
    is_truncated,
)
from automotive_translation_pipeline_spark.functions.repair import (
    repair_content,
)

TRUNCATED_FENCED = '```json\n{\n  "1": "అనువాదం ఒకటి",\n  "2": "అనువాదం రెండు",\n'
TRUNCATED_MIDVALUE = (
    '```json\n{\n  "1": "అనువాదం ఒకటి",\n  "2": "అనువాదం రెం'
)
BARE_TRUNCATED = '{\n  "1": "అనువాదం ఒకటి",\n  "2": "అనువాదం రెండు"'
COMPLETE = '```json\n{"1": "పూర్తి"}\n```'


def test_repair_truncated_fenced():
    out = repair_content(TRUNCATED_FENCED)
    assert out is not None and out.startswith("```json")
    inner = out.removeprefix("```json\n").removesuffix("\n```")
    assert json.loads(inner) == {"1": "అనువాదం ఒకటి", "2": "అనువాదం రెండు"}


def test_repair_cut_to_last_complete():
    out = repair_content(TRUNCATED_MIDVALUE)
    inner = out.removeprefix("```json\n").removesuffix("\n```")
    # The half-written entry is dropped; the complete one survives.
    assert json.loads(inner) == {"1": "అనువాదం ఒకటి"}


def test_repair_bare_json():
    out = repair_content(BARE_TRUNCATED)
    assert json.loads(out) == {"1": "అనువాదం ఒకటి", "2": "అనువాదం రెండు"}


def test_complete_content_untouched():
    assert repair_content(COMPLETE) is None  # nothing to repair
    assert repair_content(None) is None
    assert repair_content("") is None


def test_truncation_predicate(spark):
    rows = [
        (TRUNCATED_FENCED,),
        (COMPLETE,),
        ('{"a": "bb"}',),
        ("{ unbalanced {",),
    ]
    df = spark.createDataFrame(rows, "content string")
    got = [
        r["t"]
        for r in df.select(is_truncated(F.col("content")).alias("t")).collect()
    ]
    # Reference quirk kept for parity (auto_translate.py:690-695): the
    # last-line check flags even COMPLETE fenced JSON (last line "```")
    # as truncated. The predicate is only consulted after a parse
    # failure, so the false positive is harmless there — and we
    # replicate it exactly.
    assert got == [True, True, False, True]


def _gate_corpus() -> list[str]:
    """Mock responses in every format (with and without planted extras),
    seeded mutations of them, and the parse golden corpus's mock and
    fuzz blobs."""
    import random
    from pathlib import Path

    from automotive_translation_pipeline_spark.translate import (
        render_mock_content,
        render_mock_content_with_extras,
    )

    rnd = random.Random(606)
    words = ["engine", "brake", "coolant", "it's", 'the "main"', "2.5 mm",
             "మోటారు", "తనిఖీ", "{x}", "a\\b", "ok."]
    mocks = []
    for i in range(200):
        payload = {
            str(rnd.randrange(10**6)): " ".join(rnd.choices(words, k=rnd.randrange(1, 6)))
            for _ in range(rnd.randrange(1, 12))
        }
        render = render_mock_content if i % 2 else render_mock_content_with_extras
        mocks.append(render(payload, f"batch-{i:04d}"))
    noise = ['{', '}', '"', ',', "```", "```json", "\n", " ", " ", "'", "]"]
    fuzz = []
    for _ in range(600):
        b = rnd.choice(mocks)
        for _ in range(rnd.randrange(1, 4)):
            p = rnd.randrange(len(b) + 1)
            b = rnd.choice([b[:p], b[:p] + rnd.choice(noise) + b[p:], b[:p] + b[p + 3:]])
        fuzz.append(b)
    golden = Path(__file__).parent / "fixtures" / "parse_golden.jsonl"
    with golden.open(encoding="utf-8") as fh:
        rows = [json.loads(line) for line in fh]
    kept = [r["blob"] for r in rows if r["family"].startswith(("mock", "fuzz"))]
    return mocks + fuzz + kept


def test_repair_implies_truncated_gate(spark):
    """Whatever repair_content rewrites, the native is_truncated flags:
    so running repair on every response (the parse kernel does) gives
    the same content as gating it on is_truncated (the composition it
    replaced)."""
    blobs = _gate_corpus()
    df = spark.createDataFrame(list(enumerate(blobs)), "i int, content string")
    flagged = {
        r["i"]: r["t"]
        for r in df.select("i", is_truncated(F.col("content")).alias("t")).collect()
    }
    repaired = [i for i, b in enumerate(blobs) if repair_content(b) is not None]
    assert len(repaired) >= 100  # the property is not vacuous
    assert [i for i in repaired if not flagged[i]] == []
