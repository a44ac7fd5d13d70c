"""Parse-cascade tests over the reference's three response format
families (testing/test_parsing.py:104-136) plus the cleanup strategies.

``fixtures/parse_golden.jsonl`` pins the cascade's semantics: one line
per blob (``family``, ``blob``, ``map`` as ordered [id, translation]
pairs, ``strategy``), written by the engine's earlier native cascade
(Spark ``from_json`` ladders and Java-regex line parsing). Families:
``mock:<format>`` (the mock's four formats, ``:repaired`` where repair
applies), ``div:<case>`` (where that cascade and plain ``json.loads``
semantics part ways), ``edge`` and seeded ``fuzz`` mutations.
"""

from __future__ import annotations

import json
from pathlib import Path

import pyspark.sql.functions as F

from automotive_translation_pipeline_spark.functions.parsing import (
    STRATEGIES,
    parse_content,
    parse_map,
    parse_responses,
    parse_strategy,
    parse_translations,
)

GOLDEN = Path(__file__).parent / "fixtures" / "parse_golden.jsonl"


def _golden() -> list[dict]:
    with GOLDEN.open(encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]

# The three reference formats (testing/test_parsing.py) with Telugu-like
# payloads, plus edge cases.
PERFECT_JSON = '{"21": "కూలెంట్ స్థాయి తనిఖీ చేయండి", "27": "బ్రేక్ ప్యాడ్లు"}'
FENCED_JSON = '```json\n{"21": "కూలెంట్ తనిఖీ", "27": "బ్రేక్ తనిఖీ"}\n```'
LEGACY_LINES = "desc_21. కూలెంట్ స్థాయి తనిఖీ\ndesc_27. బ్రేక్ ప్యాడ్లు తనిఖీ"
NUMBERED_LINES = "21. కూలెంట్ స్థాయి తనిఖీ\n27. బ్రేక్ ప్యాడ్లు తనిఖీ"
TUPLE_LINES = "320. ('640', 'ఇంజిన్ ఆయిల్ తనిఖీ')\n321. ('641', 'టైర్ ఒత్తిడి')"


def _parse(spark, blob):
    df = spark.createDataFrame([(blob,)], "content string")
    return df.select(parse_translations(F.col("content")).alias("m")).first()["m"]


def _strategy(spark, blob):
    df = spark.createDataFrame([(blob,)], "content string")
    return df.select(parse_strategy(F.col("content")).alias("s")).first()["s"]


def test_perfect_json(spark):
    m = _parse(spark, PERFECT_JSON)
    assert m == {
        "21": "కూలెంట్ స్థాయి తనిఖీ చేయండి",
        "27": "బ్రేక్ ప్యాడ్లు",
    }
    assert _strategy(spark, PERFECT_JSON) == "json_basic"


def test_fenced_json(spark):
    m = _parse(spark, FENCED_JSON)
    assert m == {"21": "కూలెంట్ తనిఖీ", "27": "బ్రేక్ తనిఖీ"}


def test_legacy_desc_lines(spark):
    m = _parse(spark, LEGACY_LINES)
    assert m == {
        "21": "కూలెంట్ స్థాయి తనిఖీ",
        "27": "బ్రేక్ ప్యాడ్లు తనిఖీ",
    }
    assert _strategy(spark, LEGACY_LINES) == "line_fallback"


def test_numbered_lines(spark):
    m = _parse(spark, NUMBERED_LINES)
    assert set(m.keys()) == {"21", "27"}


def test_tuple_lines(spark):
    m = _parse(spark, TUPLE_LINES)
    # Tuple format: the id INSIDE the tuple wins (reference pattern 2).
    assert m == {"640": "ఇంజిన్ ఆయిల్ తనిఖీ", "641": "టైర్ ఒత్తిడి"}


def test_empty_and_null(spark):
    assert _parse(spark, "") == {}
    assert _parse(spark, None) == {}
    assert _strategy(spark, "") == "empty"


def test_suspicious_values_dropped(spark):
    blob = '{"1": "నిజమైన అనువాదం ఇక్కడ", "2": "null", "3": "12", "4": "ab"}'
    m = _parse(spark, blob)
    assert m == {"1": "నిజమైన అనువాదం ఇక్కడ"}


def test_duplicate_ids_last_wins(spark):
    # R-25: dict-overwrite contract.
    blob = '21. మొదటి\n21. చివరి అనువాదం'
    m = _parse(spark, blob)
    assert m == {"21": "చివరి అనువాదం"}


def test_fence_skip_lines(spark):
    blob = "```\n21. అనువాదం ఒకటి\n```"
    # Lines inside fences are skipped by the line parser, but the
    # multiline cleaner extracts them first via the JSON path — this is
    # not JSON, so the fallback runs on raw lines, skipping fences.
    m = _parse(spark, blob)
    assert m == {"21": "అనువాదం ఒకటి"}


def test_udtf_parity_with_native_cascade(spark):
    """The SQL UDTF and the column function agree on every reference
    response family (both wrap the one Python core; they must not
    drift)."""
    from automotive_translation_pipeline_spark.functions.parse_udtf import (
        register_parse_udtf,
    )

    register_parse_udtf(spark)
    blobs = [PERFECT_JSON, FENCED_JSON, LEGACY_LINES, NUMBERED_LINES, TUPLE_LINES]
    df = spark.createDataFrame([(i, b) for i, b in enumerate(blobs)], "i int, content string")
    df.createOrReplaceTempView("blobs")
    native = {
        (r["i"], r["description_id"]): r["translation"]
        for r in df.select(
            "i", F.explode(parse_translations(F.col("content")))
        ).toDF("i", "description_id", "translation").collect()
    }
    via_udtf = {
        (r["i"], r["description_id"]): r["translation"]
        for r in spark.sql(
            "SELECT b.i, p.description_id, p.translation "
            "FROM blobs b, LATERAL parse_translations_udtf(b.content) p"
        ).collect()
    }
    assert via_udtf == native and len(native) == 10


def test_udtf_empty_and_garbage_yield_no_rows(spark):
    from automotive_translation_pipeline_spark.functions.parse_udtf import (
        parse_content,
    )

    assert parse_content(None) == []
    assert parse_content("   ") == []
    assert parse_content("{broken json") == []
    # suspicious-only payload: values all blocklisted/short
    assert parse_content('{"1": "ok", "2": "null"}') == []


def test_golden_corpus_covers_families_and_strategies():
    rows = _golden()
    families = {r["family"] for r in rows}
    for fmt in ("clean_json", "fenced_json", "truncated_json", "numbered_lines"):
        assert f"mock:{fmt}" in families
    assert "mock:truncated_json:repaired" in families
    for case in ("single_quoted_keys", "trailing_text", "true",
                 "trailing_comma_lines", "python_fence",
                 "suspicious_then_line", "nbsp"):
        assert f"div:{case}" in families
    assert {r["strategy"] for r in rows} == set(STRATEGIES)


def test_core_matches_golden_corpus():
    bad = [
        (r["family"], r["blob"])
        for r in _golden()
        if parse_map(r["blob"]) != (r["strategy"], [tuple(e) for e in r["map"]])
    ]
    assert bad == []


def test_column_udfs_match_golden_corpus(spark):
    rows = _golden()
    df = spark.createDataFrame(
        [(i, r["blob"]) for i, r in enumerate(rows)], "i int, content string"
    )
    got = df.select(
        "i",
        F.map_entries(parse_translations(F.col("content"))).alias("m"),
        parse_strategy(F.col("content")).alias("s"),
    ).collect()
    bad = [
        g["i"]
        for g in got
        if ([[k, v] for k, v in g["m"]], g["s"])
        != (rows[g["i"]]["map"], rows[g["i"]]["strategy"])
    ]
    assert len(got) == len(rows) and bad == []


def test_parse_responses_matches_gated_composition(spark):
    """The one-pass operator equals what it replaced: gate on the native
    is_truncated, repair, then explode the parse, with the strategy of
    the content actually parsed."""
    from automotive_translation_pipeline_spark.functions.predicates import (
        is_truncated,
    )
    from automotive_translation_pipeline_spark.functions.repair import (
        repair_json_udf,
    )

    rows = _golden()
    df = spark.createDataFrame(
        [(f"b{i}", r["blob"]) for i, r in enumerate(rows)],
        "custom_id string, content string",
    )
    c = F.col("content")
    gated = df.select(
        "custom_id",
        F.when(is_truncated(c), F.coalesce(repair_json_udf(c), c))
        .otherwise(c)
        .alias("c"),
    )
    old = gated.select(
        "custom_id",
        parse_strategy(F.col("c")).alias("s"),
        F.explode(parse_translations(F.col("c"))).alias("k", "v"),
    ).collect()
    new = parse_responses(df).collect()
    assert sorted(tuple(r) for r in new) == sorted(
        (r["custom_id"], r["k"], r["v"], r["s"]) for r in old
    )
    assert len(new) == sum(len(parse_content(r["blob"])) for r in rows) > 1000


# Kept different from the native cascade, on purpose. Neither shape can
# come out of the mock's four response formats (string values, depth 2).


def test_kept_different_subnormal_float():
    """Java 17's ``Double.toString`` prints the smallest subnormal as
    ``4.9E-324``; the core prints the shortest round-trip digits."""
    assert parse_map('{"21": 5e-324}') == ("json_basic", [("21", "5.0E-324")])


def test_kept_different_nesting_past_512_levels():
    """Jackson parses up to 1000 nesting levels. Python's stack does not
    reliably reach that far, so past 512 the core calls it malformed."""
    deep = '{"21": ' + "[" * 600 + "]" * 600 + ', "22": "deep value"}'
    assert parse_map(deep) == ("unparseable", [])
    shallow = deep.replace("[" * 600, "[" * 500).replace("]" * 600, "]" * 500)
    assert parse_map(shallow) == ("json_basic", [("22", "deep value")])
    mock = [r["blob"] for r in _golden() if r["family"].startswith("mock")]
    assert not any("e-3" in b.lower() or b.count("[") > 512 for b in mock)


def test_rstrip_tail_search_matches_whole_string_search():
    """``_rstrip`` looks for the final line terminator in the last two
    characters only; on every short string ending in a Java line
    terminator it agrees with a search over the whole string."""
    import itertools
    import re

    from automotive_translation_pipeline_spark.functions.parsing import (
        _WS,
        _rstrip,
    )

    final = re.compile(r"(?:\r\n|[\n\r\x85\u2028\u2029])\Z")

    def whole_string(s: str, chars: str) -> str:
        t = s.rstrip(chars)
        if t != s or not (m := final.search(s)):
            return t
        return s[: m.start()].rstrip(chars) + m.group()

    terms = ("\r\n", "\n", "\r", "\x85", "\u2028", "\u2029")
    alphabet = ("a", " ", "\t", '"', "'", "\r", "\n", "\x85", "\u2028", "\u2029")
    strings = {""} | {
        "".join(head) + term
        for term in terms
        for k in range(4 - len(term))
        for head in itertools.product(alphabet, repeat=k)
    }
    assert {len(s) for s in strings} == {0, 1, 2, 3}
    for chars in (_WS, "\"'"):
        bad = [s for s in strings if _rstrip(s, chars) != whole_string(s, chars)]
        assert bad == []
