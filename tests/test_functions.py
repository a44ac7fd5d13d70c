"""Scalar function library tests (cleaning, predicates, text analysis)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from automotive_translation_pipeline_spark.functions.cleaning import (
    strip_numbering,
)
from automotive_translation_pipeline_spark.functions.parsing import (
    md_aggressive,
    md_basic,
    md_multiline,
)
from automotive_translation_pipeline_spark.functions.predicates import (
    is_suspicious,
)
from automotive_translation_pipeline_spark.functions.text import (
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    script_of,
    token_count,
    word_shingles,
)


def _one(spark, expr_fn, value):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(expr_fn(F.col("v")).alias("out")).first()["out"]


# The F-3..F-5 cleanup rungs live in the Python parse core.


def test_clean_md_basic():
    assert md_basic('```json\n{"a": "b"}\n```') == '{"a": "b"}'
    assert md_basic('```\nxyz\n```') == "xyz"
    assert md_basic("no fences") == "no fences"


def test_clean_md_aggressive():
    blob = "```javascript\ncode here\n```"
    assert md_aggressive(blob) == "code here"


def test_clean_md_multiline():
    blob = 'prefix noise\n```\n{"a": "b"}\n{"c": "d"}\n```\nsuffix'
    assert md_multiline(blob) == '{"a": "b"}\n{"c": "d"}'


def test_strip_numbering(spark):
    assert _one(spark, strip_numbering, "12. hello") == "hello"
    assert _one(spark, strip_numbering, "no number") == "no number"


def test_is_suspicious(spark):
    cases = {
        "null": True,
        "error": True,
        "```x": True,
        "<html>": True,
        "{json}": True,
        "ab": True,
        "1234": True,
        "a real translation": False,
        "కూలెంట్ తనిఖీ": False,
    }
    for text, want in cases.items():
        assert _one(spark, is_suspicious, text) == want, text
    # NULL input is suspicious (reference returns True for non-str).
    df = spark.createDataFrame([(None,)], "v string")
    assert df.select(is_suspicious(F.col("v")).alias("o")).first()["o"] is True


def test_token_counts(spark):
    assert _one(spark, token_count, "a b c") == 3
    # 'hello' → ceil(5/4)=2; 'hi' → 1
    assert _one(spark, bpe_token_count, "hello hi") == 3


def test_script_of(spark):
    assert _one(spark, script_of, "hello world") == "latin"
    assert _one(spark, script_of, "కూలెంట్") == "telugu"
    assert _one(spark, script_of, "двигатель") == "cyrillic"
    assert _one(spark, script_of, "空调") == "cjk"
    assert _one(spark, script_of, "12345") == "unknown"


def test_lang_id(spark):
    assert _one(spark, lang_id, "the engine of the car is broken") == "en"
    assert _one(spark, lang_id, "der motor ist nicht gut und die bremse") == "de"
    assert _one(spark, lang_id, "el motor de la puerta es bueno y la rueda") == "es"
    assert _one(spark, lang_id, "xyzzy plugh") == "und"


def test_fingerprint_normalization(spark):
    a = _one(spark, doc_fingerprint, "Hello   World")
    b = _one(spark, doc_fingerprint, "hello world")
    c = _one(spark, doc_fingerprint, "different")
    assert a == b != c


def test_word_shingles(spark):
    got = _one(spark, lambda c: word_shingles(c, 3), "a b c d")
    assert got == ["a b c", "b c d"]
    # Shorter than k → no shingles.
    assert _one(spark, lambda c: word_shingles(c, 3), "a b") == []


def _have_tiktoken() -> bool:
    try:
        import tiktoken  # noqa: F401

        return True
    except ImportError:
        return False


_TOKEN_SAMPLES = [
    ("the quick brown fox",),
    ("internationalization",),
    ("  padded   whitespace  ",),
    ("",),
    ("   ",),
    ("కూలెంట్ స్థాయి తనిఖీ",),
    (None,),
]


def test_accurate_token_count_fallback_contract(spark):
    """Without tiktoken (this container), accurate_token_count must be
    byte-identical to the bpe_token_count heuristic — including NULL in
    → NULL out, which both branches now share."""
    from automotive_translation_pipeline_spark.functions.text import (
        accurate_token_count,
    )

    df = spark.createDataFrame(_TOKEN_SAMPLES, "v string")
    rows = df.select(
        F.col("v"),
        accurate_token_count(F.col("v")).alias("n"),
        bpe_token_count(F.col("v")).cast("bigint").alias("h"),
    ).collect()
    nulls = [r for r in rows if r["v"] is None]
    assert nulls and all(r["n"] is None for r in nulls)  # NULL propagates
    if not _have_tiktoken():
        assert all(r["n"] == r["h"] for r in rows)


@pytest.mark.skipif(not _have_tiktoken(), reason="tiktoken not installed")
def test_accurate_token_count_tiktoken_parity(spark):
    """Where tiktoken IS installed, the pandas-UDF branch must return
    the true encoder counts (and still propagate NULL)."""
    import tiktoken

    from automotive_translation_pipeline_spark.functions.text import (
        accurate_token_count,
    )

    enc = tiktoken.get_encoding("cl100k_base")
    df = spark.createDataFrame(_TOKEN_SAMPLES, "v string")
    rows = df.select("v", accurate_token_count(F.col("v")).alias("n")).collect()
    for r in rows:
        expect = None if r["v"] is None else len(enc.encode(r["v"]))
        assert r["n"] == expect, r["v"]


def test_py_bpe_twin_matches_native(spark):
    """The pure-Python heuristic twin (the executor-side fallback inside
    the UDF) must track the native bpe_token_count expression exactly on
    every sample, so a cluster that loses tiktoken mid-fleet degrades to
    consistent counts."""
    from automotive_translation_pipeline_spark.functions.text import (
        py_bpe_token_count,
    )

    df = spark.createDataFrame(_TOKEN_SAMPLES, "v string")
    rows = df.select("v", bpe_token_count(F.col("v")).alias("h")).collect()
    for r in rows:
        assert py_bpe_token_count(r["v"]) == r["h"], repr(r["v"])


def test_collapse_word_repeats(spark):
    from pyspark.sql import functions as F

    from automotive_translation_pipeline_spark.functions.cleaning import (
        collapse_word_repeats,
    )

    df = spark.createDataFrame(
        [
            (1, "the the the model model works"),
            (2, "no repeats here"),
            (3, "  A  a b  B "),   # normalization folds case/whitespace first
            (4, "x"),
        ],
        "i bigint, t string",
    )
    out = {
        r.i: r.c
        for r in df.select("i", collapse_word_repeats(F.col("t")).alias("c")).collect()
    }
    assert out[1] == "the model works"
    assert out[2] == "no repeats here"
    assert out[3] == "a b"
    assert out[4] == "x"


def test_collapse_word_repeats_no_shuffle(spark):
    from pyspark.sql import functions as F

    from automotive_translation_pipeline_spark.functions.cleaning import (
        collapse_word_repeats,
    )

    df = spark.createDataFrame([(1, "a a b")], "i bigint, t string")
    plan = (
        df.select(collapse_word_repeats(F.col("t")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
