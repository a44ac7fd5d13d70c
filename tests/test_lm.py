"""unigram_surprisal unit + plan-shape tests."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from automotive_translation_pipeline_spark import queries_catalog as qc
from automotive_translation_pipeline_spark.functions.text import normalized_text
from automotive_translation_pipeline_spark.operators import lm
from automotive_translation_pipeline_spark.operators.lm import (
    bigram_surprisal,
    unigram_surprisal,
)
from automotive_translation_pipeline_spark.sources import load_testdata


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_uniform_vocabulary_scores_ln_v(spark):
    # 4 distinct words, each appearing exactly once -> p = 1/4 for all,
    # so every document scores exactly ln(4).
    df = _docs(spark, [(1, "a b"), (2, "c d")])
    out = {r.doc_id: r for r in unigram_surprisal(df).collect()}
    assert out[1].n_words == 2
    assert abs(out[1].avg_surprisal - round(math.log(4), 4)) < 1e-9
    assert out[1].avg_surprisal == out[2].avg_surprisal


def test_rare_words_score_higher_than_common(spark):
    # 'x' dominates the corpus; the all-x doc must score lower than the
    # doc of singletons.
    df = _docs(spark, [(1, "x x x x x x"), (2, "q r s t u v")])
    out = {r.doc_id: r.avg_surprisal for r in unigram_surprisal(df).collect()}
    assert out[1] < out[2]


def test_exact_values_small_corpus(spark):
    # corpus: a a b  -> p(a)=2/3, p(b)=1/3
    df = _docs(spark, [(1, "a a"), (2, "b")])
    out = {r.doc_id: r for r in unigram_surprisal(df).collect()}
    assert out[1].avg_surprisal == round(-math.log(2 / 3), 4)
    assert out[2].avg_surprisal == round(-math.log(1 / 3), 4)
    assert out[1].n_words == 2 and out[2].n_words == 1


def test_within_doc_repeats_weighted(spark):
    # doc 1 = "a a b": mean over 3 positions, not 2 distinct words.
    df = _docs(spark, [(1, "a a b"), (2, "c")])
    r = {x.doc_id: x for x in unigram_surprisal(df).collect()}[1]
    pa, pb = 2 / 4, 1 / 4
    expected = round((2 * -math.log(pa) + 1 * -math.log(pb)) / 3, 4)
    assert r.avg_surprisal == expected
    assert r.n_words == 3


def test_single_corpus_scan_no_join_on_exploded(spark):
    # Scale contract: the corpus-side pipeline (scan -> explode ->
    # pairs -> window -> per-doc rollup) materializes ONCE as the
    # persisted per-doc aggregate; both the result branch and the
    # global-total branch must read that cache (2 InMemoryTableScans of
    # the same relation), not re-run the explode.
    df = _docs(spark, [(1, "a b c")])
    plan = unigram_surprisal(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 2


def test_deterministic_across_runs(spark):
    df = _docs(spark, [(i, f"w{i % 3} w{i % 5} common") for i in range(30)])
    a = sorted(unigram_surprisal(df).collect())
    b = sorted(unigram_surprisal(df).collect())
    assert a == b


def _recorded_observations(monkeypatch):
    """Every ``Observation`` the lm module creates, in creation order."""
    seen = []

    class Recording(lm.Observation):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            seen.append(self)

    monkeypatch.setattr(lm, "Observation", Recording)
    return seen


def test_gate_stats_observed_on_the_checkpoint(spark, sf_dir, monkeypatch):
    # The broadcast gate's (rows, chars) come from an Observation on the
    # wc checkpoint; they must equal the aggregate the gate used to run.
    seen = _recorded_observations(monkeypatch)
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    docs = load_testdata(spark, sf001)["documents"]
    unigram_surprisal(docs)
    assert len(seen) == 1
    wc = docs.select(
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("word")
    ).groupBy("word").count()
    old = wc.agg(
        F.count(F.lit(1)).alias("__rows"),
        F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("__chars"),
    ).first()
    assert seen[0].get == old.asDict()
    assert old["__rows"] > 0 and old["__chars"] > 0


def test_empty_corpus_gate_observes_zero(spark, monkeypatch):
    seen = _recorded_observations(monkeypatch)
    assert unigram_surprisal(_docs(spark, [])).collect() == []
    assert seen[0].get == {"__rows": 0, "__chars": 0}


def test_bigram_gate_observes_vocab_size(spark, monkeypatch):
    seen = _recorded_observations(monkeypatch)
    df = _docs(spark, [(1, "a b a b"), (2, "b a c")])
    out = {r.doc_id: r.n_bigrams for r in bigram_surprisal(df).collect()}
    assert out == {1: 3, 2: 2}
    assert seen[0].get == {"__rows": 3}  # (a,b) (b,a) (a,c)


def test_second_call_job_budget_unigram(spark, sf_dir):
    q = qc.queries()["text_unigram_surprisal"]
    q(spark, sf_dir).toPandas()
    sc = spark.sparkContext
    sc.setJobGroup("budget-unigram", "budget-unigram")
    try:
        q(spark, sf_dir).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("budget-unigram")) <= 9


# --- split_word_drift ------------------------------------------------------
# doc_ids 6, 22, 26 hash into the eval bucket (md5 bucket < 1000/10000);
# 0, 1, 2 land in train — precomputed from the same md5 rule the
# samplers use.

def test_split_drift_flags_eval_only_word(spark):
    from automotive_translation_pipeline_spark.operators.lm import split_word_drift

    df = _docs(
        spark,
        [
            (0, "common common filler"),
            (1, "common filler other"),
            (2, "common other filler"),
            (6, "common leakword leakword leakword"),
        ],
    )
    out = split_word_drift(df, top_k=2).collect()
    # The eval-only word dominates the JS ranking (the symmetric
    # divergence keeps full weight on eval-side mass — KL(train||eval)
    # would have buried it under the train-heavy words).
    top = out[0]
    assert top.word == "leakword"
    assert top.n_train == 0 and top.n_eval == 3
    assert top.js_term > 0


def test_split_drift_topk_and_determinism(spark):
    from automotive_translation_pipeline_spark.operators.lm import split_word_drift

    rows = [(i, f"w{i % 7} w{(i * 3) % 5} shared") for i in range(40)]
    df = _docs(spark, rows)
    a = split_word_drift(df, top_k=5).collect()
    b = split_word_drift(df, top_k=5).collect()
    assert [r.word for r in a] == [r.word for r in b]
    assert len(a) == 5
    # ranking is by the JS term, descending; terms are pointwise >= 0
    kls = [r.js_term for r in a]
    assert kls == sorted(kls, reverse=True)
    assert all(k >= 0 for k in kls)


def test_split_drift_smoothing_keeps_terms_finite(spark):
    from automotive_translation_pipeline_spark.operators.lm import split_word_drift

    # Every word exclusive to one split: nothing may be inf/NaN.
    import math

    df = _docs(spark, [(0, "onlytrain"), (6, "onlyeval")])
    out = split_word_drift(df, top_k=10).collect()
    assert out and all(math.isfinite(r.js_term) for r in out)
    # fully symmetric corpus: the two exclusive words draw equal terms
    by_word = {r.word: r.js_term for r in out}
    assert by_word["onlytrain"] == by_word["onlyeval"]


def test_char_stats_arrow_matches_column_form(spark):
    """The Arrow histogram kernel and the column-expression form are
    the same operator: identical (n, distinct, entropy) on adversarial
    inputs — empty, whitespace-only, single-char runs, unicode,
    mixed-case collapse."""
    import pyspark.sql.functions as F

    from automotive_translation_pipeline_spark.functions.text import (
        char_entropy,
        normalized_text,
    )
    from automotive_translation_pipeline_spark.operators.lm import (
        char_stats_arrow,
    )

    rows = [
        (0, ""),
        (1, "   "),
        (2, "aaaa"),
        (3, "abab"),
        (4, "The quick Brown\tfox   jumps!"),
        (5, "héllo wörld — ünïcode § text"),
        (6, "0123456789" * 7),
        (7, "x"),
        (8, None),  # NULL text: all three stats must be NULL (not 0/1/0.0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nt = normalized_text(F.col("text"))
    want = {
        r["doc_id"]: (r["n"], r["d"], r["h"])
        for r in df.select(
            "doc_id",
            F.length(nt).cast("long").alias("n"),
            F.size(F.array_distinct(F.split(nt, ""))).cast("long").alias("d"),
            char_entropy(F.col("text")).alias("h"),
        ).collect()
    }
    got = {
        r["doc_id"]: (r["n_chars_norm"], r["n_distinct_chars"], r["char_entropy"])
        for r in char_stats_arrow(df).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        if want[k][0] is None:  # NULL text row: NULL propagates in both forms
            assert got[k] == (None, None, None), (k, got[k], want[k])
            continue
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert got[k][1] == want[k][1], (k, got[k], want[k])
        assert abs(got[k][2] - want[k][2]) < 1e-9, (k, got[k], want[k])
