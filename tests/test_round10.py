"""Round-10 hardening: unigram byte-gate, bigram fp-collision guard,
the frozen PQ codebook (ADVICE r9 items)."""

from __future__ import annotations

from automotive_translation_pipeline_spark.operators import lm
from automotive_translation_pipeline_spark.operators.lm import (
    bigram_surprisal,
    unigram_surprisal,
)


def _docs(spark):
    rows = [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "alpha")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_unigram_byte_gate_forces_fallback(spark, monkeypatch):
    """A vocabulary under the ROW gate but over the BYTE gate must take
    the shuffle-hash fallback: the row constant assumed bigram-shaped
    16-byte rows, but words are variable-length strings (ADVICE r9)."""
    df = _docs(spark)
    monkeypatch.setattr(lm, "UNIGRAM_BROADCAST_MAX_BYTES", 0)
    plan = _plan(unigram_surprisal(df))
    assert "BroadcastHashJoin" not in plan
    # Values identical on both paths.
    monkeypatch.setattr(lm, "UNIGRAM_BROADCAST_MAX_BYTES", 1 << 40)
    narrow = {
        r.doc_id: r.avg_surprisal
        for r in unigram_surprisal(df).collect()
    }
    monkeypatch.setattr(lm, "UNIGRAM_BROADCAST_MAX_BYTES", 0)
    wide = {
        r.doc_id: r.avg_surprisal
        for r in unigram_surprisal(df).collect()
    }
    assert narrow == wide


def test_unigram_byte_gate_allows_broadcast_for_small_vocab(spark):
    plan = _plan(unigram_surprisal(_docs(spark)))
    assert "BroadcastHashJoin" in plan


def test_bigram_fp_check_passes_on_clean_corpus(spark, monkeypatch):
    """The opt-in collision guard runs its extra pass and stays silent
    when the hashed vocabulary is injective on this corpus."""
    monkeypatch.setenv("SPARK_GRAFT_BIGRAM_FP_CHECK", "1")
    rows = [(1, "a b a b"), (2, "b a")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.n_bigrams for r in bigram_surprisal(df).collect()}
    assert out == {1: 3, 2: 1}


def test_bigram_fp_check_flag_parsing(monkeypatch):
    for val, want in (("1", True), ("true", True), ("yes", True),
                      ("0", False), ("", False)):
        monkeypatch.setenv("SPARK_GRAFT_BIGRAM_FP_CHECK", val)
        assert lm._bigram_fp_check_enabled() is want
    monkeypatch.delenv("SPARK_GRAFT_BIGRAM_FP_CHECK")
    assert lm._bigram_fp_check_enabled() is False


def test_frozen_pq_codebook_shape_and_provenance():
    """The committed codebook must stay 8x32x8 (the oracle SQL inlines
    these dims) and carry its training provenance."""
    import json
    import os

    from automotive_translation_pipeline_spark.operators.similarity import (
        frozen_pq_codebook,
    )

    cb = frozen_pq_codebook()
    assert len(cb) == 8
    assert all(len(sub) == 32 for sub in cb)
    assert all(len(c) == 8 for sub in cb for c in sub)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "automotive_translation_pipeline_spark",
        "resources",
        "pq_codebook_v1.json",
    )
    prov = json.load(open(path))["provenance"]
    assert prov["tool"] == "tools/train_pq_codebook.py"
    assert prov["seed"] == 42


def test_pq_frozen_codebook_skips_training(spark, sf_dir, monkeypatch):
    """Passing a codebook must not re-train (no limit/collect pass)."""
    from automotive_translation_pipeline_spark.operators import similarity
    from automotive_translation_pipeline_spark.operators.similarity import (
        cosine_topk_pq,
        frozen_pq_codebook,
    )
    from automotive_translation_pipeline_spark.sources import load_testdata
    from pyspark.sql import functions as F

    def _boom(*a, **k):
        raise AssertionError("build_pq_codebook called despite codebook=")

    monkeypatch.setattr(similarity, "build_pq_codebook", _boom)
    emb = load_testdata(spark, sf_dir)["embeddings"]
    out = cosine_topk_pq(
        emb, emb.filter(F.col("vec_id") < 2), k=5, rerank=16,
        codebook=frozen_pq_codebook(),
    )
    assert out.count() > 0


# ---------------------------------------------------------------------------
# Session 3: per-task-work staging + materialization changes
# ---------------------------------------------------------------------------


def test_hist_median_matches_window_median(spark):
    """_hist_median (histogram rank-select) must reproduce the old
    row_number-window median exactly: odd and even group sizes,
    duplicated middle values, negatives."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from automotive_translation_pipeline_spark.operators.stats import (
        _hist_median,
    )

    rows = [
        ("a", v) for v in [5.0, 1.0, 3.0]                    # odd
    ] + [
        ("b", v) for v in [2.0, 2.0, 8.0, 4.0]               # even, dup mid
    ] + [
        ("c", v) for v in [-1.0, -5.0, -3.0, -3.0, 7.0, 7.0] # even, ties
    ] + [
        ("d", v) for v in [9.0]                              # singleton
    ]
    df = spark.createDataFrame(rows, "g string, v double")

    got = {r.g: r.med for r in _hist_median(df, ["g"], "v", "med").collect()}

    w_rank = Window.partitionBy("g").orderBy("v")
    w_grp = Window.partitionBy("g")
    ranked = df.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "cnt", F.count(F.lit(1)).over(w_grp)
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("cnt") / 2) + 1)
    )
    want = {
        r.g: r.med
        for r in mid.groupBy("g").agg(F.avg("v").alias("med")).collect()
    }
    assert got == want


def test_word_shingles_of_staged_parity(spark):
    """The staged word-array shingle form must yield exactly the
    inline word_shingles output (the round-10 per-task-work staging
    must be a pure evaluation-strategy change)."""
    from pyspark.sql import functions as F

    from automotive_translation_pipeline_spark.functions.text import (
        normalized_text,
        word_shingles,
        word_shingles_of,
    )

    df = spark.createDataFrame(
        [
            (1, "The  quick brown Fox jumps  over the lazy dog"),
            (2, "short one"),
            (3, "exactly three words"),
            (4, ""),
        ],
        "id long, text string",
    )
    inline = df.select(
        "id", word_shingles(F.col("text"), 3).alias("sh")
    ).collect()
    staged = (
        df.select(
            "id", F.split(normalized_text(F.col("text")), " ").alias("w")
        )
        .select("id", word_shingles_of(F.col("w"), 3).alias("sh"))
        .collect()
    )
    assert sorted((r.id, tuple(r.sh)) for r in inline) == sorted(
        (r.id, tuple(r.sh)) for r in staged
    )


def test_bpe_loop_counted_parity(spark):
    """_bpe_loop must learn identical merges from raw words and from a
    pre-counted (word, wf) vocabulary (the bpe_tokenize_stats
    single-corpus-pass path)."""
    from pyspark.sql import functions as F

    from automotive_translation_pipeline_spark.operators.lm import _bpe_loop

    words = spark.createDataFrame(
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6
        + [("widest",)] * 3 + [("??",)] * 4,   # non-\w+ filtered out
        "word string",
    )
    _, merges_raw = _bpe_loop(words, 3)
    counted = words.groupBy("word").agg(F.count(F.lit(1)).alias("wf"))
    _, merges_counted = _bpe_loop(counted, 3, counted=True)
    assert merges_raw == merges_counted
    assert len(merges_raw) == 3

