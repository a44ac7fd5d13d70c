"""Round-6 curation operators: segment removal, temperature mixing,
hashed classifier, BPE pair statistics."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from automotive_translation_pipeline_spark.operators.chunking import (
    remove_duplicate_segments,
)
from automotive_translation_pipeline_spark.operators.lm import (
    bpe_top_pairs,
    bpe_train_merges,
    hashed_linear_score,
)
from automotive_translation_pipeline_spark.operators.sampling import (
    temperature_mix_rates,
    temperature_mixture_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# --- remove_duplicate_segments ------------------------------------------


def test_remove_dup_segments_first_occurrence_wins(spark):
    # 4-word blocks; doc 2 repeats doc 1's first block verbatim.
    df = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d x y z w"),
        ],
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_segments(df, seg_words=4).collect()
    }
    assert out[1].n_segments == 2 and out[1].n_kept == 2
    assert out[1].kept_text == "a b c d e f g h"
    assert out[2].n_segments == 2 and out[2].n_kept == 1
    assert out[2].kept_text == "x y z w"


def test_remove_dup_segments_fully_duplicated_doc_stays_present(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b c d")])
    out = {
        r.doc_id: r
        for r in remove_duplicate_segments(df, seg_words=4).collect()
    }
    assert set(out) == {1, 2}
    assert out[2].n_kept == 0 and out[2].kept_text == ""


def test_remove_dup_segments_within_doc_repeat_dropped(spark):
    # Same block twice INSIDE one doc: the later copy is dropped too.
    df = _docs(spark, [(5, "a b c d a b c d e f g h")])
    r = remove_duplicate_segments(df, seg_words=4).collect()[0]
    assert (r.n_segments, r.n_kept) == (3, 2)
    assert r.kept_text == "a b c d e f g h"


def test_remove_dup_segments_partial_tail_block(spark):
    # 6 words at seg_words=4: blocks "a b c d" and "e f".
    df = _docs(spark, [(1, "a b c d e f")])
    r = remove_duplicate_segments(df, seg_words=4).collect()[0]
    assert (r.n_segments, r.n_kept) == (2, 2)
    assert r.kept_text == "a b c d e f"


# --- temperature mixing --------------------------------------------------


def test_temperature_rates_flatten_toward_small_groups(spark):
    # 90/10 split: at alpha=0.5 the small group's keep-rate must exceed
    # the large group's (rate ∝ 1/sqrt(n)).
    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    # target 0.3 keeps both rates below the min(1, .) cap — at 0.5 the
    # small group would clamp and distort the ratio.
    rates = {
        r.source: r.rate
        for r in temperature_mix_rates(df, "source", 0.3).collect()
    }
    assert rates["small"] > rates["big"]
    # rate ratio equals sqrt(n_big / n_small) up to quantization, while
    # the RAW probability ratio would be 9x — temperature halves it.
    assert rates["small"] / rates["big"] == pytest.approx(
        math.sqrt(90 / 10), rel=0.01
    )


def test_temperature_sample_is_deterministic_and_a_subset(spark):
    rows = [(i, "s" + str(i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    a = sorted(
        r.doc_id
        for r in temperature_mixture_sample(df, "source", "doc_id", 0.5).collect()
    )
    b = sorted(
        r.doc_id
        for r in temperature_mixture_sample(df, "source", "doc_id", 0.5).collect()
    )
    assert a == b and 0 < len(a) < 300


def test_temperature_target_fraction_hits_overall_size(spark):
    rows = [(i, "s" + str(i % 4)) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    kept = temperature_mixture_sample(df, "source", "doc_id", 0.5).count()
    # Hash-threshold quantization and per-group rounding put the
    # achieved size within a few percent of the target.
    assert abs(kept - 1000) < 100


# --- hashed linear classifier -------------------------------------------


def test_hashed_score_bounded_and_deterministic(spark):
    df = _docs(spark, [(1, "alpha beta gamma delta"), (2, "alpha alpha")])
    out1 = {r.doc_id: r for r in hashed_linear_score(df).collect()}
    out2 = {r.doc_id: r for r in hashed_linear_score(df).collect()}
    for d in (1, 2):
        assert out1[d].score_micro == out2[d].score_micro
        assert -1_000_000 <= out1[d].score_micro < 1_000_000
    assert out1[1].n_words == 4 and out1[2].n_words == 2


def test_hashed_score_repeat_word_is_its_own_weight(spark):
    # A doc of one repeated word scores exactly that word's weight.
    one = hashed_linear_score(_docs(spark, [(1, "zzz")])).collect()[0]
    rep = hashed_linear_score(_docs(spark, [(2, "zzz zzz zzz")])).collect()[0]
    assert one.score_micro == rep.score_micro


# --- BPE top pairs -------------------------------------------------------


def test_bpe_pairs_weighted_by_word_frequency(spark):
    # "ab" appears in both words; word freq weights: ab=3+2, bc=3.
    df = _docs(spark, [(1, "abc abc abc ab ab")])
    out = {r.pair: r.pair_count for r in bpe_top_pairs(df, k=10).collect()}
    assert out == {"ab": 5, "bc": 3}


def test_bpe_single_char_words_contribute_nothing(spark):
    df = _docs(spark, [(1, "a b c a b")])
    assert bpe_top_pairs(df, k=10).collect() == []


def test_bpe_topk_tiebreak_is_total(spark):
    df = _docs(spark, [(1, "xy zw xy zw")])
    out = [(r.pair, r.pair_count) for r in bpe_top_pairs(df, k=1).collect()]
    # Equal counts: lexicographically smaller pair wins the cut.
    assert out == [("xy", 2)]


# --- SemDeDup ------------------------------------------------------------


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_semantic_dedup_planted_copy_collapses(spark):
    from automotive_translation_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [1.0, 0.0, 0.0, 0.0]),  # exact copy of 1
    ]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            _emb(spark, base), n_cells=2, threshold=0.95
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["component"] == out[4]["component"]
    # Exactly one of the identical pair survives; equal centroid
    # cosines tie-break to the smaller id.
    assert out[1]["is_canonical"] and not out[4]["is_canonical"]
    # Unrelated vectors are their own singleton components.
    assert out[2]["is_canonical"] and out[3]["is_canonical"]
    assert out[2]["component"] != out[3]["component"]


def test_semantic_dedup_keeps_least_central_member(spark):
    from automotive_translation_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    # Two near-identical vectors plus a decoy cluster. The survivor
    # must be the member with the LOWER cosine to the cell centroid
    # (SemDeDup keeps the edge example, not the central one).
    rows = [
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [1.0, 0.30, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
        (4, [-1.0, 0.1, 0.0, 0.0]),
    ]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            _emb(spark, rows), n_cells=2, threshold=0.9
        ).collect()
    }
    pair = sorted(
        [out[1], out[2]], key=lambda r: r["centroid_cos"]
    )
    assert out[1]["component"] == out[2]["component"]
    assert pair[0]["is_canonical"] and not pair[1]["is_canonical"]


def test_semantic_dedup_deterministic(spark):
    from automotive_translation_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    rows = [(i, [float((i * 7 + j) % 5), float(j), 1.0, 0.0]) for i in range(30) for j in [0]]
    df = _emb(spark, rows)
    a = sorted(
        (r["vec_id"], r["component"], r["is_canonical"])
        for r in semantic_dedup(df, n_cells=4, threshold=0.99).collect()
    )
    b = sorted(
        (r["vec_id"], r["component"], r["is_canonical"])
        for r in semantic_dedup(df, n_cells=4, threshold=0.99).collect()
    )
    assert a == b


def test_cell_pairs_arrow_parity_with_column_form(spark):
    """SemDeDup's per-cell pair step (the GEMM in ``_cell_pairs``, run
    by the grouped Arrow kernel) returns the same pair set and (to
    5e-5) the same cosines as the column-expression embedding_near_dup
    on the same blocks."""
    import numpy as np

    from automotive_translation_pipeline_spark.operators.dedup import (
        _cell_pairs,
        embedding_near_dup,
    )
    from automotive_translation_pipeline_spark.sources import load_testdata

    emb = load_testdata(spark, "/root/testdata/sf0.001")["embeddings"]
    blocked = emb.withColumn("__cell", (F.col("vec_id") % 4).cast("int"))
    col_form = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup(
            blocked, threshold=0.4, block_col="__cell"
        ).collect()
    }
    cells: dict = {}
    for r in blocked.select("vec_id", "embedding", "__cell").collect():
        cells.setdefault(r["__cell"], []).append((r["vec_id"], r["embedding"]))
    gemm_form = {}
    for members in cells.values():
        members.sort()  # the kernel sorts each cell by id
        ids = [v for v, _ in members]
        x = np.array([e for _, e in members], dtype=np.float64)
        i, j, cos = _cell_pairs(x, 0.4)
        gemm_form.update({(ids[a], ids[b]): c for a, b, c in zip(i, j, cos)})
    assert set(gemm_form) == set(col_form)
    for k, v in gemm_form.items():
        # column form rounds to 4 digits on output
        assert abs(v - col_form[k]) < 5e-5


# --- BPE training loop ----------------------------------------------------


def test_bpe_train_first_round_matches_top_pairs(spark):
    df = _docs(spark, [(1, "hello hello help yes yes yes")])
    top = bpe_top_pairs(df, k=1).collect()[0]
    merges = bpe_train_merges(df, n_merges=1).collect()
    assert len(merges) == 1
    m = merges[0]
    assert (m["left"] + m["right"], m["pair_count"]) == (
        top["pair"], top["pair_count"],
    )


def test_bpe_train_merges_compound_across_rounds(spark):
    # "aaab" x3: round 1 merges (a,a) -> [aa, a, b]; round 2's top pair
    # among {aa a, a b} ties at 3 -> lexicographic picks (a, b);
    # round 3 merges (aa, ab).
    df = _docs(spark, [(1, "aaab aaab aaab")])
    merges = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train_merges(df, n_merges=3).collect()
    ]
    assert merges == [(1, "a", "a", 6), (2, "a", "b", 3), (3, "aa", "ab", 3)]


def test_bpe_train_greedy_nonoverlapping_within_word(spark):
    # "aaaa": pairs (a,a) count 3 per word, but the MERGE is greedy
    # left-to-right non-overlapping: aaaa -> [aa, aa], never [a,aa,a].
    df = _docs(spark, [(1, "aaaa aaaa")])
    merges = bpe_train_merges(df, n_merges=2).collect()
    assert (merges[0]["left"], merges[0]["right"]) == ("a", "a")
    # Round 2 must see [aa, aa] (pair (aa,aa) count 2), not overlap
    # artifacts.
    assert (merges[1]["left"], merges[1]["right"], merges[1]["pair_count"]) == (
        "aa", "aa", 2,
    )


def test_bpe_tokenize_stats_applies_learned_merges(spark):
    # "aaab" x3 under 3 merges collapses to ONE token per word
    # ((a,a) -> (a,b) -> (aa,ab), see the compound-rounds test);
    # "cd" x2 gets its own (c,d) merge only if it wins a round — with
    # n_merges=3 all three rounds go to the aaab chain or cd; verify
    # the per-group totals line up with the learned segmentation.
    from automotive_translation_pipeline_spark.operators.lm import (
        bpe_tokenize_stats,
    )

    df = spark.createDataFrame(
        [("en", "aaab aaab aaab"), ("de", "aaab cd")],
        "lang string, text string",
    )
    out = {r.lang: r for r in bpe_tokenize_stats(df, n_merges=3).collect()}
    # Corpus-wide training: aaab appears 4x -> merges (a,a)x8, then
    # (a,b)x4, then (aa,ab)x4; cd never wins a round so stays [c, d].
    assert out["en"].n_words == 3 and out["en"].n_tokens == 3
    assert out["en"].tokens_per_word_micro == 1_000_000
    assert out["de"].n_words == 2 and out["de"].n_tokens == 1 + 2
    assert out["de"].tokens_per_word_micro == 1_500_000
