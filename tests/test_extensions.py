"""Extension-operator tests: sketches, SimHash, similarity recall."""

from __future__ import annotations

import pyspark.sql.functions as F

from automotive_translation_pipeline_spark.operators.dedup import simhash64
from automotive_translation_pipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from automotive_translation_pipeline_spark.sources import load_testdata


def test_approx_count_distinct_accuracy(spark, sf_dir):
    t = load_testdata(spark, sf_dir)
    exact = t["events"].select("user_id").distinct().count()
    approx = t["events"].agg(
        F.approx_count_distinct("user_id").alias("a")
    ).first()["a"]
    # HLL default rsd=5%; allow 10% slack.
    assert abs(approx - exact) <= max(2, exact * 0.10)


def test_simhash_similar_texts_close(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the creek"),
        (3, "completely different words about spark catalyst optimizer plans"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    h = {r["id"]: r["h"] for r in df.select("id", simhash64(F.col("text")).alias("h")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(h[1], h[2]) < hamming(h[1], h[3])
    assert hamming(h[1], h[2]) < hamming(h[2], h[3])


def test_lsh_topk_subset_of_bruteforce_corpus(spark, sf_dir):
    """LSH results are genuine cosine scores (agree with brute force on
    the pairs it does return) and recall≥1 hit for each query."""
    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["vec_id"]): round(r["cosine"], 6)
        for r in cosine_topk_bruteforce(emb, queries, k=500).collect()
    }
    approx = cosine_topk_lsh(emb, queries, k=10, n_planes=4).collect()
    assert approx  # buckets non-degenerate
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        assert key in exact
        assert abs(round(r["cosine"], 6) - exact[key]) < 1e-9


def test_simhash_table_matches_scalar(spark):
    from automotive_translation_pipeline_spark.operators.dedup import (
        simhash_table,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spark catalyst optimizer picks broadcast joins"),
        (3, "one two three four five six seven"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scalar = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", simhash64(F.col("text")).alias("h")
        ).collect()
    }
    table = {
        r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()
    }
    assert scalar == table

    # Portable (md5/60-bit) form: a Python reference computes the same
    # frequency-weighted per-bit majority vote from the same md5 bits.
    import hashlib

    def ref_simhash(text):
        words = " ".join(text.lower().split()).split(" ")
        hs = [
            int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words
        ]
        out = 0
        for b in range(60):
            if sum((h >> b) & 1 for h in hs) * 2 > len(hs):
                out |= 1 << b
        return out

    portable = {
        r["doc_id"]: r["simhash"]
        for r in simhash_table(df, portable=True).collect()
    }
    assert portable == {i: ref_simhash(t) for i, t in rows}


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    """IVF with a generous probe count recovers most of the exact
    top-10; scores it does return are exact cosines."""
    from automotive_translation_pipeline_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact_top = {}
    for r in cosine_topk_bruteforce(emb, queries, k=10).collect():
        exact_top.setdefault(r["query_id"], set()).add(r["vec_id"])
    ivf = cosine_topk_ivf(emb, queries, k=10, n_cells=8, n_probe=4)
    got = {}
    for r in ivf.collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(got.get(qid, set()) & hits) / len(hits)
        for qid, hits in exact_top.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_pq_topk_recall_vs_bruteforce(spark, sf_dir):
    """PQ codes + ADC + exact re-rank recover most of the exact top-10,
    and every returned score is an exact cosine (re-rank stage)."""
    from automotive_translation_pipeline_spark.operators.similarity import (
        cosine_topk_pq,
    )

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {}
    exact_scores = {}
    for r in cosine_topk_bruteforce(emb, queries, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
        exact_scores[(r["query_id"], r["vec_id"])] = r["cosine"]
    got = {}
    for r in cosine_topk_pq(emb, queries, k=10, rerank=64).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
        key = (r["query_id"], r["vec_id"])
        if key in exact_scores:  # re-ranked scores must be exact
            assert abs(exact_scores[key] - r["cosine"]) < 1e-9
    recalls = [
        len(got.get(qid, set()) & hits) / len(hits)
        for qid, hits in exact.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_ivf_indexed_matches_inmemory_and_prunes(spark, sf_dir, tmp_path):
    """The persisted-index IVF returns exactly the in-memory IVF's
    results (same quantizer seed), and its corpus scan prunes to the
    probed cell partitions."""
    from automotive_translation_pipeline_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf,
        cosine_topk_ivf_indexed,
    )

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=8)
    indexed = cosine_topk_ivf_indexed(spark, idx, queries, k=10, n_probe=4)

    mem_rows = sorted(
        (r["query_id"], r["vec_id"], round(r["cosine"], 6))
        for r in cosine_topk_ivf(
            emb, queries, k=10, n_cells=8, n_probe=4
        ).collect()
    )
    idx_rows = sorted(
        (r["query_id"], r["vec_id"], round(r["cosine"], 6))
        for r in indexed.collect()
    )
    assert mem_rows == idx_rows

    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    pruned = [
        l
        for l in plan.splitlines()
        if "FileScan" in l and "PartitionFilters: [cell" in l
    ]
    assert pruned, plan


def test_connected_components_chain_and_islands(spark):
    """A-B-C chain, an isolated D-E pair, and a 4-cycle must collapse
    to min-id labels; convergence must span multi-hop chains (C reaches
    A only through B)."""
    from automotive_translation_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [
            ("b", "c"), ("a", "b"),          # chain a-b-c
            ("d", "e"),                      # island pair
            ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w"),  # 4-cycle
        ],
        ["id_a", "id_b"],
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "d": "d", "e": "d",
        "w": "w", "x": "w", "y": "w", "z": "w",
    }


def test_connected_components_long_chain_converges(spark):
    """A 12-node path graph needs ~diameter rounds — guards the
    convergence loop (a one-round implementation would leave far nodes
    unlabeled)."""
    from automotive_translation_pipeline_spark.operators.dedup import (
        connected_components,
    )

    n = 12
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], ["id_a", "id_b"]
    )
    labels = connected_components(edges).collect()
    assert len(labels) == n + 1
    assert {r["component"] for r in labels} == {"n00"}


def test_hash_split_deterministic_and_leakproof(spark):
    """The split must be a pure function of the key: same labels across
    re-runs, repartitioning, and dataset growth (no eval/train leakage
    on incremental loads)."""
    from automotive_translation_pipeline_spark.operators.sampling import split_of

    base = spark.range(500).select(F.col("id").cast("string").alias("k"))
    lab1 = {r["k"]: r["s"] for r in base.select("k", split_of(F.col("k")).alias("s")).collect()}
    grown = spark.range(1000).select(F.col("id").cast("string").alias("k")).repartition(13)
    lab2 = {r["k"]: r["s"] for r in grown.select("k", split_of(F.col("k")).alias("s")).collect()}
    assert all(lab2[k] == v for k, v in lab1.items())
    frac = sum(1 for v in lab2.values() if v == "eval") / len(lab2)
    assert 0.05 < frac < 0.15  # ~10% with hash variance at n=1000


def test_stratified_fixed_k_exact(spark):
    from automotive_translation_pipeline_spark.operators.sampling import (
        stratified_fixed_k,
    )

    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("g"), F.col("id").alias("k")
    )
    out = stratified_fixed_k(df, "g", "k", 7)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 7, "1": 7, "2": 7}
    # deterministic: same members on a re-run
    a = {(r["g"], r["k"]) for r in out.collect()}
    b = {(r["g"], r["k"]) for r in stratified_fixed_k(df.repartition(11), "g", "k", 7).collect()}
    assert a == b


def test_dq_report_families(spark):
    """Each rule family counts exactly: row predicates, excess rows per
    duplicate key, and orphan references."""
    import pytest

    from automotive_translation_pipeline_spark.operators.quality import dq_report

    child = spark.createDataFrame(
        [(1, 10, None), (2, 10, 5.0), (2, 10, -1.0), (3, 99, 2.0)],
        ["k", "fk", "v"],
    )
    parent = spark.createDataFrame([(10,), (11,)], ["pk"])
    got = {
        r["rule"]: r["n_violations"]
        for r in dq_report(
            child,
            row_rules={
                "null_v": F.col("v").isNull(),
                "v_nonneg": F.col("v") < 0,
            },
            unique_keys={"unique_k": ["k"]},
            refs={"fk_in_parent": ("fk", parent, "pk")},
        ).collect()
    }
    assert got == {"null_v": 1, "v_nonneg": 1, "unique_k": 1, "fk_in_parent": 1}
    with pytest.raises(ValueError):
        dq_report(child)


def test_incremental_agg_merge_equals_full_recompute(spark):
    """Any slicing of the input into increments, merged in any order,
    yields the exact state a from-scratch aggregation produces."""
    from automotive_translation_pipeline_spark.operators.aggregates import (
        agg_state,
        merge_agg_states,
    )

    df = spark.range(3000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") % 100 + 0.125).alias("x"),
        (F.col("id") % 13).cast("double").alias("y"),
    )
    slices = [
        df.filter(F.col("id") % 3 == i) for i in range(3)
    ]
    states = [agg_state(s, ["g"], ["x", "y"]) for s in slices]
    merged = merge_agg_states([states[2], states[0], states[1]], ["g"])
    full = agg_state(df, ["g"], ["x", "y"])
    key = lambda r: r["g"]
    got = sorted(merged.collect(), key=key)
    want = sorted(full.collect(), key=key)
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_multimodal_feature_stats_deterministic(spark, sf_dir):
    """The synth→parse→aggregate chain is replayable: two independent
    runs produce identical rows, one per container format, and the
    parsed dimension sums are non-trivial (headers really decoded)."""
    from automotive_translation_pipeline_spark.queries_catalog import (
        multimodal_feature_stats,
    )

    a = sorted(
        (r.asDict() for r in multimodal_feature_stats(spark, sf_dir).collect()),
        key=lambda r: r["format"],
    )
    b = sorted(
        (r.asDict() for r in multimodal_feature_stats(spark, sf_dir).collect()),
        key=lambda r: r["format"],
    )
    assert a == b
    assert {r["format"] for r in a} == {"png", "jpeg", "gif", "bmp", "wav", "mp4"}
    for r in a:
        if r["format"] == "wav":
            assert r["sum_duration_ms"] > 0 and r["sum_width"] == 0
        else:
            assert r["sum_width"] > 0 and r["sum_height"] > 0


def test_edit_distance_pairs_banding_finds_cross_bucket_dups(spark):
    """Near-identical texts land in the result exactly once, even when
    their lengths straddle a bucket boundary; unrelated texts don't."""
    from automotive_translation_pipeline_spark.operators.dedup import (
        edit_distance_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dogs!!!!!!", "en"),  # near-dup, longer
        (3, "completely different sentence about spark engines here", "en"),
        (4, "the quick brown fox jumps over the lazy dog", "de"),  # other block
    ]
    docs = spark.createDataFrame(
        [(i, t, lang, len(t)) for i, t, lang, in rows],
        ["doc_id", "text", "lang", "n_chars"],
    )
    got = edit_distance_pairs(docs, len_band=10, max_dist=10).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    assert got[0]["edit_dist"] <= 10


def test_decontaminate_semantics(spark):
    """Hand-built contamination: a train doc embedding an eval 3-gram is
    flagged with the right overlap count; clean docs are not."""
    from automotive_translation_pipeline_spark.operators.dedup import (
        decontaminate,
    )

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # shares 'the quick brown', 'quick brown fox', 'brown fox jumps'
            (1, "watch the quick brown fox jumps away now"),
            (2, "completely unrelated automotive diagnostic text here"),
            (3, "the quick brown something else entirely different"),  # 1 shingle
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_shared_shingles"]
        for r in decontaminate(train, eval_df).collect()
    }
    assert got == {1: 3, 3: 1}
    strict = {
        r["doc_id"]: r["n_shared_shingles"]
        for r in decontaminate(train, eval_df, min_overlap=2).collect()
    }
    assert strict == {1: 3}


def test_canonical_survivors_election(spark):
    """Cluster {1,2,3} (chained pairs) elects the longest member; the
    singleton 9 is its own canonical component."""
    from automotive_translation_pipeline_spark.operators.dedup import (
        canonical_survivors,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (9, 5)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["component"], r["is_canonical"])
        for r in canonical_survivors(docs, pairs).collect()
    }
    # ties on n_chars=30 break toward the smaller id (2 beats 3)
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False), 9: (9, True)
    }


def test_mmr_rerank_diversifies_and_stays_deterministic(spark):
    """A query whose raw top-2 are near-identical vectors: with high
    lambda MMR keeps them; with low lambda the second pick must be the
    diverse vector instead. Rank 1 is always the raw nearest."""
    import math

    from automotive_translation_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    def unit(theta):
        return [math.cos(theta), math.sin(theta)]

    corpus = spark.createDataFrame(
        [
            (10, unit(0.00)),           # nearest to the query
            (11, unit(0.01)),           # near-duplicate of 10
            (12, unit(1.2)),            # diverse, still positive cosine
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(99, unit(0.005))], "vec_id long, embedding array<double>"
    )
    greedy = [
        r["vec_id"]
        for r in mmr_rerank(corpus, queries, k=2, fetch_k=3, lambda_=0.95)
        .orderBy("mmr_rank")
        .collect()
    ]
    diverse = [
        r["vec_id"]
        for r in mmr_rerank(corpus, queries, k=2, fetch_k=3, lambda_=0.2)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert greedy[0] == 10 and diverse[0] == 10
    assert greedy[1] == 11      # relevance-dominant keeps the near-dup
    assert diverse[1] == 12     # diversity-dominant swaps in the outlier
    again = [
        r["vec_id"]
        for r in mmr_rerank(corpus, queries, k=2, fetch_k=3, lambda_=0.2)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert again == diverse


def test_mmr_candidates_are_exact_cosines(spark, sf_dir):
    from automotive_translation_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        mmr_rerank,
    )

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["vec_id"]): round(r["cosine"], 6)
        for r in cosine_topk_bruteforce(emb, queries, k=40).collect()
    }
    out = mmr_rerank(emb, queries, k=10, fetch_k=40, lambda_=0.6).collect()
    assert out
    for r in out:
        assert abs(round(r["cosine"], 6) - exact[(r["query_id"], r["vec_id"])]) < 1e-9


def test_approx_quantiles_within_sketch_tolerance(spark, sf_dir):
    """GK-sketch quantiles must land within rank tolerance of the exact
    per-group percentiles (accuracy=10000 -> rank error <= n/10000,
    generously bounded here by value comparison at +-1% of the range)."""
    from automotive_translation_pipeline_spark.queries_catalog import (
        profile_approx_quantiles,
    )

    t = load_testdata(spark, sf_dir)
    exact = {
        r["l_returnflag"]: r
        for r in t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.5, 0.95, 0.99))"
            ).alias("p"),
            (F.max("l_extendedprice") - F.min("l_extendedprice")).alias("span"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    # The catalog entry now emits the bound VERDICT per group (round-7
    # bounded-error oracle form) — every verdict must hold, and the
    # per-group row counts must match the exact aggregation's.
    got = profile_approx_quantiles(spark, sf_dir).collect()
    assert {r["l_returnflag"] for r in got} == set(exact)
    for r in got:
        assert r["p50_ok"] and r["p95_ok"] and r["p99_ok"], r
        assert r["n_rows"] == exact[r["l_returnflag"]]["n"]
    # And the raw sketch values stay within 1% of range of the exact
    # percentiles (the original value-tolerance property).
    approx = {
        r["l_returnflag"]: r["ap"]
        for r in t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", [0.5, 0.95, 0.99], 10000
            ).alias("ap")
        )
        .collect()
    }
    for flag, e in exact.items():
        tol = float(e["span"]) * 0.01 + 1e-6
        for i in range(3):
            assert abs(approx[flag][i] - float(e["p"][i])) <= tol, (flag, i)


def test_weighted_hash_sample_contract(spark):
    """weight=0 keeps nothing, weight=1 keeps everything, and the kept
    set at p=0.5 is decided by the key hash alone (re-run identical,
    subset-stable under a smaller weight)."""
    from automotive_translation_pipeline_spark.operators.sampling import (
        weighted_hash_sample,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    assert weighted_hash_sample(df, "k", F.lit(0.0)).count() == 0
    assert weighted_hash_sample(df, "k", F.lit(1.0)).count() == 2000
    half_a = {r["k"] for r in weighted_hash_sample(df, "k", F.lit(0.5)).collect()}
    half_b = {r["k"] for r in weighted_hash_sample(df, "k", F.lit(0.5)).collect()}
    assert half_a == half_b and 800 <= len(half_a) <= 1200
    quarter = {r["k"] for r in weighted_hash_sample(df, "k", F.lit(0.25)).collect()}
    assert quarter <= half_a  # lower weight is a strict subset: same hash axis


def test_mixture_sample_hits_target_composition(spark, sf_dir):
    """The sampled mix matches the target shares (within hash-sampling
    noise), untargeted groups vanish, and the draw replays exactly."""
    from automotive_translation_pipeline_spark.operators.sampling import (
        mixture_sample,
    )

    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "lang")
    targets = {"en": 0.5, "zh": 0.3, "de": 0.2}
    out = mixture_sample(docs, "lang", "doc_id", targets)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= set(targets)
    total = sum(counts.values())
    assert total > 0
    for lang, share in targets.items():
        got = counts.get(lang, 0) / total
        assert abs(got - share) < 0.15, (lang, got, share)
    again = {r["doc_id"] for r in mixture_sample(docs, "lang", "doc_id", targets).collect()}
    assert again == {r["doc_id"] for r in out.collect()}


def test_mixture_sample_absent_target_group_yields_empty(spark, sf_dir):
    """A group named in target_shares but absent from the corpus makes
    the composition infeasible: the sample must be EMPTY, not a
    nonempty mix with 0% of that group (ADVICE round 3)."""
    from automotive_translation_pipeline_spark.operators.sampling import (
        mixture_sample,
    )

    docs = load_testdata(spark, sf_dir)["documents"].select("doc_id", "lang")
    targets = {"en": 0.8, "xx_no_such_lang": 0.2}
    assert mixture_sample(docs, "lang", "doc_id", targets).count() == 0


def test_label_centroid_outliers_flags_planted_outlier(spark):
    from automotive_translation_pipeline_spark.operators.similarity import (
        label_centroid_outliers,
    )

    # Label 0: three near-identical vectors + one pointing the opposite
    # way. The opposite vector must be the worst-ranked outlier.
    rows = [
        (1, [1.0, 0.1, 0.0], 0),
        (2, [1.0, 0.0, 0.1], 0),
        (3, [0.9, 0.1, 0.1], 0),
        (4, [-1.0, 0.0, 0.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in label_centroid_outliers(df, k_outliers=1).collect()}
    assert out[4].is_outlier and not out[1].is_outlier
    assert out[4].cosine_c < 0 < out[1].cosine_c


def test_label_centroid_outliers_per_label_independent(spark):
    from automotive_translation_pipeline_spark.operators.similarity import (
        label_centroid_outliers,
    )

    # Two labels, each with its own geometry; exactly k=1 outlier per
    # label and ranks never cross labels.
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.05], 0),
        (3, [0.0, 1.0], 0),
        (10, [0.0, 1.0], 1),
        (11, [0.05, 1.0], 1),
        (12, [1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = label_centroid_outliers(df, k_outliers=1).collect()
    flagged = sorted(r.vec_id for r in out if r.is_outlier)
    assert flagged == [3, 12]
    assert len(out) == 6


def test_label_centroid_outliers_centroid_value(spark):
    from automotive_translation_pipeline_spark.operators.similarity import (
        label_centroid_outliers,
    )

    # Single vector == its own centroid -> cosine exactly 1.
    df = spark.createDataFrame(
        [(1, [0.3, 0.4], 7)], "vec_id bigint, embedding array<float>, label int"
    )
    r = label_centroid_outliers(df, k_outliers=0).collect()[0]
    assert r.cosine_c == 1.0
    assert not r.is_outlier


def test_ngram_jaccard_matches_python_bruteforce(spark):
    """The LSH-blocked operator's pairs equal an independent all-pairs
    Python computation on a corpus with near-dups of EQUAL and of
    MISMATCHED sizes, and with a pair sitting exactly at a size
    boundary (|B| = 0.8|A| up to integer shingles). Banding can miss a
    true pair in general; the hashes are deterministic, and on this
    corpus every true pair collides in some band, so the output is
    exact: every emitted pair is verified with its exact Jaccard."""
    import itertools

    from automotive_translation_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),                                  # 8 3-shingles
        (2, base),                                  # exact dup of 1
        (3, base + " lambda"),                      # superset, close size
        (4, base + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
        # ^ much larger: shares 1's shingles but size-ratio excluded by
        #   the jaccard math itself
        (5, "one two three four five six"),
        (6, "one two three four five seven"),       # differs in tail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        inter = len(sa & sb)
        if not inter:
            continue
        j = inter / (len(sa) + len(sb) - inter)
        if j >= 0.8:
            want[(ia, ib)] = round(j, 4)

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.8).collect()
    }
    assert got == want
    assert (1, 2) in got  # the exact dup is found
    assert not any(4 in pair for pair in got)  # size-mismatched excluded
