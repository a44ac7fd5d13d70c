"""Bounded accuracy checks for the rows-only catalog entries.

Nine catalog queries have no DuckDB oracle BY NATURE (approximate
sketches, engine-specific hashes or clustering, iterative selection;
SimHash graduated to a portable md5 oracle in round 6, the HLL and GK
bound checks to in-query bounded-error oracles in round 7). Each one still has
a quantitative contract — recall vs an exact twin, one-sided sketch
error, rank-accuracy of a quantile sketch — asserted by pytest. This
module packages those same contracts as sweep-runnable hooks so
``tools/check_correctness.py`` can print a pass/fail accuracy line for
the unverifiable set in the SAME run that oracle-checks everything
else: the rows-only entries become bounded-verified, not just
row-counted.

Every check is ``(spark, sf_dir) -> (ok, detail)`` and mirrors the
bound its pytest twin asserts (noted per check), so the sweep and the
test suite can never disagree about what "accurate" means.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .sources import load_testdata

Check = Callable[[SparkSession, str], tuple[bool, str]]


def _recall_topk(exact_rows, approx_rows) -> float:
    exact: dict = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    got: dict = {}
    for r in approx_rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(got.get(q, set()) & hits) / len(hits) for q, hits in exact.items()
    ]
    return sum(recalls) / len(recalls) if recalls else 0.0


def _bruteforce_top10(spark, sf_dir):
    from .operators.similarity import cosine_topk_bruteforce

    emb = load_testdata(spark, sf_dir)["embeddings"]
    return cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 5), k=10
    ).collect()


# (agg_approx_distinct and profile_approx_quantiles graduated to
# bounded-error DuckDB oracles in round 7 — the query itself now emits
# the exact value plus the bound verdict, so a sketch-contract
# violation hash-FAILs in the sweep; their table-vs-hook checks
# retired with them.)

# (dedup_simhash_buckets graduated to a full DuckDB oracle in round 6
# — portable md5-based 60-bit simhash — so its table==scalar hook
# retired; the scalar-parity property lives on in
# test_simhash_table_matches_scalar.)


def _exact_pair_cosines(spark, sf_dir, pairs):
    """Exact cosine for specific (query_id, vec_id) pairs, computed
    driver-side over the fetched vectors — scale-independent (a
    top-500 brute-force map stops covering LSH's out-of-top hits once
    the corpus outgrows it; at sf3 that misread a CORRECT score as a
    mismatch)."""
    import numpy as np

    emb = load_testdata(spark, sf_dir)["embeddings"]
    ids = sorted({i for p in pairs for i in p})
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.filter(F.col("vec_id").isin(ids)).collect()
    }
    out = {}
    for q, v in pairs:
        a, b = vecs[q], vecs[v]
        out[(q, v)] = float(
            a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        )
    return out


def check_ann_lsh(spark, sf_dir):
    """Every LSH hit is a genuine exact cosine (subset property,
    test_lsh_topk_subset_of_bruteforce_corpus) and each query returns
    at least one hit. Scores verify against per-pair exact cosines."""
    from .operators.similarity import cosine_topk_lsh

    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    approx = cosine_topk_lsh(emb, queries, k=10, n_planes=6).collect()
    exact = _exact_pair_cosines(
        spark, sf_dir, {(r["query_id"], r["vec_id"]) for r in approx}
    )
    qids = {r["query_id"] for r in approx}
    bad = [
        r
        for r in approx
        if abs(r["cosine"] - exact[(r["query_id"], r["vec_id"])]) > 1e-6
    ]
    # Diagnostic for the FULL ann_cosine_lsh oracle's one cross-engine
    # float-exactness dependency: each bucket bit is sign(dot(v, plane))
    # evaluated independently in Spark (F.aggregate sequential sum) and
    # DuckDB (list_sum). A summation-order/FMA difference on a
    # near-zero projection would flip a bit and change the candidate
    # SET — a hard hash-red. Report the corpus-wide minimum |projection|
    # margin so a future red is diagnosable as a sign-flip (margin
    # ~1e-13-ish) rather than a logic bug (margin comfortably large).
    from .operators.similarity import _deterministic_planes

    dim = len(emb.select("embedding").first()[0])
    margins = [
        F.abs(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(float(x)) for x in p]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        for p in _deterministic_planes(6, dim)
    ]
    min_margin = (
        emb.select(F.least(*margins).alias("__m"))
        .agg(F.min("__m"))
        .first()[0]
    )
    ok = len(qids) == 5 and not bad
    return ok, (
        f"queries_hit={len(qids)}/5 score_mismatches={len(bad)} "
        f"min_abs_projection={min_margin:.3e}"
    )


def check_ann_ivf(spark, sf_dir):
    """Mean recall@10 vs brute force >= 0.5
    (test_ivf_topk_recall_vs_bruteforce)."""
    from .operators.similarity import cosine_topk_ivf

    emb = load_testdata(spark, sf_dir)["embeddings"]
    rec = _recall_topk(
        _bruteforce_top10(spark, sf_dir),
        cosine_topk_ivf(
            emb, emb.filter(F.col("vec_id") < 5), k=10, n_cells=8, n_probe=4
        ).collect(),
    )
    return rec >= 0.5, f"mean_recall@10={rec:.2f} (>=0.5)"


def check_ann_pq(spark, sf_dir):
    """Mean recall@10 vs brute force >= 0.5
    (test_pq_topk_recall_vs_bruteforce). The re-rank shortlist scales
    with the corpus (~3%, floor 64): PQ's contract is
    shortlist-then-exact-re-rank, and a FIXED 64-of-60k shortlist at
    sf3 tests a misconfiguration, not the operator. Codebook
    resolution matters as much as the shortlist — measured at sf0.1
    (2k vectors): 16 codes @ 2% -> 0.42-0.48 (round-6 near-miss),
    32 codes @ 3.2% -> 0.60, 64 codes -> 0.76 at 2x the expression
    cost; the library default is now 32."""
    from .operators.similarity import cosine_topk_pq, frozen_pq_codebook

    emb = load_testdata(spark, sf_dir)["embeddings"]
    rerank = max(64, emb.count() // 32)
    # Frozen codebook (round 10): the hook measures the SHIPPED
    # configuration — the committed codebook the oracle replays — not
    # a freshly-trained one.
    rec = _recall_topk(
        _bruteforce_top10(spark, sf_dir),
        cosine_topk_pq(
            emb, emb.filter(F.col("vec_id") < 5), k=10, rerank=rerank,
            codebook=frozen_pq_codebook(),
        ).collect(),
    )
    return rec >= 0.5, f"mean_recall@10={rec:.2f} (>=0.5, rerank={rerank})"


def check_ann_ivf_indexed(spark, sf_dir):
    """The persisted-index IVF keeps the same recall bound as the
    in-memory IVF (test_ivf_indexed_matches_inmemory_and_prunes pins
    exact parity; here the recall floor doubles as a staleness check
    on the written index)."""
    from urllib.parse import urlparse

    from .operators.similarity import build_ivf_index, cosine_topk_ivf_indexed

    emb = load_testdata(spark, sf_dir)["embeddings"]
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    idx = f"{warehouse}/ann_ivf_index_accuracy"
    build_ivf_index(emb, idx, n_cells=8)
    rec = _recall_topk(
        _bruteforce_top10(spark, sf_dir),
        cosine_topk_ivf_indexed(
            spark, idx, emb.filter(F.col("vec_id") < 5), k=10, n_probe=4
        ).collect(),
    )
    return rec >= 0.5, f"mean_recall@10={rec:.2f} (>=0.5)"


def check_ann_mmr(spark, sf_dir):
    """MMR scores are exact cosines, ranks are a 1..k permutation per
    query (the test_extensions MMR contract)."""
    from .operators.similarity import mmr_rerank

    emb = load_testdata(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    rows = mmr_rerank(emb, queries, k=10, fetch_k=40, lambda_=0.7).collect()
    exact = _exact_pair_cosines(
        spark, sf_dir, {(r["query_id"], r["vec_id"]) for r in rows}
    )
    ranks: dict = {}
    bad_scores = 0
    for r in rows:
        ranks.setdefault(r["query_id"], []).append(r["mmr_rank"])
        if abs(r["cosine"] - exact[(r["query_id"], r["vec_id"])]) > 1e-6:
            bad_scores += 1
    bad_ranks = [q for q, rk in ranks.items() if sorted(rk) != list(range(1, 11))]
    ok = len(ranks) == 5 and not bad_scores and not bad_ranks
    return ok, (
        f"queries={len(ranks)}/5 score_mismatches={bad_scores} "
        f"bad_rank_queries={len(bad_ranks)}"
    )


def check_heavy_hitters_cms(spark, sf_dir):
    """CMS top-10 vs the exact top-10: >=8 overlap, never
    under-counts, overestimate bounded (test_cms_matches_exact_topk)."""
    from .operators.sketches import topk_heavy_hitters_cms

    words = load_testdata(spark, sf_dir)["documents"].select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    )
    exact = {
        r["w"]: r["n"]
        for r in words.groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(10)
        .collect()
    }
    got = topk_heavy_hitters_cms(words, "w", k=10)
    overlap = len({w for w, _ in got} & set(exact))
    under = sum(1 for w, est in got if w in exact and est < exact[w])
    loose = sum(
        1 for w, est in got if w in exact and est > exact[w] * 1.2 + 10
    )
    ok = overlap >= 8 and under == 0 and loose == 0
    return ok, f"top10_overlap={overlap}/10 undercounts={under} loose={loose}"


def check_hll_mergeable(spark, sf_dir):
    """Per-language Datasketches-HLL estimate within 3% of the exact
    distinct fingerprint count — ~2 sigma of the default sketch's
    ~1.6% rsd (a 2% bound is ~1.3 sigma and flaked at sf3 with a
    measured 2.06% on one language; the estimator was behaving
    exactly to spec)."""
    from .functions.text import doc_fingerprint

    docs = load_testdata(spark, sf_dir)["documents"].select(
        "lang", doc_fingerprint(F.col("text")).alias("fp")
    )
    exact = {
        r["lang"]: r["n"]
        for r in docs.distinct().groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    est = {
        r["lang"]: r["e"]
        for r in docs.groupBy("lang")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("fp")).alias("e"))
        .collect()
    }
    worst = max(
        abs(est[lang] - n) / max(n, 1) for lang, n in exact.items()
    )
    return worst <= 0.03, f"worst_rel_err={worst:.4f} (<=0.03)"


def check_semantic_dedup(spark, sf_dir):
    """Planted exact duplicates (20 copied vectors at shifted ids) must
    ALL be pruned — identical vectors land in the same quantizer cell and
    cosine 1.0 always clears the threshold, so planted-dup recall is a
    hard 1.0 bound, not a tolerance. Ambient cell-recall (what fraction
    of corpus-wide >= 0.4 pairs the cells capture) is reported as
    detail; SemDeDup gives no bound there by design.

    The corpus is bounded to vec_id < 2000 on both sides — the same
    scale-aware bound as the dedup_embedding_pairs oracle (a no-op at
    sf <= 0.1): the ambient comparison is inherently all-pairs, and an
    unbounded hook at sf1 is 200M list-lambda dot products."""
    from .operators.dedup import embedding_near_dup, semantic_dedup

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"].filter(F.col("vec_id") < 2000).select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(
        emb.unionByName(planted), n_cells=16, threshold=0.4
    ).persist()
    rows = {r["vec_id"]: r for r in out.collect()}
    # Each planted copy must share a component with its original, and
    # exactly one of the two can remain canonical.
    missed = []
    for i in range(20):
        a, b = rows[i], rows[i + 1_000_000]
        if a["component"] != b["component"] or (
            a["is_canonical"] and b["is_canonical"]
        ):
            missed.append(i)
    # Ambient recall over the unplanted corpus (report only).
    brute = [
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup(emb, threshold=0.4).collect()
    ]
    cells = {v: r["cell"] for v, r in rows.items()}
    same = sum(1 for a, b in brute if cells[a] == cells[b])
    out.unpersist()
    # Soft floor on the ambient numbers (round 10, VERDICT r9 #7): the
    # planted bound can't see a quantizer regression that silently halves
    # how many corpus-wide near-dup pairs land in one cell. Absolute
    # recall is geometry- and cell-count-dependent (numpy Lloyd, 16
    # cells: 0.24 at sf0.001, 0.34 at sf0.01, 0.27 at sf0.1 — all
    # healthy), so the floor is QUALITY-relative: an uninformative
    # assignment puts a pair same-cell with probability
    # Σ nᵢ(nᵢ−1)/N(N−1); a healthy quantizer captures about 4-5.5× that
    # (3.8× at sf0.001), so requiring ≥3× random
    # trips on a clustering collapse at any SF without flaking on
    # geometry. Skipped when the bounded corpus has <10 ambient pairs
    # (a ratio of a handful of pairs is noise, not signal).
    from collections import Counter

    cell_recall = same / len(brute) if brute else 1.0
    sizes = Counter(cells.values())
    n_tot = sum(sizes.values())
    p_rand = sum(s * (s - 1) for s in sizes.values()) / max(
        n_tot * (n_tot - 1), 1
    )
    floor = 3.0 * p_rand
    recall_ok = len(brute) < 10 or cell_recall >= floor
    detail = (
        f"planted_missed={missed or 0} ambient_pairs={len(brute)} "
        f"cell_captured={same} cell_recall={cell_recall:.2f} "
        f"(>= 3x random = {floor:.3f})"
    )
    return (not missed) and recall_ok, detail


def check_pca_recon(spark, sf_dir):
    """PCA contract (pytest twin: test_curation_round6b.py): projection
    MSE is monotone non-increasing in k, full-rank reconstruction is
    exact to float tolerance, and variance_explained is a fraction."""
    from .operators.embeddings import pca_reconstruction_report
    from .sources import load_testdata

    emb = load_testdata(spark, sf_dir)["embeddings"]

    def weighted_mse(k):
        rows = pca_reconstruction_report(emb, k=k).collect()
        n = sum(r["n_vecs"] for r in rows)
        return (
            sum(r["mean_recon_mse"] * r["n_vecs"] for r in rows) / n,
            rows[0]["variance_explained"],
        )

    m8, e8 = weighted_mse(8)
    m32, e32 = weighted_mse(32)
    d = len(emb.select("embedding").first()[0])
    mfull, efull = weighted_mse(d)
    ok = (
        m32 <= m8
        and mfull < 1e-9
        and 0.0 < e8 <= e32 <= efull <= 1.0 + 1e-9
    )
    detail = (
        f"mse8={m8:.6f} mse32={m32:.6f} mse_full={mfull:.2e} "
        f"expl8={e8} expl32={e32}"
    )
    return ok, detail


ACCURACY_CHECKS: dict[str, Check] = {
    "ann_cosine_lsh": check_ann_lsh,
    "ann_cosine_ivf": check_ann_ivf,
    "ann_cosine_pq": check_ann_pq,
    "ann_cosine_ivf_indexed": check_ann_ivf_indexed,
    "heavy_hitters_cms": check_heavy_hitters_cms,
    "agg_hll_mergeable": check_hll_mergeable,
    "ann_mmr_diversified": check_ann_mmr,
    "dedup_semantic_prune": check_semantic_dedup,
    "embedding_pca_recon": check_pca_recon,
}
