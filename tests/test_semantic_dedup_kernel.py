"""SemDeDup's grouped per-cell kernel against a brute-force reference,
its numpy component labeling, and its Spark job budget."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from automotive_translation_pipeline_spark.operators.dedup import (
    _min_labels,
    embedding_near_dup,
    semantic_dedup,
)
from automotive_translation_pipeline_spark.sources import load_testdata


def _reference(emb, out, threshold):
    """Brute force: the corpus-wide ``embedding_near_dup`` pairs whose
    ends share an output cell, merged by union-find, each component
    labeled with its min id; the survivor is the lowest
    (centroid_cos, id). Returns ``{id: (component, is_canonical)}``."""
    parent = {v: v for v in out}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for r in embedding_near_dup(emb, threshold=threshold).collect():
        a, b = r["id_a"], r["id_b"]
        if out[a]["cell"] == out[b]["cell"]:
            parent[find(a)] = find(b)
    members: dict = {}
    for v in out:
        members.setdefault(find(v), []).append(v)
    want = {}
    for vs in members.values():
        keep = min(vs, key=lambda v: (out[v]["centroid_cos"], v))
        for v in vs:
            want[v] = (min(vs), v == keep)
    return want


def _planted(spark, sf_dir):
    """The accuracy hook's input: the corpus plus 20 exact copies."""
    emb = load_testdata(spark, sf_dir)["embeddings"].filter(
        F.col("vec_id") < 2000
    ).select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(planted)


@pytest.mark.parametrize(
    "case", ["catalog_sf0.01", "planted_sf0.001"]
)
def test_semantic_dedup_matches_brute_force(spark, case):
    if case == "catalog_sf0.01":
        emb = load_testdata(spark, "/root/testdata/sf0.01")["embeddings"]
        n_cells = None
    else:
        emb = _planted(spark, "/root/testdata/sf0.001")
        n_cells = 16
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, n_cells=n_cells, threshold=0.4).collect()
    }
    assert len(out) == emb.count()
    want = _reference(emb, out, 0.4)
    got = {v: (r["component"], r["is_canonical"]) for v, r in out.items()}
    assert got == want
    # Non-trivial: some component has more than one member.
    assert any(not keep for _, keep in got.values())


def test_semantic_dedup_centroid_cos_is_cosine_to_own_centroid(spark, sf_dir):
    """centroid_cos is the plain cosine of each vector to the centroid of
    the cell it was assigned (the kernel reads the codebook it closes
    over, not a per-row column)."""
    from automotive_translation_pipeline_spark.operators.similarity import (
        _coarse_quantize,
    )

    emb = _planted(spark, sf_dir)
    out = semantic_dedup(emb, n_cells=16, threshold=0.4).collect()
    _, cent_df = _coarse_quantize(emb, 16)
    cents = {c: np.array(v) for c, v in cent_df.collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    for r in out:
        x, c = vecs[r["vec_id"]], cents[r["cell"]]
        want = float(x @ c / (np.linalg.norm(x) * np.linalg.norm(c)))
        assert abs(r["centroid_cos"] - want) < 1e-12


def test_min_labels_chain_and_islands():
    """A 200-node path given in shuffled edge order collapses to label 0;
    an isolated node keeps its own label; a second component is labeled
    by its smallest member."""
    rng = np.random.default_rng(7)
    chain = np.array([(k, k + 1) for k in range(199)])
    other = np.array([(205, 203), (203, 204)])
    edges = np.concatenate([chain, other])
    edges = edges[rng.permutation(len(edges))]
    label = _min_labels(206, edges[:, 0], edges[:, 1])
    assert (label[:200] == 0).all()
    assert label[200:203].tolist() == [200, 201, 202]
    assert label[203:].tolist() == [203, 203, 203]
    assert _min_labels(3, np.array([], int), np.array([], int)).tolist() == [0, 1, 2]


def test_semantic_dedup_job_budget(spark, sf_dir):
    """Building and collecting SemDeDup at sf0.001 runs at most 8 Spark
    jobs: the count, the quantizer's fit-set collect and the one grouped
    pass (no per-round component jobs, no checkpoint)."""
    sc = spark.sparkContext
    group = "semantic-dedup-job-budget"
    sc.setJobGroup(group, group)
    try:
        emb = load_testdata(spark, sf_dir)["embeddings"]
        semantic_dedup(emb, n_cells=None, threshold=0.4).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, sorted(jobs)
