"""The one vector quantizer: the numpy Lloyd core and the pq_encode
argmin shared by PQ, IVF, the persisted IVF index and SemDeDup."""

from __future__ import annotations

import ast
import json
import os

import numpy as np
import pytest

import automotive_translation_pipeline_spark as pkg
from automotive_translation_pipeline_spark.sources import load_testdata

def _nearest(vecs, cents):
    """Reference assignment: the full squared distance of each
    L2-normalized row to every centroid, no matmul identity."""
    X = np.asarray(vecs, dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = np.asarray(cents, dtype=np.float64)
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def test_lloyd_core_reproduces_frozen_pq_codebook():
    """tools/train_pq_codebook.py's recipe, run on the parquet file its
    provenance names, gives the committed codebook bit for bit."""
    import pyarrow.parquet as pq

    from automotive_translation_pipeline_spark.operators.similarity import (
        _lloyd_codebook,
    )

    path = os.path.join(
        os.path.dirname(pkg.__file__), "resources", "pq_codebook_v1.json"
    )
    with open(path) as fh:
        frozen = json.load(fh)
    prov = frozen["provenance"]
    if not os.path.exists(prov["parquet"]):
        pytest.skip(f"training data {prov['parquet']} absent")
    col = pq.read_table(prov["parquet"], columns=["embedding"]).column("embedding")
    X = np.array(col.to_pylist()[:2048], dtype=np.float64)  # --train-sample
    assert len(X) == prov["train_rows"]
    got = _lloyd_codebook(
        X, m=prov["m"], n_codes=prov["n_codes"], seed=prov["seed"]
    )
    assert got == frozen["codebook"]


def test_ivf_index_cells_are_nearest_written_centroid(spark, sf_dir, tmp_path):
    from automotive_translation_pipeline_spark.operators.similarity import (
        build_ivf_index,
    )

    emb = load_testdata(spark, sf_dir)["embeddings"]
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=8)
    cents = [
        r["centroid"]
        for r in spark.read.parquet(f"{idx}/centroids").orderBy("cell").collect()
    ]
    assert len(cents) == 8
    rows = spark.read.parquet(f"{idx}/corpus").select("embedding", "cell").collect()
    assert len(rows) == emb.count()
    cells = np.array([r["cell"] for r in rows])
    assert (cells == _nearest([r["embedding"] for r in rows], cents)).all()


def test_semantic_dedup_cells_are_nearest_centroid(spark, sf_dir):
    """SemDeDup's output cell is the argmin against the quantizer's
    centroids, and the quantizer fit is the same on every call. The
    fit cap is below the 500-vector corpus, so the fit runs on the
    hash sample while every vector is assigned."""
    from automotive_translation_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )
    from automotive_translation_pipeline_spark.operators.similarity import (
        _coarse_quantize,
    )

    emb = load_testdata(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    out = {
        r["vec_id"]: r["cell"]
        for r in semantic_dedup(emb, n_cells=6, threshold=0.9, fit_cap=200).collect()
    }
    _, cent_df = _coarse_quantize(emb, 6, fit_cap=200)
    cents = [r["__centroid"] for r in cent_df.orderBy("__cell").collect()]
    vecs = emb.collect()
    assert len(out) == len(vecs)
    want = _nearest([r["embedding"] for r in vecs], cents)
    assert [out[r["vec_id"]] for r in vecs] == want.tolist()


def test_package_does_not_import_pyspark_ml():
    offenders = []
    for dirpath, _, files in os.walk(os.path.dirname(pkg.__file__)):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    mods = [node.module or ""]
                else:
                    continue
                if any(m == "pyspark.ml" or m.startswith("pyspark.ml.") for m in mods):
                    offenders.append(f"{path}:{node.lineno}")
    assert offenders == []
