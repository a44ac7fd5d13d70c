"""Embedding storage transforms: per-vector int8 quantization.

At 100 TB the embedding column IS the storage problem — float32 x 768
dims dominates the table. Symmetric per-vector int8 quantization
(scale = max|v| / 127, q = round(v / scale)) cuts it 4x and is the
standard serving format (FAISS SQ8, Milvus/pgvector int8). The engine
side must do it as pure column expressions — a quantization pass over
a corpus cannot afford Python per row.

Everything here is native array lambdas (transform/aggregate) inside
whole-stage codegen: zero shuffle, zero Python, runs at scan speed and
composes with the ANN family (operators/similarity.py) which can score
against dequantized vectors with one extra multiply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def int8_scale(vec: Column) -> Column:
    """Per-vector symmetric scale: max-abs / 127. Zero vectors yield
    NULL scale (no finite scale exists) rather than a fabricated 1.0 —
    callers see degenerate inputs."""
    amax = F.array_max(F.transform(vec, lambda v: F.abs(v)))
    return F.when(amax > 0, amax / F.lit(127.0))


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """Quantize each vector to int8 and report reconstruction error.

    Returns (id, scale, q, mse): q the int8 array (clamped to
    [-127, 127]), mse the mean squared dequantization error — the
    quality metric a pipeline monitors before switching retrieval to
    the quantized column. NULL scale (zero vector) propagates NULL q
    and mse.
    """
    vec = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    scale = int8_scale(vec)
    # Three formulation constraints, all learned the hard way:
    # - least/greatest IGNORE nulls (both engines), so a NULL scale
    #   must null the whole array explicitly or the clamp fabricates
    #   127s.
    # - referencing `scale` INSIDE an element lambda re-inlines and
    #   re-evaluates the whole max-abs reduction per element (no
    #   let-binding, no CSE across lambdas — 30 s for 20k x 64 floats
    #   at sf1). array_repeat(scale, n) evaluates it once and zip_with
    #   walks the copies, restoring linearity.
    # - NOT round(): Spark rounds doubles via BigDecimal HALF_UP while
    #   DuckDB's round is float-scaled nearbyint (half-to-even), so a
    #   component landing exactly on x.5 diverges per engine. The
    #   sign-aware floor sign(x)*floor(abs(x)+0.5) is pure IEEE double
    #   arithmetic — identical everywhere — and matches HALF_UP
    #   (away-from-zero) on every representable tie.
    scale_arr = F.array_repeat(scale, F.size(vec))
    q = F.when(
        scale.isNotNull(),
        F.zip_with(
            vec,
            scale_arr,
            lambda v, s: F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    (F.signum(v) * F.floor(F.abs(v / s) + F.lit(0.5)))
                    .cast("int"),
                ),
            ),
        ),
    )
    n = F.size(vec).cast("double")
    deq = F.zip_with(q, scale_arr, lambda qq, s: qq * s)
    mse = (
        F.aggregate(
            F.zip_with(vec, deq, lambda v, d: F.pow(v - d, 2)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n
    )
    return df.select(
        F.col(id_col),
        F.round(scale, ndigits).alias("scale"),
        q.alias("q"),
        F.round(mse, ndigits).alias("mse"),
    )


def cosine_topk_int8(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 4,
) -> DataFrame:
    """Exact top-k retrieval OVER THE INT8 CODES — the serving-side
    composition of int8_quantize: cosine is scale-invariant, so
    cosine(q_a * s_a, q_b * s_b) == cosine(q_a, q_b) and the whole
    score is integer dot products divided by integer-derived norms.
    Deterministic to the last bit on any engine (no float accumulation
    differences exist to round away), and the int8 dot is the thing
    SIMD serving engines actually execute.

    Corpus stays partitioned; quantized queries broadcast; per-query
    top-k window over candidates. Zero-vector rows (NULL codes) drop
    out of both sides.
    """
    def codes(frame: DataFrame, out_id: str) -> DataFrame:
        q = int8_quantize(frame, vec_col=vec_col, id_col=id_col, ndigits=12)
        return q.filter(F.col("q").isNotNull()).select(
            F.col(id_col).alias(out_id),
            F.col("q").alias(f"__{out_id}_q"),
        )

    sq = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    # Round 10 (guide §4.2): norms are PER-ROW scalars — computed
    # before the crossJoin each row's norm is evaluated once, where the
    # old per-pair form re-ran the interpreted array aggregate
    # |queries| times per corpus row (and once per pair on the query
    # side). Same integer sums, same sqrt, same multiply order —
    # bit-identical scores.
    corpus = codes(df, "vec_id").withColumn("__vn", sq("__vec_id_q"))
    qry = codes(queries, "query_id").withColumn("__qn", sq("__query_id_q"))
    joined = corpus.crossJoin(F.broadcast(qry)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    dot = F.aggregate(
        F.zip_with(
            "__vec_id_q", "__query_id_q",
            lambda a, b: (a * b).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")
    scored = joined.select(
        "query_id",
        "vec_id",
        (dot / (F.col("__vn") * F.col("__qn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("query_id", "vec_id",
                F.round("cosine", ndigits).alias("cosine_r"))
    )


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    with_total: bool = False,
):
    """Fit a k-component PCA on the embedding column — the standard
    dimensionality-reduction step in front of IVF/PQ retrieval (OPQ's
    first move) and the 4x-and-beyond storage lever past int8.

    Distributed part: ONE pass computing the d x d scatter — each
    Arrow batch contributes its numpy GEMM partial (X^T X, column sum,
    count) via ``mapInPandas``, and the d²-sized partials reduce to a
    single row set; the corpus is never collected and never shuffled
    (the reduce moves executors x d² floats, not rows). Driver part:
    eigendecomposition of the 64x64 covariance — O(d³) on d=64 is
    microseconds and has no distributed formulation worth its
    complexity.

    Returns ``(mean, components, explained)``: numpy (d,), (k, d)
    orthonormal rows (deterministic up to sign for a fixed corpus;
    every consumer below is sign-invariant), and the fraction of total
    variance captured per component. With ``with_total=True`` a fourth
    element is appended: the total population variance (trace of the
    covariance == sum of all d eigenvalues == sum over dims of
    var_pop, exactly — the trace identity), so consumers that need the
    corpus total variance don't pay a second full pass to recompute
    what the scatter already holds.

    NOTE: fitting is EAGER by contract (a ``first()`` to probe the
    dimension and the partial-reduce collect) — this is a model-fit
    API like the IVF/SemDeDup coarse quantizer
    (``similarity._coarse_quantize``), not a lazy plan builder.
    """
    import numpy as np
    import pandas as pd

    probe = df.select(vec_col).first()
    if probe is None or probe[0] is None:
        raise ValueError(
            f"pca_fit: input DataFrame has no non-null '{vec_col}' rows"
        )
    d_probe = len(probe[0])

    def partials(frames):
        for pdf in frames:
            x = np.stack(pdf["v"].to_numpy()).astype("float64")
            g = x.T @ x
            yield pd.DataFrame(
                {
                    "n": [float(len(x))],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [g.reshape(-1).tolist()],
                }
            )

    parts = (
        df.select(F.col(vec_col).alias("v"))
        .mapInPandas(
            partials, schema="n double, s array<double>, g array<double>"
        )
        .collect()
    )
    n = sum(p["n"] for p in parts)
    s = np.sum([np.array(p["s"]) for p in parts], axis=0)
    g = np.sum([np.array(p["g"]) for p in parts], axis=0).reshape(
        d_probe, d_probe
    )
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    total = float(evals.sum()) or 1.0
    if with_total:
        return mean, evecs[:, :k].T, (evals[:k] / total), float(np.trace(cov))
    return mean, evecs[:, :k].T, (evals[:k] / total)


def pca_reconstruction_multi(
    df: DataFrame,
    fit: tuple,
    ks: tuple[int, ...],
    vec_col: str = "embedding",
    group_col: str = "label",
    ndigits: int = 6,
) -> DataFrame:
    """Per-group reconstruction MSE for SEVERAL truncation ranks in ONE
    corpus pass: ``(group_col, n_vecs, mse_k<k> for each k in ks)``.

    ``fit`` is a ``pca_fit`` result prefix ``(mean, comps)`` with
    ``comps`` of rank >= max(ks); each k's reconstruction slices the
    leading-k rows and runs the SAME two GEMMs the single-k report
    runs (``(x - mean) @ comps[:k].T`` then ``@ comps[:k]``), so the
    per-row MSEs are bit-identical to k separate
    ``pca_reconstruction_report`` passes — without re-fitting the
    scatter or re-reading the corpus once per k (the round-9 catalog
    entry paid 3 scatter fits + 2 full reconstruction passes; this
    form is 1 + 1)."""
    import numpy as np
    import pandas as pd

    mean, comps = fit[0], fit[1]
    ks = tuple(ks)

    def recon_mses(frames):
        for pdf in frames:
            x = np.stack(pdf["v"].to_numpy()).astype("float64")
            out = {"g": pdf["g"]}
            xm = x - mean
            for k in ks:
                ck = comps[:k]
                c = xm @ ck.T
                xr = c @ ck + mean
                out[f"mse_k{k}"] = ((x - xr) ** 2).mean(axis=1)
            yield pd.DataFrame(out)

    g_type = df.schema[group_col].dataType.simpleString()
    schema = f"g {g_type}, " + ", ".join(f"mse_k{k} double" for k in ks)
    scored = df.select(
        F.col(group_col).alias("g"), F.col(vec_col).alias("v")
    ).mapInPandas(recon_mses, schema=schema)
    return (
        scored.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            *[
                F.round(F.avg(f"mse_k{k}"), ndigits).alias(f"mse_k{k}")
                for k in ks
            ],
        )
        .select(
            F.col("g").alias(group_col),
            "n_vecs",
            *[f"mse_k{k}" for k in ks],
        )
    )


def pca_reconstruction_report(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    k: int = 16,
    ndigits: int = 6,
) -> DataFrame:
    """Project every vector onto the fitted k components and report,
    per ``group_col``: vector count, mean reconstruction MSE, and the
    total variance-explained fraction of the fit (same scalar on every
    row — the fit is corpus-wide). The projection is a broadcast
    matmul: the (k, d) component matrix rides the UDF closure and each
    Arrow batch reconstructs with two numpy GEMMs — no shuffle until
    the tiny per-group aggregate.
    """
    import numpy as np
    import pandas as pd

    mean, comps, explained = pca_fit(df, vec_col=vec_col, k=k)
    expl = float(explained.sum())

    def recon_mse(frames):
        for pdf in frames:
            x = np.stack(pdf["v"].to_numpy()).astype("float64")
            c = (x - mean) @ comps.T
            xr = c @ comps + mean
            yield pd.DataFrame(
                {
                    "g": pdf["g"],
                    "mse": ((x - xr) ** 2).mean(axis=1),
                }
            )

    # The group field keeps its source type (string lang keys, int64
    # ids, ...) — hardcoding int here would Arrow-cast-fail any
    # non-int32 group_col despite the generic API.
    g_type = df.schema[group_col].dataType.simpleString()
    scored = df.select(
        F.col(group_col).alias("g"), F.col(vec_col).alias("v")
    ).mapInPandas(recon_mse, schema=f"g {g_type}, mse double")
    return (
        scored.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("mse"), ndigits).alias("mean_recon_mse"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_vecs",
            "mean_recon_mse",
            F.round(F.lit(expl), ndigits).alias("variance_explained"),
        )
    )
