"""Similarity search over embedding columns (BASELINE.json extension
surface; background: REPOSE ICDE'21 / Odyssey VLDB'23 in PAPERS.md).

Two paths:

* ``cosine_topk_bruteforce`` — exact top-k: broadcast the (small) query
  set against the corpus, JVM-side ``zip_with``/``aggregate`` dot
  product, then a two-level top-k merge (local per-partition window,
  then a global per-query window over at most partitions x |Q| x k
  candidates) so the full score set never shuffles into |Q| skewed
  partitions.
* ``cosine_topk_lsh`` — approximate: random-hyperplane (SRP) bucketing
  prunes the corpus to same-bucket candidates before exact scoring.
  The classic recall/cost trade; bucket width = ``n_planes`` bits.

Everything is native column expressions — no Python in the hot path.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at runtime
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: for every query vector, the k nearest corpus
    vectors (self-matches excluded when ids collide).

    Two-level top-k merge: a FIRST window over
    ``(spark_partition_id(), query_id)`` keeps only each scan
    partition's local k per query, so the global per-query window sees
    at most partitions x |Q| x k rows instead of the full
    |corpus| x |Q| score set. Without the pre-reduce, the final window
    shuffles every score into |Q| partitions — at a 100 TB corpus with
    a handful of queries that is a catastrophic skewed shuffle; with
    it, the big shuffle keys on the much-higher-cardinality
    (partition, query) pair and the skewed one moves only the merged
    candidates. Local top-k survives global top-k exactly (any global
    winner is a local winner), so results are identical.

    Returns (query_id, vec_id, cosine) with deterministic tie-break on
    vec_id.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__cvec"), _norm(F.col(vec_col)).alias("__cnorm")
    )
    scored = (
        c.crossJoin(F.broadcast(q.withColumn("__qnorm", _norm(F.col("__qvec")))))
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cosine",
            _dot(F.col("__qvec"), F.col("__cvec")) / (F.col("__qnorm") * F.col("__cnorm")),
        )
        .withColumn("__pid", F.spark_partition_id())
    )
    local_w = Window.partitionBy("__pid", query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    candidates = (
        scored.withColumn("__lrk", F.row_number().over(local_w))
        .filter(F.col("__lrk") <= k)
        .drop("__pid", "__lrk")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        candidates.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cosine")
    )


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: one bit per hyperplane
    (sign of the dot product), packed into a long."""
    out = F.lit(0)
    for i, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out


def _deterministic_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Pseudo-random hyperplanes from a fixed LCG — deterministic across
    runs/engines without numpy state."""
    planes, seed = [], 0x2545F491
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            seed = (seed * 1103515245 + 12345) % (1 << 31)
            row.append(seed / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k: SRP-bucket both sides, score only
    same-bucket pairs. Recall < 1.0 by design; the scale path when the
    corpus is too big to brute-force per query."""
    planes = _deterministic_planes(n_planes, dim)
    # Round 11 (guide §4.2): both norms staged per ROW before the
    # bucket join — the inline form re-evaluated the interpreted
    # ArrayAggregate norm once per candidate pair. Identical op order,
    # bit-identical cosines.
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        srp_bucket(F.col(vec_col), planes).alias("__bucket"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        srp_bucket(F.col(vec_col), planes).alias("__bucket"),
        _norm(F.col(vec_col)).alias("__cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), "__bucket")
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cosine",
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cosine")
    )


def _probe_and_score(
    assigned: DataFrame,
    cent_df: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared IVF tail: pick each query's ``n_probe`` nearest cells,
    score exactly within them, window top-k.

    Round 11 (guide §4.2, the ann_cosine_int8 lesson): the corpus-side
    norm is staged as a per-row column BEFORE the probe join —
    ``_norm`` is an interpreted ArrayAggregate (CodegenFallback, no
    CSE), so the inline form re-ran it once per (cell-match × query)
    pair. Same integer/float sums, same sqrt, same multiply order ⇒
    bit-identical cosines."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("__csim").desc(), F.col("__cell")
    )
    probes = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn(
            "__csim",
            _dot(F.col("__qvec"), F.col("__centroid"))
            / (F.col("__qnorm") * _norm(F.col("__centroid"))),
        )
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= n_probe)
        .select(query_id_col, "__cell", "__qvec", "__qnorm")
    )
    scored = (
        assigned.withColumn("__cnorm", _norm(F.col(vec_col)))
        .join(F.broadcast(probes), "__cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cosine",
            _dot(F.col("__qvec"), F.col(vec_col))
            / (F.col("__qnorm") * F.col("__cnorm")),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cosine")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer
    (:func:`_coarse_quantize`) partitions the corpus into cells; each
    query probes only its ``n_probe`` nearest cells and scores exactly
    within them.

    This is the 10^9-vector shape (Odyssey/REPOSE in PAPERS.md): the
    quantizer trains on a bounded sample, the corpus is scanned once to
    assign, queries touch ``n_probe/n_cells`` of the data, and the cell
    assignment can be written as a partition column so probes become
    partition pruning.
    """
    assigned, cent_df = _coarse_quantize(corpus, n_cells, seed, id_col, vec_col)
    return _probe_and_score(
        assigned, cent_df, queries, k, n_probe, id_col, vec_col, query_id_col
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist an IVF index: the corpus written PARTITIONED BY its
    coarse-quantizer cell, plus the centroid table.

    This turns cell probing into *partition pruning*: a query batch
    that probes cells {3, 7} reads only ``cell=3/`` and ``cell=7/``
    directories — at 10^9 vectors the index build is one scan + one
    shuffle-free write, and every query batch after it touches
    ``n_probe/n_cells`` of the FILES, not just of the rows.
    """
    assigned, cent_df = _coarse_quantize(corpus, n_cells, seed, id_col, vec_col)
    # "cell" (no underscore prefix): underscore-led paths are treated
    # as hidden by the file readers.
    assigned.withColumnRenamed("__cell", "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/corpus")
    cent_df.toDF("cell", "centroid").coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )


def _coarse_quantize(
    corpus: DataFrame,
    n_cells: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
    fit_cap: int = 20_000,
) -> tuple[DataFrame, DataFrame]:
    """The one coarse quantizer behind IVF, the persisted IVF index and
    SemDeDup: ``n_cells`` centroids from :func:`_lloyd_codebook` with one
    subspace (L2-normalized space), then every vector assigned to its
    nearest centroid by :func:`pq_encode` in one Arrow-batched pass.

    The fit set is the corpus up to ``fit_cap`` vectors, beyond that a
    deterministic md5-hash sample of about ``fit_cap`` (at 100 TB the
    fit stays the same size), ordered by id so the centroids do not
    depend on partitioning. ``n`` is the corpus count if the caller has
    it. Cells are clamped to half the fit rows (at least 4, at most
    all of them): past ``fit_cap / 2`` cells the cap binds.

    Returns (corpus as (id, vec, __cell), centroids as
    (__cell int, __centroid array<double>)). The assignment is lazy; the
    fit is eager (one count if ``n`` is not given, one fit-set collect).
    The centroid table is built on the driver with ``local_frame``: a
    local relation, so joining it starts no Python worker and
    collecting it runs no Spark job (SemDeDup collects it back into the
    codebook its per-cell kernel closes over)."""
    import numpy as np

    from .sampling import hash_sample

    if n is None:
        n = corpus.count()
    # Full 32-bit hash resolution: with the default 10k buckets the
    # fraction rounds to an empty sample past 200M vectors.
    fit_set = (
        corpus if n <= fit_cap
        else hash_sample(corpus, id_col, fit_cap / n, buckets=1 << 32)
    )
    rows = sorted(fit_set.select(id_col, vec_col).collect(), key=lambda r: r[0])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    n_codes = min(n_cells, max(4, len(X) // 2), max(1, len(X)))
    codebook = _lloyd_codebook(X, m=1, n_codes=n_codes, seed=seed)
    assigned = pq_encode(corpus.select(id_col, vec_col), codebook, vec_col).select(
        id_col, vec_col, F.col("__codes")[0].alias("__cell")
    )
    cent_df = local_frame(
        corpus.sparkSession,
        list(enumerate(codebook[0])),
        "__cell int, __centroid array<double>",
    )
    return assigned, cent_df


def build_pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 32,
    train_sample: int = 2048,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train a product-quantization codebook: split the (L2-normalized)
    vector into ``m`` subvectors and k-means each subspace to
    ``n_codes`` centroids (Lloyd's on a bounded driver-side sample —
    at 100 TB the sample stays the same size).

    Returns ``m × n_codes × (dim/m)`` centroids. With ``m=8`` codes a
    64-dim float vector compresses 256 B → 8 B — the difference
    between an in-memory candidate set and a spilled one at 10^9
    vectors.
    """
    import numpy as np

    rows = corpus.select(vec_col).limit(train_sample).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    return _lloyd_codebook(X, m=m, n_codes=n_codes, seed=seed)


def _lloyd_codebook(
    X, m: int = 8, n_codes: int = 32, seed: int = 42
) -> list[list[list[float]]]:
    """numpy-only core of :func:`build_pq_codebook` (normalize, split
    into ``m`` subspaces, 12 Lloyd iterations each) — shared with
    tools/train_pq_codebook.py so the committed frozen codebook is
    trained by EXACTLY the code the live trainer runs, and with
    :func:`_coarse_quantize` (``m=1``)."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64).copy()
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    ds = dim // m
    rng = np.random.default_rng(seed)
    codebook = []
    for i in range(m):
        sub = X[:, i * ds : (i + 1) * ds]
        cents = sub[rng.choice(len(sub), size=n_codes, replace=False)].copy()
        for _ in range(12):  # Lloyd iterations; converges fast at these sizes
            assign = _nearest_centroid(sub, cents)
            for j in range(n_codes):
                mask = assign == j
                if mask.any():
                    cents[j] = sub[mask].mean(axis=0)
        codebook.append([[float(x) for x in c] for c in cents])
    return codebook


def frozen_pq_codebook() -> list[list[list[float]]]:
    """The committed PQ codebook (resources/pq_codebook_v1.json):
    trained ONCE by tools/train_pq_codebook.py (same ``_lloyd_codebook``
    core, provenance in the file) and frozen as repo data — the
    ann_cosine_pq promotion pattern (round 10, VERDICT r9 #2): with the
    trained centroids a fixed constant, the whole encode→ADC→re-rank
    computation is deterministic and replays in the DuckDB oracle with
    the codebook inlined as VALUES literals, exactly like
    ann_cosine_lsh's LCG planes. json round-trips repr-exact doubles,
    so both engines see bit-identical centroids."""
    global _FROZEN_PQ_CODEBOOK
    if _FROZEN_PQ_CODEBOOK is None:
        import json
        import os

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "resources",
            "pq_codebook_v1.json",
        )
        with open(path) as fh:
            _FROZEN_PQ_CODEBOOK = json.load(fh)["codebook"]
    return _FROZEN_PQ_CODEBOOK


_FROZEN_PQ_CODEBOOK = None


def _nearest_centroid(X, cents):
    """Row-wise index of the nearest centroid, the one argmin kernel of
    the Lloyd fit and the :func:`pq_encode` assignment. It uses
    ||x-c||² = ||x||² - 2x·c + ||c||² with ||x||² dropped (constant per
    row): one matmul instead of an n x k x d difference tensor. Ties go
    to the lower centroid index."""
    d2 = -2.0 * X @ cents.T + (cents * cents).sum(axis=1)[None, :]
    return d2.argmin(axis=1)


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each corpus vector as ``m`` small codes (nearest centroid
    per subspace, after L2 normalization) — the one-time, scan-once
    build pass. Vectorized Arrow-batched pandas UDF: the argmin over
    centroids is a numpy matmul per batch, not per row. Returns
    ``corpus`` with an added ``__codes`` column."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m = len(codebook)
    ds = len(codebook[0][0])
    cents = [np.array(sub, dtype=np.float64) for sub in codebook]

    @pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        X = np.array(vecs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), m), dtype=np.int32)
        for i in range(m):
            codes[:, i] = _nearest_centroid(X[:, i * ds : (i + 1) * ds], cents[i])
        return pd.Series([list(map(int, row)) for row in codes])

    return corpus.withColumn("__codes", _encode(F.col(vec_col)))


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 32,
    rerank: int = 64,
    train_sample: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ-approximate cosine top-k with exact re-ranking.

    Asymmetric distance computation (ADC): per query and subspace the
    dot products against all ``n_codes`` centroids form a lookup table
    (built as native column expressions — no Python on the query
    path); the approximate score of a corpus vector is the sum of its
    ``m`` table entries, evaluated JVM-side with ``zip_with`` +
    ``aggregate`` over the 8-byte code column instead of the 256-byte
    vector. The top ``rerank`` candidates per query are then scored
    exactly against the true vectors. Classic two-stage retrieval
    (background: PAPERS.md REPOSE/Odyssey): the heavy scan touches
    only codes; full vectors are read for k·rerank rows.

    Pass ``codebook`` to skip training and use pre-trained centroids
    (e.g. :func:`frozen_pq_codebook` — the oracle-replayable path)."""
    if codebook is None:
        codebook = build_pq_codebook(
            corpus, m=m, n_codes=n_codes, train_sample=train_sample,
            seed=seed, vec_col=vec_col,
        )
    m = len(codebook)
    ds = len(codebook[0][0])
    codes = pq_encode(corpus, codebook, vec_col).select(id_col, "__codes")

    # Normalized query + per-subspace ADC tables as plain expressions.
    tables = F.array(
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            F.slice(F.col("__qn"), i * ds + 1, ds),
                            F.array(*[F.lit(float(x)) for x in cent]),
                            lambda a, b: a * b,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for cent in codebook[i]
                ]
            )
            for i in range(m)
        ]
    )
    q = (
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qnorm0"),
        )
        .withColumn(
            "__qn",
            F.transform(
                F.col("__qvec"), lambda x: x.cast("double") / F.col("__qnorm0")
            ),
        )
        .withColumn("__tables", tables)
        # __qnorm0 is kept and ridden through to the exact re-rank
        # (round 11): recomputing the interpreted-aggregate norm per
        # candidate row is the per-pair waste §4.2 warns about, and
        # this is the same expression → bit-identical.
        .withColumnRenamed("__qnorm0", "__qnorm")
        .drop("__qn")
    )
    approx = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "__approx",
            F.aggregate(
                F.zip_with(
                    F.col("__codes"),
                    F.col("__tables"),
                    lambda code, tbl: F.element_at(tbl, code + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    w_a = Window.partitionBy(query_id_col).orderBy(
        F.col("__approx").desc(), F.col(id_col)
    )
    candidates = (
        approx.withColumn("__rk", F.row_number().over(w_a))
        .filter(F.col("__rk") <= rerank)
        .select(query_id_col, id_col, "__qvec", "__qnorm")
    )
    # Exact re-rank: fetch true vectors for the survivors only.
    cvec = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__cvec"),
        _norm(F.col(vec_col)).alias("__cnorm"),
    )
    rescored = candidates.join(cvec, id_col).withColumn(
        "cosine",
        _dot(F.col("__qvec"), F.col("__cvec"))
        / (F.col("__qnorm") * F.col("__cnorm")),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        rescored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cosine")
    )


def cosine_topk_ivf_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k over a persisted IVF index
    (:func:`build_ivf_index`).

    The union of probed cells across the query batch is tiny (bounded
    by ``n_cells`` integers, independent of corpus size), so it is
    collected and applied as a STATIC ``IN`` filter on the partition
    column — the scan's ``PartitionFilters`` then skip every un-probed
    cell directory (plan-contract-tested)."""
    cent_df = (
        spark.read.parquet(f"{index_path}/centroids")
        .select(F.col("cell").alias("__cell"), F.col("centroid").alias("__centroid"))
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("__csim").desc(), F.col("__cell")
    )
    probed_cells = [
        r["__cell"]
        for r in (
            q.crossJoin(F.broadcast(cent_df))
            .withColumn(
                "__csim",
                _dot(F.col("__qvec"), F.col("__centroid"))
                / (F.col("__qnorm") * _norm(F.col("__centroid"))),
            )
            .withColumn("__pr", F.row_number().over(probe_w))
            .filter(F.col("__pr") <= n_probe)
            .select("__cell")
            .distinct()
            .collect()
        )
    ]
    assigned = (
        spark.read.parquet(f"{index_path}/corpus")
        .filter(F.col("cell").isin(probed_cells))
        .withColumnRenamed("cell", "__cell")
    )
    return _probe_and_score(
        assigned, cent_df, queries, k, n_probe, id_col, vec_col, query_id_col
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k on the Arrow fast path: same contract and
    results as `cosine_topk_bruteforce`, different kernel.

    The brute-force variant evaluates one `aggregate(zip_with(...))`
    expression PER (corpus row × query) — fine for narrow vectors, but
    the expression interpreter touches every float individually. Here
    each Arrow batch becomes one numpy matrix (zero-copy flatten +
    reshape — the list<float> layout IS the matrix) and all similarities
    for the batch compute as a single `corpus_block @ Q.T` BLAS matmul,
    with a per-batch argpartition keeping only the local top-k per
    query. The JVM→Python boundary moves each corpus block once, and
    only (batches × queries × k) candidate rows come back — the global
    window then reduces candidates, never the full score matrix.

    Queries are collected to the driver and closed over (they are the
    broadcast side by contract, same as the brute-force variant)."""
    import numpy as np
    import pyarrow as pa

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    dim = qmat.shape[1]
    out_schema = pa.schema(
        [
            (query_id_col, pa.int64()),
            (id_col, pa.int64()),
            ("cosine", pa.float64()),
        ]
    )

    def kernel(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            flat = batch.column(vec_col)
            if isinstance(flat, pa.ChunkedArray):
                flat = flat.combine_chunks()
            emb = (
                flat.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, dim)
            )
            emb = emb / np.linalg.norm(emb, axis=1, keepdims=True)
            sims = emb @ qmat.T  # (n corpus, m queries)
            sims[ids[:, None] == qids[None, :]] = -np.inf  # self-matches
            kk = min(k, n)
            # local top-k per query: argpartition on each column
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk, :]
            q_idx = np.repeat(np.arange(len(qids)), kk)
            c_idx = top.T.reshape(-1)
            mask = np.isfinite(sims[c_idx, q_idx])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[q_idx][mask]),
                    pa.array(ids[c_idx][mask]),
                    pa.array(sims[c_idx, q_idx][mask]),
                ],
                schema=out_schema,
            )

    local = corpus.select(id_col, vec_col).mapInArrow(
        kernel, f"{query_id_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        local.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cosine")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fetch_k: int = 50,
    lambda_: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Diversified top-k via Maximal Marginal Relevance (Carbonell &
    Goldstein '98): fetch ``fetch_k`` exact candidates per query, then
    greedily select ``k`` maximizing

        lambda * cos(q, d)  -  (1 - lambda) * max cos(d, already_selected)

    — the standard rerank for retrieval-augmented training data, where
    the raw top-k is often near-duplicate snippets of one source.

    Scale shape: candidate generation is the two-level bruteforce (the
    corpus never shuffles); the greedy loop — inherently sequential in
    k — runs per query over its own <= fetch_k candidate rows inside
    ``applyInPandas``, so its state is bounded by fetch_k x dim per
    group regardless of corpus size. Deterministic: score ties break on
    the smaller id.

    Returns (query_id, vec_id, cosine, mmr_rank).
    """
    import numpy as np

    cands = cosine_topk_bruteforce(
        corpus, queries, k=fetch_k, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col,
    )
    with_vecs = cands.join(
        corpus.select(F.col(id_col), F.col(vec_col).alias("__vec")), id_col
    )

    out_schema = (
        f"{query_id_col} long, {id_col} long, cosine double, mmr_rank int"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ "cosine", id_col], ascending=[False, True])
        ids = pdf[id_col].to_numpy()
        rel = pdf["cosine"].to_numpy(dtype=float)
        V = np.stack(pdf["__vec"].map(np.asarray, na_action=None).to_list()).astype(
            float
        )
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        V = V / norms[:, None]
        n = len(pdf)
        chosen: list[int] = []
        max_sim = np.zeros(n)
        picked = np.zeros(n, dtype=bool)
        for _ in range(min(k, n)):
            score = np.where(
                picked,
                -np.inf,
                (lambda_ * rel - (1.0 - lambda_) * max_sim)
                if chosen
                else rel,
            )
            best = np.lexsort((ids, -score))[0]
            chosen.append(best)
            picked[best] = True
            max_sim = np.maximum(max_sim, V @ V[best])
        sel = pdf.iloc[chosen]
        return pd.DataFrame(
            {
                query_id_col: sel[query_id_col].to_numpy(),
                id_col: sel[id_col].to_numpy(),
                "cosine": sel["cosine"].to_numpy(),
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int32"),
            }
        )

    return with_vecs.groupBy(query_id_col).applyInPandas(pick, out_schema)


def label_centroid_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k_outliers: int = 5,
) -> DataFrame:
    """Embedding-space mislabel/quality gate: cosine of every vector to
    its label's centroid, flagging the ``k_outliers`` least-similar
    vectors per label — the standard prune for mislabeled or
    mis-embedded examples in a labeled training corpus.

    Scale shape: centroids come from a posexplode collapsed map-side to
    (label, dim, partial-sum) — linear in rows x dim with tiny
    exploded tuples — and re-assembled into a (labels x dim) dim table
    that broadcasts back; the per-row cosine is then a native
    ``zip_with``/``aggregate`` expression (no Python, no shuffle of the
    vectors themselves). The outlier rank is one keyed window per
    label. For label cardinalities too big to broadcast, drop the
    broadcast hint and Spark falls back to a shuffle join on label —
    the rest of the plan is unchanged.
    """
    emb_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ex = df.select(
        F.col(label_col),
        F.posexplode(emb_d).alias("__pos", "__v"),
    )
    centroids = (
        ex.groupBy(label_col, "__pos")
        .agg(F.avg("__v").alias("__cv"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__cv"))),
                lambda s: s["__cv"],
            ).alias("__centroid")
        )
    )
    joined = df.join(F.broadcast(centroids), label_col)
    cos = _dot(emb_d, F.col("__centroid")) / (
        _norm(emb_d) * _norm(F.col("__centroid"))
    )
    scored = joined.select(
        F.col(id_col), F.col(label_col), cos.alias("__cos")
    )
    rank = F.row_number().over(
        Window.partitionBy(label_col).orderBy(F.col("__cos").asc(), F.col(id_col))
    )
    return scored.select(
        F.col(id_col),
        F.col(label_col),
        F.round(F.col("__cos"), 4).alias("cosine_c"),
        (rank <= F.lit(k_outliers)).alias("is_outlier"),
    )
