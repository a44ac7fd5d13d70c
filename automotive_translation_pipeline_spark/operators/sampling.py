"""Deterministic sampling / dataset splitting — training-data curation
operators (BASELINE.json extension surface).

Random sampling (``df.sample``/``rand()``) is the wrong tool for a
100 TB training pipeline: it is not reproducible across runs or
engines, a re-run reshuffles documents between train and eval
(leakage!), and adding data resamples everything. The operators here
hash a stable key instead — every engine that can md5 agrees row-by-row
on membership forever, new data lands in the same buckets, and the
train/eval boundary never moves. md5 is the portable choice (DuckDB and
Spark agree; xxhash64 is Spark-only).

All pure column expressions — no shuffle for membership itself; only
the fixed-k stratified variant shuffles (one window per group).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources import local_frame

#: Buckets for percentage splits: 10_000 gives 0.01% resolution.
DEFAULT_BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = DEFAULT_BUCKETS) -> Column:
    """Deterministic bucket in ``[0, buckets)``: first 8 hex chars of
    md5(key) as an integer, mod buckets. Uniform for any key type
    (cast to string first)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("bigint")
        % buckets
    )


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by key hash. Same rows
    every run, every engine, any partitioning — and a pure filter, so
    it pushes ahead of joins/aggs like any other predicate."""
    return df.filter(hash_bucket(F.col(key_col), buckets) < int(fraction * buckets))


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight: Column,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep each row with
    probability ``weight`` (a column in [0, 1]) decided by the row's own
    key hash — the data-mixing primitive (sample documents proportional
    to quality / length / source weight) with the same reproducibility
    contract as ``hash_sample``: same rows every run, every engine, any
    partitioning, and a pure filter that pushes ahead of joins.

    The threshold is ``floor(buckets * clamp(weight, 0, 1))`` on both
    engines (explicit floor — double→int rounding differs between
    engines otherwise).
    """
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), weight))
    threshold = F.floor(F.lit(float(buckets)) * p).cast("bigint")
    return df.filter(hash_bucket(F.col(key_col), buckets) < threshold)


def mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target_shares: dict[str, float],
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Deterministic mixture sampling: carve the LARGEST sample whose
    group composition matches ``target_shares`` (the corpus-mixing
    primitive — "50% en / 30% zh / 20% de" — applied when assembling a
    training mix from skewed sources).

    The feasible total is min over targeted groups of n_g / share_g;
    each group's keep-rate is total x share_g / n_g, decided per row by
    the key hash (same reproducibility contract as ``hash_sample``:
    identical rows every run/engine/partitioning). Groups outside
    ``target_shares`` are dropped. A group named in ``target_shares``
    but ABSENT from ``df`` counts as n_g = 0, so the feasible total is
    0 and the sample is empty — a composition that cannot be met yields
    nothing rather than silently mis-mixing (ADVICE round 3).

    Plan shape: one map-side-combined count per group, a scalar min, a
    tiny broadcast rate table, then a pure filter over the corpus — no
    corpus shuffle anywhere.
    """
    spark = df.sparkSession
    shares = local_frame(
        spark,
        [(g, float(w)) for g, w in target_shares.items()],
        f"{group_col} string, __share double",
    )
    counts = df.groupBy(group_col).agg(F.count("*").alias("__n"))
    # Left join FROM shares so every targeted group participates in the
    # feasibility min, with 0 rows when absent from the corpus.
    joined = shares.join(counts, group_col, "left").withColumn(
        "__n", F.coalesce(F.col("__n"), F.lit(0))
    )
    total = joined.agg(
        F.min(F.col("__n") / F.col("__share")).alias("__t")
    )
    rates = joined.crossJoin(F.broadcast(total)).select(
        group_col,
        # try_divide: n=0 (targeted-but-absent group) → NULL rate under
        # ANSI mode; no corpus row carries that group so it never filters.
        F.least(
            F.lit(1.0),
            F.try_divide(F.col("__t") * F.col("__share"), F.col("__n")),
        ).alias("__rate"),
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(
            hash_bucket(F.col(key_col), buckets)
            < F.floor(F.lit(float(buckets)) * F.col("__rate")).cast("bigint")
        )
        .drop("__rate")
    )


def temperature_mix_rates(
    df: DataFrame,
    group_col: str,
    target_fraction: float = 0.5,
    sqrt_scale: int = 1000,
) -> DataFrame:
    """Per-group keep-rates for temperature-flattened mixing at
    alpha = 0.5: sampling probability proportional to ``sqrt(n_g)``
    rather than ``n_g`` — the multilingual/multi-source rebalancing
    rule (mBERT / XLM-R / T5 use p_g ∝ n_g^alpha) that up-weights
    small sources without letting any one giant source dominate.

    alpha is FIXED at 0.5: ``sqrt`` is IEEE-correctly-rounded on every
    engine, while ``pow(x, a)`` is not guaranteed to be — a generic
    alpha would make the rate (and thus the sampled row set) differ
    between engines at the threshold boundary. For the same reason the
    sqrt is immediately quantized to an integer (``floor(sqrt(n) *
    sqrt_scale + 0.5)``) so the normalizing total is an EXACT integer
    sum, not an order-dependent float sum; each rate is then a single
    multiply/divide over exact integers — deterministic cross-engine.

    Expected sample size is ``target_fraction`` of the corpus:
    ``rate_g = min(1, target_fraction * N * s_g / (S * n_g))`` with
    ``s_g = round(sqrt(n_g) * sqrt_scale)``, ``S = sum(s_g)``,
    ``N = sum(n_g)``. Output: (group, n_total, rate).

    Plan: one map-side-combined count per group, a one-row total, a
    broadcast back over the tiny group table — the corpus is scanned
    once and never shuffled.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_total"))
    withs = counts.withColumn(
        "__s",
        F.floor(F.sqrt(F.col("n_total")) * sqrt_scale + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    tot = withs.agg(
        F.sum("n_total").alias("__tot_n"), F.sum("__s").alias("__tot_s")
    )
    return withs.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_total",
        F.least(
            F.lit(1.0),
            F.lit(float(target_fraction))
            * (F.col("__tot_n").cast("double") * F.col("__s"))
            / (F.col("__tot_s").cast("double") * F.col("n_total")),
        ).alias("rate"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target_fraction: float = 0.5,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Deterministic alpha=0.5 temperature sample: membership decided
    by each row's key hash against its group's ``temperature_mix_rates``
    rate — same rows every run, every engine, any partitioning. The
    rate table broadcasts; the corpus side is a pure filter."""
    rates = temperature_mix_rates(df, group_col, target_fraction)
    joined = df.join(F.broadcast(rates.select(group_col, "rate")), group_col)
    return weighted_hash_sample(
        joined, key_col, F.col("rate"), buckets
    ).drop("rate")


def split_of(
    key: Column, eval_fraction: float = 0.1, buckets: int = DEFAULT_BUCKETS
) -> Column:
    """'train'/'eval' label by key hash. The boundary is a function of
    the key alone: re-runs and incremental loads can never leak a
    document across the split."""
    return F.when(
        hash_bucket(key, buckets) < int(eval_fraction * buckets), F.lit("eval")
    ).otherwise(F.lit("train"))


def stratified_fixed_k(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Exactly ``k`` rows per group, chosen by hash rank — a
    reproducible per-stratum carve-out (eval sets, human-review
    samples). One shuffle on the group; the md5 rank is the random
    order, the key itself breaks md5 ties deterministically."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def dsir_importance_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    ndigits: int = 4,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much more likely its hashed n-gram
    features are under the TARGET distribution (rows where
    ``target_pred`` holds — e.g. a trusted high-quality subset) than
    under the RAW corpus distribution. ``log_weight > 0`` means
    "looks like target"; feeding the weight through
    ``weighted_hash_sample`` completes the paper's resampling step.

    Features are the paper's hashed unigrams + bigrams: each feature
    maps to one of ``n_buckets`` buckets via the engine-portable md5
    bucket (``hash_bucket``), and both distributions are
    add-``alpha``-smoothed over the bucket space, so buckets the
    target never saw stay finite.

    Scale shape (round 8 — the round-7 form persisted a collapsed
    (doc, bucket, n) table for three consumers, and at sf100 that
    persist is a corpus-x-buckets-sized cache that spills; its 4.5x
    step per 3.33x data was the round-7 watch item): two independent
    map passes over the feature explode, ZERO persist and ZERO
    corpus-sized shuffle. The bucket-stats branch collapses map-side
    straight to <= 2 x n_buckets rows per partition (no doc key), so
    its exchange is bucket-sized at any corpus size; the ratio table
    (n_buckets rows) broadcasts onto the second explode, whose
    per-doc rollup partial-aggregates map-side to one row per
    document before its narrow exchange. Raw text is never shuffled.

    Output: ``(id, n_feats, log_weight)`` — one row per document,
    ``log_weight`` rounded to ``ndigits`` (same float-portability
    discipline as ``lm.unigram_surprisal``).

    SIDE EFFECT — eager, frozen bucket stats: CONSTRUCTING this
    DataFrame runs the first corpus pass (the 1024-row bucket table is
    ``localCheckpoint``-ed at build time), and those counts are
    FROZEN — executing the plan later against changed source data
    keeps construction-time bucket statistics. Rebuild the DataFrame
    to re-count.
    """
    from ..functions.text import normalized_text

    # Round 10 (guide §4.2 / §1.2): stage the split word ARRAY as a
    # real column before building the feature expression. The inline
    # form referenced `split(regexp_replace(lower(text)))` FIVE times
    # inside the explode's generator (the array itself, two slices,
    # and size() twice), and zip_with is a CodegenFallback
    # higher-order function — interpreted evaluation re-ran the
    # regex+split per reference, per row. With the array staged in its
    # own projection the generator sees a plain attribute; the
    # normalize+split runs once per row per pass.
    staged = df.select(
        F.col(id_col),
        target_pred.alias("__tgt"),
        F.split(normalized_text(F.col(text_col)), " ").alias("__ws"),
    )
    wcol = F.col("__ws")
    n = F.size(wcol)
    feats = F.concat(
        wcol,
        F.when(
            n >= 2,
            F.zip_with(
                F.slice(wcol, 1, n - 1),
                F.slice(wcol, 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    exploded = staged.select(
        F.col(id_col),
        "__tgt",
        F.explode(feats).alias("__feat"),
    ).select(
        id_col,
        "__tgt",
        hash_bucket(F.col("__feat"), n_buckets).alias("__bkt"),
    )
    # Two consumers, two RECOMPUTED map passes — deliberately no
    # persist and no shared (doc, bucket) collapse: the round-7 form
    # cached a per-doc-per-bucket table, which is corpus x buckets
    # sized (docs x ~700 rows at 1024 buckets) and spills once the
    # corpus outgrows executor memory — the measured 4.5x step per
    # 3.33x data at sf100. The same persist-vs-recompute verdict the
    # span family measured (SCALE.md round 7): caching a corpus-sized
    # intermediate costs more than a shuffle-free second map pass.
    # bkt is <= n_buckets rows but sits on a full corpus pass, and it
    # has two consumers (ratio + totals) — eager-checkpoint the 1024
    # rows so the pass runs once (persisting a TINY table is the
    # opposite trade from the corpus-sized caches this operator
    # dropped).
    bkt = (
        exploded.groupBy("__bkt")
        .agg(
            F.count(F.lit(1)).alias("__raw_n"),
            F.sum(
                F.when(F.col("__tgt"), F.lit(1)).otherwise(F.lit(0))
            ).alias("__tgt_n"),
        )
        .localCheckpoint()
    )
    totals = bkt.agg(
        F.sum("__raw_n").alias("__t_raw"), F.sum("__tgt_n").alias("__t_tgt")
    )
    a, b = float(alpha), float(alpha * n_buckets)
    ratio = bkt.crossJoin(F.broadcast(totals)).select(
        "__bkt",
        (
            F.log((F.col("__tgt_n") + a) / (F.col("__t_tgt") + b))
            - F.log((F.col("__raw_n") + a) / (F.col("__t_raw") + b))
        ).alias("__lr"),
    )
    # Per-doc rollup straight off the (recomputed) feature stream: the
    # broadcast ratio join is map-side, and since each document lives
    # in one scan partition the groupBy(id) partial aggregation
    # collapses to one row per doc BEFORE the exchange — the same
    # narrow shuffle the old collapsed form paid, without the cache.
    return (
        exploded.join(F.broadcast(ratio), "__bkt")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum(F.col("__lr")), ndigits).alias("log_weight"),
        )
    )
