"""Aggregation operators (SURVEY §2.5: R-20..R-24).

All are single-pass ``agg(count(when(...)))`` families — map-side partial
aggregation handles the 100 TB case; no distinct-aggregates, no
high-cardinality groupings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_summary(
    results: DataFrame,
    failed_col: str = "is_failed",
    suspicious_col: str = "is_suspicious",
    shifted_col: str = "shift_suspect",
) -> DataFrame:
    """R-20: run summary — success/failed/suspicious/shifted counts and a
    success-rate percent (reference ``auto_translate.py:955-1135``,
    rates at ``:1060,1076``)."""
    total = F.count("*")
    failed = F.count(F.when(F.col(failed_col), 1))
    return results.agg(
        total.alias("total_rows"),
        (total - failed).alias("successful"),
        failed.alias("failed"),
        F.count(F.when(F.col(suspicious_col), 1)).alias("suspicious"),
        F.count(F.when(F.col(shifted_col), 1)).alias("shift_suspects"),
        F.round((total - failed) * 100.0 / total, 2).alias("success_rate_pct"),
    )


def observed_run_counters(
    results: DataFrame,
    failed_col: str = "is_failed",
    suspicious_col: str = "is_suspicious",
    shifted_col: str = "shift_suspect",
):
    """R-20 counters as an ``Observation``: the metrics piggyback on
    whatever action the caller already runs (the sink write), so the
    run summary costs ZERO extra passes — at 100 TB, ``run_summary``'s
    separate aggregation re-reads the pipeline output; this reads it
    never. Returns ``(observed_df, observation)``; read
    ``observation.get`` after the action completes.

    This is the engine twin of the reference's in-loop counter
    accumulation (``auto_translate.py:955-1135``) — counters collected
    WHILE writing, not after.
    """
    from pyspark.sql import Observation

    obs = Observation("run_summary")
    observed = results.observe(
        obs,
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col(failed_col).cast("long")).alias("failed"),
        F.sum(F.col(suspicious_col).cast("long")).alias("suspicious"),
        F.sum(F.col(shifted_col).cast("long")).alias("shift_suspects"),
    )
    return observed, obs


def error_rollup(responses: DataFrame, error_type_col: str = "error_type") -> DataFrame:
    """R-21: per-error-type counts + share — the reference accumulates
    these in seven Python lists (``auto_translate.py:1504-1543``); one
    groupBy with a window share replaces the whole pass."""
    counts = responses.groupBy(error_type_col).agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            error_type_col,
            "n",
            F.round(F.col("n") * 100.0 / F.col("t"), 2).alias("pct"),
        )
    )


def group_counts(df: DataFrame, col: str) -> DataFrame:
    """R-22/R-23/R-24: the groupBy-count family (ledger status counts,
    language counts, per-batch extraction counts)."""
    return df.groupBy(col).agg(F.count("*").alias("n"))


# --- incremental aggregate maintenance -------------------------------------
#
# At 100 TB the expensive thing is not the aggregation — it's re-reading
# the 100 TB. count/sum (and anything derivable from them: avg, rates)
# are self-decomposable, so a standing aggregate can be maintained from
# the DELTA alone: keep a per-group state table of (n_rows, sum_*),
# aggregate only the new partition, and merge states. Measures are
# summed as exact decimals so the merged state is bit-identical to a
# full recompute regardless of how many increments produced it.


def agg_state(df: DataFrame, keys: list[str], measures: list[str]) -> DataFrame:
    """Partial aggregate state for ``incremental``-maintainable
    aggregates: per group, row count + exact decimal sum per measure."""
    sums = [
        F.sum(F.col(m).cast("decimal(28,6)")).alias(f"sum_{m}") for m in measures
    ]
    return df.groupBy(*keys).agg(F.count("*").alias("n_rows"), *sums)


def merge_agg_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge partial states (same schema) into one: union + re-sum.
    Decimal sums are associative/exact, so merge order never changes the
    result — the merged state equals a from-scratch ``agg_state`` over
    the concatenated inputs."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    sum_cols = [c for c in merged.columns if c.startswith("sum_")]
    return merged.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        *[F.sum(c).alias(c) for c in sum_cols],
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    bins: int = 10,
) -> DataFrame:
    """EXACT equi-depth (equal-frequency) histogram: every bin holds
    count/bins rows (±1), with true bin boundaries — the profile shape
    approx-percentile sketches can't pin down exactly.

    PRECONDITION: ``value_col`` must carry at most TWO decimal places
    (prices/amounts). The per-bin sums accumulate in integer CENTS for
    engine-exact totals at any scale, so finer-grained values are
    silently quantized to 0.01 — rescale to your own integer grid (or
    accept float drift) for higher-precision inputs.

    The naive form is ntile()/row_number() over a GLOBAL window — the
    single-task antipattern. This uses the range-partitioned global
    index (operators/indexing.py:with_global_index: range exchange +
    per-partition numbering + P-row offset broadcast), so the only
    corpus-wide costs are one range shuffle and one keyed rollup.
    Bin assignment is floor(idx * bins / n) over the 0-based index —
    identical, engine-portable arithmetic on both sides (ntile()'s
    put-remainder-first sizing is deliberately NOT used: floor() keeps
    the assignment a pure function of (idx, n)).

    Returns (bin, n_rows, lo, hi, sum_v) per bin.
    """
    from .indexing import with_global_index

    order = [value_col, *tiebreak_cols]
    # Kept lazy: the offsets, total and binning consumers each re-read
    # the range exchange, but the four copies are canonically
    # identical, so AQE stage reuse runs ONE shuffle write + four reads.
    indexed = with_global_index(
        df.select(*order), order, index_col="__idx", start=0
    )
    total = indexed.agg(F.count(F.lit(1)).alias("__n"))
    return (
        indexed.crossJoin(F.broadcast(total))
        .withColumn(
            "bin",
            F.floor(F.col("__idx") * bins / F.col("__n")).cast("long"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min(value_col), 2).alias("lo"),
            F.round(F.max(value_col), 2).alias("hi"),
            # sum in integer CENTS: per-bin float sums accumulate in
            # engine-specific order and at sf3 magnitudes (~1e11 per
            # bin) the drift reached the 2nd decimal the output
            # reports. Prices carry two decimals, so v*100 is within
            # an ulp of an integer and round() lands identically on
            # both engines; integer sums are exact at any scale.
            F.round(
                F.sum(
                    F.round(F.col(value_col) * 100, 0).cast("long")
                )
                / 100.0,
                2,
            ).alias("sum_v"),
        )
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_cols: list[str],
    item_col: str,
) -> DataFrame:
    """Pairwise co-occurrence counts: for every unordered item pair,
    the number of baskets containing both (the support table behind
    association mining, tag correlation, "users who X also Y").

    Scale shape: the stream first collapses to DISTINCT
    (basket, item) — map-side combined — and the pair expansion is a
    SELF-JOIN KEYED ON THE BASKET with an item_a < item_b predicate,
    so work per basket is C(items_in_basket, 2), bounded by the
    basket's own width, never corpus-quadratic. A basket with k items
    costs k^2/2 rows at exactly that basket's join partition.

    Returns (item_a, item_b, n_baskets).
    """
    items = df.select(*basket_cols, item_col).distinct()
    a = items.withColumnRenamed(item_col, "item_a")
    b = items.withColumnRenamed(item_col, "item_b")
    return (
        a.join(b, basket_cols)
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
