"""Grouped statistical modeling: per-group OLS trend fits and robust
(median/MAD) outlier scoring.

Training-data operations lean on both: regression slopes catch drift
(is this source's document length trending down? is a metric decaying
within a cohort?), and MAD-based robust z-scores are the standard
outlier gate when the data itself contains the outliers that would
poison a mean/stddev gate.

Scale shape: OLS per group is ONE partially-aggregated groupBy — the
`regr_*` aggregates are plain moment sums under the hood, so the map
side combines and only (groups) rows shuffle. The MAD path is built
from RANK-BASED medians (explicit avg of the rank-selected middle
elements) rather than the engines' median() aggregates: the built-ins
interpolate with engine-specific arithmetic ((a+b)/2 vs a+(b-a)/2 — a
1-ulp difference that, amplified through (v - med)/mad, flipped a
4-decimal rounding boundary on 1 row in a million at sf1), while the
explicit form is the same IEEE expression tree on every engine and
therefore bit-identical. Round 10: rank selection runs over the VALUE
HISTOGRAM (the grouped_quantiles_disc construction) — a
map-side-combined (group, value) count plus one cumulative window over
distinct values — so no corpus-wide sort exists anywhere in the MAD
plan; a skewed group costs its distinct-value count, not its row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grouped_ols(
    df: DataFrame,
    group_cols: list[str],
    y_col: str,
    x_col: str,
    ndigits: int = 4,
) -> DataFrame:
    """Per-group least-squares fit of y on x: slope, intercept, r2, n.

    One shuffle, map-side combined; `regr_*` are native JVM aggregates
    (no Python). Groups with zero x-variance yield NULL slope —
    surfaced, not coerced, so callers see degenerate fits.
    """
    return df.groupBy(*group_cols).agg(
        F.round(F.regr_slope(F.col(y_col), F.col(x_col)), ndigits).alias("slope"),
        F.round(
            F.regr_intercept(F.col(y_col), F.col(x_col)), ndigits
        ).alias("intercept"),
        F.round(F.regr_r2(F.col(y_col), F.col(x_col)), ndigits).alias("r2"),
        F.count(F.lit(1)).alias("n"),
    )


def _hist_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_col: str,
) -> DataFrame:
    """Exact per-group median as an EXPLICIT avg over the rank-selected
    middle element(s) (one row selected for odd counts, two for even —
    twice the same value when both middle ranks land in one value run),
    computed by RANK SELECTION OVER THE VALUE HISTOGRAM (round 10 —
    the grouped_quantiles_disc trick applied to the median): a
    map-side-combined ``groupBy(group, value).count()`` plus one
    cumulative window over DISTINCT (group, value) rows replaces the
    row_number sort of the whole stream. The value at rank r of the
    sorted multiset is the unique v whose cumulative count reaches r
    while the previous cumulative stayed below it — identical element,
    and avg() over the selected value rows is the same IEEE expression
    the old row-selected form evaluated, hence bit-identical.
    Returns one (group_cols..., out_col) row per group."""
    hist = df.groupBy(
        *group_cols, F.col(value_col).alias("__v")
    ).agg(F.count(F.lit(1)).alias("__c"))
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_grp = Window.partitionBy(*group_cols)
    cum = hist.withColumn("__cum", F.sum("__c").over(w_cum)).withColumn(
        "__tot", F.sum("__c").over(w_grp)
    )
    # The same two middle ranks the row_number form selected; for odd
    # counts they coincide — array_distinct keeps ONE selected row then,
    # exactly like `rn = r1 OR rn = r2` matched one row.
    r1 = F.floor((F.col("__tot") + 1) / 2)
    r2 = F.floor(F.col("__tot") / 2) + 1
    ranks = F.array_distinct(F.array(r1, r2))
    hit = lambda r: (  # noqa: E731 — rank lands inside this value's run
        (F.col("__cum") >= r) & ((F.col("__cum") - F.col("__c")) < r)
    )
    sel = cum.select(
        *group_cols, F.explode(F.filter(ranks, hit)).alias("__r"), "__v"
    )
    return sel.groupBy(*group_cols).agg(F.avg("__v").alias(out_col))


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    z_cutoff: float = 3.5,
    ndigits: int = 4,
) -> DataFrame:
    """Robust z-score per row: 0.6745 * (v - median) / MAD within the
    group (the modified z-score of Iglewicz & Hoaglin), flagged at
    |z| >= z_cutoff. Both medians are rank-based explicit forms (see
    module docstring), so the score — and its rounding — is a pure
    deterministic function of the input on any engine.

    MAD == 0 (constant-majority group) yields NULL z and no flag —
    every value equals the median or is infinitely far by this metric;
    surfacing NULL beats inventing a scale.

    Round 10 (guide §2.4): both medians now come from histogram rank
    selection (``_hist_median``) instead of row_number windows — the
    old plan carried THREE corpus-wide sort+window towers (the median
    subtree was duplicated into the MAD branch because each broadcast
    build re-derived it). Now: one histogram aggregate per median
    (map-side combined to distinct (group, value) rows), the tiny
    per-group median table broadcast once into the deviation pass,
    zero corpus sorts. The deviation
    ordering used (dev, value); dev is a pure function of value within
    a group, so the dev at any rank — the only thing the MAD needs —
    is unchanged by the tiebreak.

    Group-cardinality assumption (ADVICE r10): the per-group median and
    MAD tables are explicitly ``F.broadcast()`` into the stream joins —
    one narrow row per group, the right shape for the grouping columns
    this engine uses (event types, sources: thousands at most). With
    millions of groups those relations approach broadcast/driver
    limits; drop the hints there and let AQE pick the strategy (the
    rest of the plan is unchanged).
    """
    med = _hist_median(df, group_cols, value_col, "__med")
    with_dev = df.join(F.broadcast(med), group_cols).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = _hist_median(with_dev, group_cols, "__dev", "__mad")
    with_mad = with_dev.join(F.broadcast(mad), group_cols)
    # Quantize with explicit floor arithmetic rather than round():
    # engines implement round-half differently (Spark: exact BigDecimal
    # HALF_UP; DuckDB: float-scaled nearbyint), so the same raw double
    # can round to different 4th decimals at a boundary — observed on
    # 1 row in a million at sf1. floor(x*10^d + 0.5)/10^d is the same
    # IEEE op sequence everywhere, hence bit-identical.
    scale = float(10**ndigits)
    raw = (
        F.lit(0.6745)
        * (F.col(value_col) - F.col("__med"))
        / F.when(F.col("__mad") > 0, F.col("__mad"))
    )
    z = F.floor(raw * scale + 0.5) / scale
    return (
        with_mad.withColumn("robust_z", z)
        .withColumn(
            "is_outlier",
            F.when(
                F.col("robust_z").isNotNull(),
                F.abs(F.col("robust_z")) >= z_cutoff,
            ),
        )
        .drop("__med", "__mad", "__dev")
    )


def grouped_quantiles_disc(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    qs: list[float],
) -> DataFrame:
    """EXACT discrete quantiles per group: for each q the element at
    rank ceil(q * n) of the sorted values — an actual data value, no
    interpolation, hence bit-identical on every engine (the lesson
    from mad_outliers applied as a reusable primitive).

    Round 10 (guide §2.3/§2.4): rank selection over the VALUE
    HISTOGRAM, not a row_number sort of the stream. The value at rank
    ceil(q*n) of a sorted multiset is the smallest v whose cumulative
    count reaches the rank — computed from a map-side-combined
    ``groupBy(group, value).count()`` plus one cumulative window over
    DISTINCT (group, value) rows (~hundreds for integer metrics,
    never more than the stream for continuous ones). The old form
    sorted the whole stream per group — a 5-group corpus sort with
    5-way parallelism — and its per-q union branches re-ran that sort
    (ReuseExchange dedups only the exchange, not the WindowExec above
    it: 3 qs = 3 full sorts). All qs now resolve in ONE pass via an
    array filter; a row can satisfy several qs (tiny groups) and
    yields one output row per matching q, exactly like the old
    per-q selects. Tie order among equal values can never change the
    value at a rank, so no tiebreak key is needed.
    Returns group_cols + (q, value).
    """
    hist = df.groupBy(
        *group_cols, F.col(value_col).alias("__v")
    ).agg(F.count(F.lit(1)).alias("__c"))
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_grp = Window.partitionBy(*group_cols)
    cum = hist.withColumn("__cum", F.sum("__c").over(w_cum)).withColumn(
        "__tot", F.sum("__c").over(w_grp)
    )
    q_arr = F.array(*[F.lit(float(q)) for q in qs])
    hit = lambda q: (  # noqa: E731 — rank lands inside this value's run
        (F.col("__cum") >= F.ceil(q * F.col("__tot")))
        & ((F.col("__cum") - F.col("__c")) < F.ceil(q * F.col("__tot")))
    )
    return cum.select(
        *group_cols,
        F.explode(F.filter(q_arr, hit)).alias("q"),
        F.col("__v").alias("value"),
    )
