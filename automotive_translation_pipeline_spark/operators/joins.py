"""Join operators (SURVEY §2.3: R-13, R-14, R-15, R-16).

Every join in the reference is a small-dimension equi-join done as a
Python dict lookup or an O(n) linear scan; here they are hash joins that
Catalyst turns into broadcast joins automatically when one side is small.
At 100 TB the expected-ids side is the big fact — it shuffles on
(batch_id, description_id) once and every downstream step reuses that
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FAILED_SENTINEL = "[TRANSLATION_FAILED]"


def _epoch_micros(c: Column) -> Column:
    """``unix_micros`` that accepts BOTH timestamp flavors. Spark 4
    rejects ``unix_micros(TIMESTAMP_NTZ)`` outright; casting NTZ →
    TIMESTAMP first reinterprets the wall-clock under the session
    timezone (pinned to UTC in session.py), which is exactly the
    instant the DuckDB oracle computes. LTZ input passes through the
    cast unchanged, so the helper is flavor-agnostic."""
    return F.unix_micros(c.cast("timestamp"))


def rejoin_results(
    expected: DataFrame,
    parsed: DataFrame,
    keys: tuple[str, ...] = ("batch_id", "description_id"),
) -> DataFrame:
    """R-13 + R-14: left-join parsed translations back onto the expected
    rows; missing → NULL (reference ``auto_translate.py:971-999``). The
    reference's in-band ``FAILED_SENTINEL`` is applied at the sinks,
    never inside the engine.

    R-14's first-match contract (the reference's ``next(...)`` linear
    scan returns the first hit) is preserved by deduplicating the build
    side on the join keys before joining.
    """
    build = parsed.dropDuplicates(list(keys))
    return expected.join(build, list(keys), "left_outer")


def detect_extras(
    parsed: DataFrame,
    expected: DataFrame,
    keys: tuple[str, ...] = ("batch_id", "description_id"),
) -> DataFrame:
    """R-15: parsed ids that were never requested in their batch
    (reference ``auto_translate.py:1006-1009``) — a left-anti join."""
    return parsed.join(expected.select(*keys), list(keys), "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    right_cols: tuple[str, ...],
    tie_col: str | None = None,
) -> DataFrame:
    """Point-in-time (as-of) join: for every left row, the latest right
    row of the same ``key`` with ``right.ts <= left.ts`` — the
    feature-store primitive Spark has no built-in for.

    Scalable formulation: tag both sides, union, ONE window per key
    ordered by (ts, side, tie): ``last(value, ignorenulls)`` carries the
    most recent right-side attributes forward onto each left row. One
    shuffle on the key, no range self-join, no per-row subquery — at
    100 TB this is a single sort-within-partition pass. Right rows at
    exactly left.ts match (right sorts first); ties among right rows
    resolve to the largest ``tie_col``.

    Returns the left rows plus ``right_cols`` (renamed ``asof_<col>``),
    NULL where no prior right row exists.
    """
    tie = tie_col or right_cols[0]
    l_tagged = left.select(
        F.col(key),
        F.col(ts_col),
        F.lit(1).alias("__side"),
        F.lit(None).cast(dict(right.dtypes)[tie]).alias("__tie"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in right_cols],
        *[F.col(c) for c in left.columns if c not in (key, ts_col)],
    )
    r_tagged = right.select(
        F.col(key),
        F.col(ts_col),
        F.lit(0).alias("__side"),
        F.col(tie).alias("__tie"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        *[
            F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in left.columns
            if c not in (key, ts_col)
        ],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts_col), F.col("__side"), F.col("__tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tagged.unionByName(r_tagged).select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).drop(
        "__side", "__tie", *[f"__r_{c}" for c in right_cols]
    )


def range_join_binned(
    left: DataFrame,
    intervals: DataFrame,
    key: str,
    ts_col: str,
    start_col: str,
    end_col: str,
    bin_secs: int = 600,
) -> DataFrame:
    """Interval containment join (``left.ts BETWEEN start AND end`` per
    key) without the quadratic blowup: both sides are bucketed into
    fixed time bins; each interval explodes into the bins it covers
    (bounded by interval_length/bin_secs), the join runs on
    (key, bin) equality, and the exact range predicate filters inside
    the bucket. Pick ``bin_secs`` near the typical interval length so
    each interval covers O(1) bins — then cost is |matches|, not
    |left|×|intervals|."""
    micros = 1_000_000 * bin_secs
    l_binned = left.withColumn(
        "__bin", (_epoch_micros(F.col(ts_col)) / micros).cast("long")
    )
    i_binned = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                (_epoch_micros(F.col(start_col)) / micros).cast("long"),
                (_epoch_micros(F.col(end_col)) / micros).cast("long"),
            )
        ),
    )
    return l_binned.join(i_binned, [key, "__bin"]).filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    ).drop("__bin")


def pair_by_stem(
    left: DataFrame,
    right: DataFrame,
    left_path: str,
    right_path: str,
) -> DataFrame:
    """R-16: pair files by basename stem (``X.jsonl`` ↔ ``X.csv``,
    reference ``old_functionalities/batch_translator.py:172-180``).
    Unmatched rows drop out of the inner join; use a left_anti on the
    result for the skip report."""
    stem = lambda c: F.regexp_extract(F.col(c), r"([^/]+?)(?:\.[^./]+)?$", 1)  # noqa: E731
    return left.withColumn("stem", stem(left_path)).join(
        right.withColumn("stem", stem(right_path)), "stem", "inner"
    )


def cogroup_reconcile(
    expected: DataFrame,
    actual: DataFrame,
    bucket_col: str,
    key_col: str,
) -> DataFrame:
    """Keyed reconciliation of two datasets via ``cogroup.applyInPandas``:
    per bucket, how many expected keys, how many actual keys, how many
    are missing (expected-only) and extra (actual-only).

    This is the reference's per-batch expected-vs-parsed accounting
    (auto_translate.py:955-1009) generalized: both sides shuffle ONCE on
    the bucket key and meet pairwise in an Arrow-batched Python kernel —
    no driver collection, no second shuffle, and each bucket's working
    set is bounded by its own rows, so the 100 TB case is governed by
    bucket granularity, not table size. (A full-outer-join + groupBy
    expresses the same thing relationally — that twin IS the oracle —
    but cogroup keeps per-group logic open-ended for kernels that a
    join cannot express, e.g. order-sensitive diffing.)
    """
    import pandas as pd

    def reconcile(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        e = set(left[key_col]) if len(left) else set()
        a = set(right[key_col]) if len(right) else set()
        return pd.DataFrame(
            {
                "bucket": [key[0]],
                "n_expected": [len(e)],
                "n_actual": [len(a)],
                "n_missing": [len(e - a)],
                "n_extra": [len(a - e)],
            }
        )

    out_schema = (
        "bucket long, n_expected long, n_actual long, n_missing long, n_extra long"
    )
    return (
        expected.groupBy(bucket_col)
        .cogroup(actual.groupBy(bucket_col))
        .applyInPandas(reconcile, out_schema)
    )


def bloom_semi_join(
    big: DataFrame,
    small_keys: DataFrame,
    key_col: str,
    m_bits: int | None = None,
    k_hashes: int = 3,
) -> DataFrame:
    """Semi-join where the probe side is pre-pruned by a Bloom filter
    of the build side's keys — the runtime-row-filter pattern for the
    case where the dimension is too large to broadcast as a hash
    relation but its bloom (m/8 bytes) is not.

    Everything stays in-plan: key hashes explode to bit positions,
    positions collapse to a <= m/64-entry (word -> bits) map via
    bit_or aggregation, the ONE-row map broadcasts, and the probe
    side's might-contain test is k map lookups inside codegen. Rows
    surviving the bloom (all true hits + false positives) then pass
    through an exact left-semi join, so the result is exact; the
    bloom's job is to shrink the probe side BEFORE the exchange.
    Exactly the plan Spark's own runtime.bloomFilter injection
    produces, made explicit and engine-controlled.

    The false-positive rate is ~(1 - e^(-k*n/m))^k — it degrades fast
    once n keys outgrow m bits (at m=65536/k=3: ~0.1% for 2k keys but
    ~40% for 30k, where the bloom barely prunes). So by default m is
    sized FROM the build side: one count() of the (small) build input,
    then m = next_pow2(10 bits/key), floor 2^16 — ~1% fp at any n.

    NOTE: with the default ``m_bits=None`` that count() is an EAGER
    action at DataFrame-CONSTRUCTION time (and re-runs on every call)
    — laziness is broken for callers that only build plans. Pass an
    explicit ``m_bits`` to keep construction lazy when the build-side
    cardinality is known a priori.
    """
    if m_bits is None:
        n_keys = small_keys.count()  # build side is small by contract
        m_bits = 1 << max(16, (10 * max(n_keys, 1) - 1).bit_length())
    positions = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
        for i in range(k_hashes)
    ]
    exploded = small_keys.select(
        F.explode(F.array(*positions)).alias("__pos")
    )
    # shiftleft's python binding takes a literal shift only; the SQL
    # form accepts an expression, and stays inside codegen.
    words = exploded.groupBy(
        (F.col("__pos") / 64).cast("long").alias("__w")
    ).agg(
        F.bit_or(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))"
            )
        ).alias("__bits")
    )
    bf = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("__w", "__bits"))
        ).alias("__bf")
    )

    probe = big.crossJoin(F.broadcast(bf))
    hit = F.lit(True)
    for i in range(k_hashes):
        pos = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
        word = F.coalesce(
            F.element_at("__bf", (pos / 64).cast("long")), F.lit(0).cast("long")
        )
        mask = F.expr(
            "shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod(pmod(xxhash64({key_col}, {i}), {m_bits}), 64) AS INT))"
        )
        hit = hit & (word.bitwiseAND(mask) != 0)
    pruned = probe.filter(hit).drop("__bf")
    return pruned.join(
        small_keys.select(key_col).distinct(), key_col, "left_semi"
    )
