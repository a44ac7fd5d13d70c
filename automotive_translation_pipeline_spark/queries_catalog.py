"""Query catalog: the SURVEY §2 operator inventory as (Spark query,
DuckDB oracle SQL) pairs for the driver's correctness harness.

Conventions (driver contract):
- every callable takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased IDENTICALLY in Spark and SQL;
- doubles are rounded in-query on BOTH sides so value hashes match;
- ordering never matters (driver compares order-insensitively), but
  ties in top-k queries are broken deterministically.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.predicates import is_suspicious
from .functions.text import (
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    normalized_text,
    quality_score,
    script_of,
    token_count,
)
from .functions.timeutil import format_unix_ts
from .operators.aggregates import error_rollup, group_counts
from .operators.dedup import anti_join_dedup, exact_dedup
from .operators.packing import assign_batches_cumsum, with_cost
from .operators.windows import last_wins, sequence_check, shift_flags, topk_recent
from .sources import load_testdata, local_frame, scan_ts_pruned

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


# The driver samples a prefix of queries(), so ordering decides which
# entries get a driver-visible verdict each round. Priority:
#   0. queries whose implementation or oracle changed THIS round (their
#      old green row, if any, no longer applies),
#   1. queries the driver has never sampled in any round,
#   2. previously-sampled reds (need a fresh verdict),
#   3. greens (re-checking adds no information).
# The seen/green sets are derived from the CORRECTNESS_r*.json artifacts
# the driver drops in the repo root — never hardcoded, so they can't go
# stale between rounds.
# Round 4. Kept honest by tests/test_catalog_fingerprints.py: the
# committed per-query fingerprint snapshot (tools/catalog_fingerprints
# .json) is diffed against the live catalog, and any drift that is not
# declared here fails the suite — so this set can no longer go stale
# silently (VERDICT r3 item 8). Refresh flow at round end:
#   1. prune entries hash-greened by a CORRECTNESS artifact generated
#      against the CURRENT code (an artifact that greened an entry's
#      old version proves nothing about the new one);
#   2. python tools/refresh_fingerprints_round_end.py — writes current
#      fingerprints, but entries still declared here keep their OLD
#      snapshot fingerprint so they continue to read as drifted;
#   3. refill this set as the next round's edits land.
# Sampling priority keys off DRIFT (current vs snapshot fingerprint),
# so a declared entry outranks never-sampled queries exactly as long
# as its verified-at-snapshot version differs from the live one.
# Fingerprints cover the catalog entry's own source + oracle SQL; a
# deep operator change that alters a query's RESULTS must be surfaced
# by touching the entry (e.g. a docstring note), which flips its
# fingerprint and forces the declaration here.
_CHANGED_THIS_ROUND = frozenset({
    # (round-7 carries all pruned: every declared entry was hash-greened
    # — or rows-observed with its accuracy hook passing — in the
    # driver's CORRECTNESS_r07.json against the round-7 code, so their
    # snapshot fingerprints refresh this round.)
    # round 8 edits (snapshot not refreshed at round close — still drifted):
    "ann_cosine_lsh",        # promoted rows-only -> full oracle (inlined SRP planes)
    "ann_mmr_diversified",   # promoted rows-only -> full oracle (unrolled greedy CTEs)
    "text_bigram_surprisal", # md5 fp key; stream joins once on fp, never on w1
    "sample_dsir_weights",   # no-persist two-map-pass shape (sf100 spill fix)
    # round 9 edits:
    "embedding_pca_recon",   # promoted rows-only -> bounded-error oracle (trace identity)
    # (text_bigram_surprisal re-edited round 9: xxhash64 keys + gated broadcast)
    "text_unigram_surprisal",  # checkpointed wc broadcast; one exchange end-to-end
    "text_perplexity_buckets", # inherits the unigram broadcast (results unchanged)
    # round 10 edits:
    "ann_cosine_pq",  # promoted rows-only -> full oracle (frozen codebook literals)
    "search_rrf_hybrid",  # one shared bm25_candidates table for both k1 legs
    "profile_psi_drift",  # one bucket-count pass + conditional-agg pivot
    "embedding_pca_recon",  # one scatter fit + fused two-rank recon pass
    "basket_brand_lift",  # row-local pair generation; self-join removed
    # one vector quantizer (numpy Lloyd + pq_encode assignment, no MLlib):
    "ann_cosine_ivf",
    "ann_cosine_ivf_indexed",
    "dedup_semantic_prune",
    # lazy table resolution (views register on access):
    "agg_grouping_sets",
    # driver-built tables as Arrow local relations (sources.local_frame):
    "heavy_hitters_cms",
    # one Python parse core (no native cascade left to fence off):
    "analyze_error_taxonomy",  # codegen-barrier persist dropped
    "analyze_full_taxonomy",  # codegen-barrier persist dropped
    "parse_udtf_lateral",  # docstring names the real test module
    # one path per operator (option-selected forks deleted):
    "dedup_ngram_jaccard",  # docstring + oracle comment drop the exhaustive twin
})


def _driver_history() -> tuple[set[str], set[str], dict[str, int]]:
    """(ever-sampled, green, last-sampled-round) across driver rounds.

    A row counts as green if its value hash matched, or if it is a
    rows-only query (err == "no_oracle") that the driver has already
    observed — re-sampling either adds no signal. The last-sampled
    round number feeds freshness rotation (round-6 verdict #8): among
    equally-green entries the ones the driver verified longest ago
    sort first, so the driver's own artifacts re-cover the full
    catalog within a few rounds instead of pinning the same prefix."""
    import json
    import re
    from pathlib import Path

    seen: set[str] = set()
    green: set[str] = set()
    last_round: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    artifacts = sorted(root.glob("CORRECTNESS_r*.json"))
    for path in artifacts:
        m = re.search(r"r(\d+)", path.name)
        rnum = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            seen.add(name)
            last_round[name] = max(last_round.get(name, 0), rnum)
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True or row.get("err") == "no_oracle":
                green.add(name)
    return seen, green, last_round


def fingerprints() -> dict[str, str]:
    """Per-entry hash of (implementation source + oracle SQL): the one
    recipe behind the committed snapshot (tools/catalog_fingerprints.py
    writes it) and the drift check below."""
    import hashlib
    import inspect

    out: dict[str, str] = {}
    for name, (fn, sql) in _REGISTRY.items():
        blob = inspect.getsource(fn) + "\n----\n" + (sql or "<rows-only>")
        out[name] = hashlib.sha256(blob.encode()).hexdigest()[:16]
    return out


def _drifted_names() -> set[str]:
    """Entries whose :func:`fingerprints` differs from the committed
    round-end snapshot — i.e. versions no CORRECTNESS artifact has
    verified yet. Missing snapshot -> treat every declared entry as
    drifted so priority degrades safely."""
    import json
    from pathlib import Path

    snap = (
        Path(__file__).resolve().parent.parent
        / "tools"
        / "catalog_fingerprints.json"
    )
    try:
        old = json.loads(snap.read_text())
    except (OSError, ValueError):
        return set(_CHANGED_THIS_ROUND)
    return {n for n, fp in fingerprints().items() if n in old and old[n] != fp}


@functools.cache
def _ordered_names() -> tuple[str, ...]:
    """The catalog in sampling-priority order, ranked once per process
    (its inputs are fixed while the package is loaded)."""
    seen, green, last_round = _driver_history()
    drifted = _drifted_names()

    def rank(name: str) -> tuple[int, int]:
        # Changed-and-unverified first: declared this round AND the
        # live fingerprint still differs from the last verified
        # snapshot (version-aware — a driver green of the OLD version
        # cannot clear priority for the new one; the round-end refresh
        # is what retires drift once the new version verifies).
        if name in _CHANGED_THIS_ROUND and name in drifted:
            return (0, 0)
        if name not in seen:
            return (1, 0)
        if name not in green:
            return (2, 0)
        # Greens rotate: least-recently-sampled first, so the driver's
        # prefix re-covers the whole catalog within a few rounds.
        return (3, last_round.get(name, 0))

    # sorted() is stable: registration order is preserved within a rank.
    return tuple(sorted(_REGISTRY, key=rank))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _ordered_names()
        if _REGISTRY[name][1] is not None
    }


# --- portable expression fragments (Spark + DuckDB twins) ------------------

# BPE-ish token count (functions/text.py:bpe_token_count) in DuckDB SQL.
_DUCK_BPE = (
    "list_sum(list_transform(regexp_split_to_array(trim({c}), '\\s+'), "
    "w -> greatest(1, cast(ceil(length(w) / 4.0) as bigint))))"
)


# =========================================================================
# §2.2 projections / filters
# =========================================================================


@register(
    "r7_nonempty_filter",
    """
    SELECT doc_id, trim(text) AS sentence, lang
    FROM documents
    WHERE length(trim(text)) > 0
    """,
)
def r7_nonempty_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-7: non-empty filter + trim projection (auto_translate.py:271-275)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.trim("text").alias("sentence"), "lang")
    )


@register(
    "r8_status_filter",
    """
    SELECT event_id, user_id, event_type, round(value, 2) AS value_r
    FROM events WHERE event_type = 'error'
    """,
)
def r8_status_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-8: equality filter on a status column (auto_translate.py:221-235)."""
    t = load_testdata(spark, sf_dir)
    return t["events"].filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value_r")
    )


@register(
    "r9_point_lookup",
    "SELECT event_id, user_id, event_type FROM events WHERE event_id = 42",
)
def r9_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-9: point lookup by unique key (auto_translate.py:208-218)."""
    t = load_testdata(spark, sf_dir)
    return t["events"].filter(F.col("event_id") == 42).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "r10_suspicious_predicate",
    """
    SELECT doc_id,
           (t IS NULL
            OR lower(trim(t)) IN ('[translation_failed]','plaintext','text','code',
                'output','none','null','undefined','error','failed','missing',
                'empty','json','translation','response','content','message',
                'system','user')
            OR trim(t) LIKE '``%'
            OR trim(t) LIKE '<%'
            OR trim(t) LIKE '{%'
            OR trim(t) LIKE '[%'
            OR length(trim(t)) < 3
            OR regexp_full_match(trim(t), '\\d+')) AS suspicious
    FROM (SELECT doc_id, reverse(trim(text)) AS t FROM documents)
    """,
)
def r10_suspicious_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-10: the 18-token suspicious predicate over mock translations
    (auto_translate.py:649-672)."""
    t = load_testdata(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        is_suspicious(F.reverse(F.trim("text"))).alias("suspicious"),
    )


# =========================================================================
# §2.3 joins
# =========================================================================


@register(
    "r12_anti_join_dedup",
    """
    SELECT d.doc_id, d.lang
    FROM documents d
    WHERE NOT EXISTS (
        SELECT 1 FROM documents done
        WHERE done.doc_id % 7 = 0 AND done.doc_id = d.doc_id)
      AND length(trim(d.text)) > 0
    """,
)
def r12_anti_join_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-12: anti-join dedup against the already-done table
    (preprocessing/duplicate_remove.py:11-21)."""
    t = load_testdata(spark, sf_dir)
    docs = t["documents"].filter(F.length(F.trim("text")) > 0)
    done = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return anti_join_dedup(docs, done, key="doc_id").select("doc_id", "lang")


@register(
    "r13_left_join_sentinel",
    """
    SELECT e.event_id, e.user_id,
           coalesce(c.c_name, '[TRANSLATION_FAILED]') AS resolved_name
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def r13_left_join_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-13: left-outer equi-join with in-band sentinel for misses
    (auto_translate.py:971-999). Dimension side broadcasts."""
    t = load_testdata(spark, sf_dir)
    cust = F.broadcast(t["customer"].select("c_custkey", "c_name"))
    return (
        t["events"]
        .join(cust, t["events"].user_id == cust.c_custkey, "left_outer")
        .select(
            "event_id",
            "user_id",
            F.coalesce("c_name", F.lit("[TRANSLATION_FAILED]")).alias("resolved_name"),
        )
    )


@register(
    "r14_first_match_lookup",
    """
    SELECT o.o_orderkey, coalesce(fl.first_partkey, -1) AS first_partkey
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey, min(l_partkey) AS first_partkey
        FROM (
            SELECT l_orderkey, l_partkey,
                   min(l_linenumber) OVER (PARTITION BY l_orderkey) AS min_ln,
                   l_linenumber
            FROM lineitem)
        WHERE l_linenumber = min_ln
        GROUP BY l_orderkey
    ) fl ON o.o_orderkey = fl.l_orderkey
    """,
)
def r14_first_match_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-14: first-match lookup-join — the reference's O(n) ``next(...)``
    scan (auto_translate.py:971-974) as dedup-then-hash-join.

    (l_orderkey, l_linenumber) is not unique in the testdata, so
    "first" is pinned deterministically: lowest partkey among the rows
    with the lowest line number."""
    t = load_testdata(spark, sf_dir)
    w = Window.partitionBy("l_orderkey")
    first_line = (
        t["lineitem"]
        .withColumn("min_ln", F.min("l_linenumber").over(w))
        .filter(F.col("l_linenumber") == F.col("min_ln"))
        .groupBy("l_orderkey")
        .agg(F.min("l_partkey").alias("first_partkey"))
    )
    return (
        t["orders"]
        .join(first_line, t["orders"].o_orderkey == first_line.l_orderkey, "left_outer")
        .select(
            "o_orderkey",
            F.coalesce("first_partkey", F.lit(-1)).alias("first_partkey"),
        )
    )


@register(
    "r15_extras_anti_join",
    """
    SELECT DISTINCT e.user_id
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
    """,
)
def r15_extras_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-15: ids delivered that were never requested — the
    ``detect_extras`` operator (auto_translate.py:1006-1009) over
    events-vs-customer. NOTE: vacuously empty at small SFs (every event
    user_id is a customer there); the non-vacuous exercise of the same
    operator on the real response path is ``r15_extras_detect``."""
    from .operators.joins import detect_extras

    t = load_testdata(spark, sf_dir)
    expected = t["customer"].select(F.col("c_custkey").alias("user_id"))
    return (
        detect_extras(t["events"], expected, keys=("user_id",))
        .select("user_id")
        .distinct()
    )


# =========================================================================
# §2.4 packing (R-17/R-18)
# =========================================================================

_PACK_SQL_BASE = f"""
    WITH todo AS (
        SELECT doc_id, trim(text) AS sentence, lang
        FROM documents
        WHERE length(trim(text)) > 0
    ), costed AS (
        SELECT doc_id, lang,
               {_DUCK_BPE.format(c="sentence")}
               + {_DUCK_BPE.format(c="sentence")} * 1.8 AS cost
        FROM todo
    ), assigned AS (
        -- integer-tenths prefix sum: float window sums accumulate in
        -- engine-specific order and drift across batch boundaries at
        -- sf3 magnitudes (see operators/packing.py)
        SELECT doc_id, lang, cost,
               lang || '-' || cast(cast(floor(
                   (sum(cast(round(cost * 10, 0) as bigint))
                        OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - 1) / 40000
               ) as bigint) as varchar) AS batch_id
        FROM costed
    )
"""


@register(
    "r17_pack_cumsum",
    _PACK_SQL_BASE + "SELECT doc_id, batch_id FROM assigned",
)
def r17_pack_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-17: token-aware batch packing, prefix-sum formulation, sharded
    by language (auto_translate.py:278-301; SURVEY §2.4)."""
    t = load_testdata(spark, sf_dir)
    docs = (
        t["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.trim("text").alias("sentence"), F.col("lang").alias("shard"))
    )
    assigned = assign_batches_cumsum(
        with_cost(docs, "sentence"), order_col="doc_id", limit=4000, shard_col="shard"
    )
    return assigned.select("doc_id", "batch_id")


@register(
    "r18_batch_sizes",
    _PACK_SQL_BASE
    + """
    SELECT batch_id, count(*) AS n_rows, round(sum(cost), 2) AS total_cost
    FROM assigned GROUP BY batch_id
    """,
)
def r18_batch_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-18/R-24: per-batch materialization stats (auto_translate.py:303-332)."""
    t = load_testdata(spark, sf_dir)
    docs = (
        t["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.trim("text").alias("sentence"), F.col("lang").alias("shard"))
    )
    assigned = assign_batches_cumsum(
        with_cost(docs, "sentence"), order_col="doc_id", limit=4000, shard_col="shard"
    )
    return assigned.groupBy("batch_id").agg(
        F.count("*").alias("n_rows"), F.round(F.sum("cost"), 2).alias("total_cost")
    )


@register(
    "r15_extras_detect",
    _PACK_SQL_BASE
    + """
    , batches AS (SELECT DISTINCT batch_id FROM assigned)
    SELECT batch_id,
           'x' || batch_id AS description_id,
           reverse('extra ' || batch_id) AS translation
    FROM batches
    WHERE CAST('0x' || substr(md5('extras|' || batch_id), 1, 8) AS BIGINT)
          % 3 = 0
    """,
)
def r15_extras_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-15, non-vacuous at every SF: the mock translator PLANTS one
    unrequested id ('x' + batch_id) in a deterministic third of the
    batches (md5 bucket — translate.py:render_mock_content_with_extras);
    the full pack → translate → parse path runs and
    ``operators/joins.py:detect_extras`` anti-joins the parsed rows
    against the requested set. The oracle replays only the injection
    CONTRACT (packed batch ids + bucket rule + planted id/value), so a
    wrong parse, a lost extra, or a broken anti-join all hash-mismatch.
    Reference behavior: auto_translate.py:1006-1009 (extra ids logged
    on response ingestion)."""
    from .operators.joins import detect_extras
    from .operators.packing import materialize_requests
    from .plans.pipeline import _parse_responses
    from .translate import mock_translate_extras_udf, translate_requests

    t = load_testdata(spark, sf_dir)
    docs = (
        t["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select(
            F.col("doc_id").cast("string").alias("description_id"),
            F.trim("text").alias("english_sentence"),
            F.col("lang").alias("shard"),
            F.col("doc_id").alias("seq"),
        )
    )
    assigned = assign_batches_cumsum(
        with_cost(docs, "english_sentence"),
        order_col="seq",
        limit=4000,
        shard_col="shard",
    )
    requests = materialize_requests(assigned)
    responses = translate_requests(
        requests, translator_udf=mock_translate_extras_udf
    )
    parsed = _parse_responses(responses)
    expected = assigned.select("batch_id", "description_id")
    return detect_extras(parsed, expected).select(
        "batch_id", "description_id", "translation"
    )


# =========================================================================
# §2.5 aggregations
# =========================================================================


@register(
    "r21_error_rollup",
    """
    SELECT event_type, count(*) AS n,
           round(count(*) * 100.0 / (SELECT count(*) FROM events), 2) AS pct
    FROM events GROUP BY event_type
    """,
)
def r21_error_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-21: per-error-type counts + share (auto_translate.py:1504-1543)."""
    t = load_testdata(spark, sf_dir)
    return error_rollup(t["events"], "event_type")


@register(
    "r22_group_by_status",
    "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus",
)
def r22_group_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-22: ledger-style status counts (batch_tracker.py:110-115)."""
    t = load_testdata(spark, sf_dir)
    return group_counts(t["orders"], "o_orderstatus")


@register(
    "r23_group_by_language",
    "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
)
def r23_group_by_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-23: per-language counts (batch_tracker.py:117-120)."""
    t = load_testdata(spark, sf_dir)
    return group_counts(t["documents"], "lang")


@register(
    "r24_per_group_count",
    "SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey",
)
def r24_per_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-24: per-batch extraction count (auto_translate.py:966)."""
    t = load_testdata(spark, sf_dir)
    return group_counts(t["lineitem"], "l_orderkey")


# =========================================================================
# §2.6 windows
# =========================================================================


@register(
    "r25_last_wins",
    """
    SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    """,
)
def r25_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-25: duplicate keys collapse last-wins (auto_translate.py:514-518).
    Explicit ordering column — dict insertion order made visible."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"].withColumn(
        "__ord", F.struct(F.col("ts"), F.col("event_id"))
    )
    return last_wins(ev, ["user_id"], "__ord").select(
        "user_id", "event_id", "event_type"
    )


@register(
    "r26_shift_detection",
    """
    SELECT user_id, event_id FROM (
        SELECT user_id, event_id, failed,
               coalesce(lead(failed) OVER w, TRUE) AS next_failed,
               coalesce(lag(failed)  OVER w, TRUE) AS prev_failed,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn_last
        FROM (SELECT user_id, event_id, ts, event_type = 'error' AS failed
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE (failed AND NOT next_failed)
       OR (failed AND rn_last = 1 AND NOT prev_failed)
    """,
)
def r26_shift_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-26/R-27: lead/lag shift detection (auto_translate.py:1012-1032),
    keyed by user instead of batch on the events table."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"].select(
        "user_id",
        "event_id",
        F.struct(F.col("ts"), F.col("event_id")).alias("__ord"),
        (F.col("event_type") == "error").alias("is_failed"),
    )
    flagged = shift_flags(ev, batch_col="user_id", order_col="__ord")
    return flagged.filter(F.col("shift_suspect")).select("user_id", "event_id")


@register(
    "r28_topk_recent",
    """
    SELECT event_id, user_id, event_type
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 5
    """,
)
def r28_topk_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-28: most-recent-top-k (batch_tracker.py:132-140) —
    TakeOrderedAndProject, not a global sort."""
    t = load_testdata(spark, sf_dir)
    return topk_recent(t["events"], "ts", k=5, tiebreak="event_id").select(
        "event_id", "user_id", "event_type"
    )


@register(
    "r29_sequence_check",
    """
    SELECT user_id, event_id, claimed_number, expected_number FROM (
        SELECT user_id, event_id,
               event_id % 5 + 1 AS claimed_number,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS expected_number
        FROM events)
    WHERE claimed_number <> expected_number
    """,
)
def r29_sequence_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-29: numbering-sequence violations
    (old_functionalities/check_and_process.py:296-310). Uses events with
    a synthetic claimed line number (event_id is unique → deterministic
    expected order; lineitem's (orderkey, linenumber) is not unique)."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"].select(
        "user_id",
        "event_id",
        (F.col("event_id") % 5 + 1).alias("claimed_number"),
        F.struct(F.col("ts"), F.col("event_id")).alias("__ord"),
    )
    return sequence_check(
        ev, batch_col="user_id", order_col="__ord", number_col="claimed_number"
    ).select("user_id", "event_id", "claimed_number", "expected_number")


# =========================================================================
# §2.9 scalar functions
# =========================================================================


@register(
    "f2_token_count",
    f"""
    SELECT doc_id,
           cast(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_ws_tokens,
           cast({_DUCK_BPE.format(c="text")} AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def f2_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-2: whitespace + BPE-ish token counts (tiktoken stand-in,
    auto_translate.py:259-260). Both counts are BIGINT on both engines:
    DuckDB's list_sum returns HUGEINT, whose 128-bit width hashes
    differently from Spark's INT even when every value is identical —
    the explicit cast pins one wire type."""
    t = load_testdata(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
    )


@register(
    "f15_ts_format",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str FROM events
    """,
)
def f15_ts_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-15: timestamp display formatting (batch_tracker.py:40-46)."""
    t = load_testdata(spark, sf_dir)
    return t["events"].select(
        "event_id",
        format_unix_ts(F.unix_timestamp("ts")).alias("ts_str"),
    )


@register(
    "f18_script_of",
    """
    SELECT script, count(*) AS n FROM (
        SELECT CASE
            WHEN regexp_matches(text, '[\\x{0C00}-\\x{0C7F}]') THEN 'telugu'
            WHEN regexp_matches(text, '[\\x{0900}-\\x{097F}]') THEN 'devanagari'
            WHEN regexp_matches(text, '[\\x{0600}-\\x{06FF}]') THEN 'arabic'
            WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'cjk'
            WHEN regexp_matches(text, '[\\x{0400}-\\x{04FF}]') THEN 'cyrillic'
            WHEN regexp_matches(text, '[\\x{0370}-\\x{03FF}]') THEN 'greek'
            WHEN regexp_matches(text, '[\\x{AC00}-\\x{D7AF}]') THEN 'hangul'
            WHEN regexp_matches(text, '[A-Za-z]') THEN 'latin'
            ELSE 'unknown' END AS script
        FROM documents)
    GROUP BY script
    """,
)
def f18_script_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-18 generalized: unicode-script classification
    (old_functionalities/testing.py:16-19)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .select(script_of(F.col("text")).alias("script"))
        .groupBy("script")
        .agg(F.count("*").alias("n"))
    )


@register(
    "f19_strip_numbering",
    """
    SELECT doc_id,
           regexp_replace(cast(doc_id as varchar) || '. ' || trim(text),
                          '^\\d+\\.\\s*', '') AS stripped
    FROM documents
    """,
)
def f19_strip_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-19: strip numbering prefixes (old_functionalities/testing.py:23-24)."""
    t = load_testdata(spark, sf_dir)
    from .functions.cleaning import strip_numbering

    numbered = F.concat(F.col("doc_id").cast("string"), F.lit(". "), F.trim("text"))
    return t["documents"].select(
        "doc_id", strip_numbering(numbered).alias("stripped")
    )


# =========================================================================
# §3.1 the flagship pipeline, oracle-checked end to end
# =========================================================================

# DuckDB replica of the ENTIRE mock pipeline. Every stage mirrors the
# Spark plan deterministically:
# - dedup: doc_id % 7 == 0 rows are "already translated" (R-12);
# - pack: per-language prefix-sum batches, limit 4000 (R-17);
# - mock translate: format index = sum(ascii(custom_id)) % 4; the
#   truncated format (idx 2) loses its LAST entry (by id string sort)
#   when the batch has >= 2 rows — exactly what repair recovers (F-10);
# - parse: values failing the R-10 suspicious predicate are dropped;
# - rejoin: missing -> NULL translation (R-13);
# - flags: suspicious + lead/lag shift detection (R-26/R-27).
_SUSPICIOUS_SQL = """(
    {v} IS NULL
    OR lower(trim({v})) IN ('[translation_failed]','plaintext','text','code',
        'output','none','null','undefined','error','failed','missing',
        'empty','json','translation','response','content','message',
        'system','user')
    OR trim({v}) LIKE '``%'
    OR trim({v}) LIKE '<%'
    OR trim({v}) LIKE '{{%'
    OR trim({v}) LIKE '[%'
    OR length(trim({v})) < 3
    OR regexp_full_match(trim({v}), '\\d+'))"""

_PIPELINE_SQL_BASE = f"""
    WITH docs AS (
        SELECT cast(doc_id AS varchar) AS description_id,
               trim(text) AS sentence, lang AS shard, doc_id AS seq
        FROM documents
        WHERE length(trim(text)) > 0
    ), todo AS (
        SELECT * FROM docs WHERE seq % 7 <> 0
    ), costed AS (
        SELECT *, {_DUCK_BPE.format(c="sentence")}
                  + {_DUCK_BPE.format(c="sentence")} * 1.8 AS cost
        FROM todo
    ), assigned AS (
        SELECT description_id, sentence, shard, seq,
               shard || '-' || cast(cast(floor(
                   (sum(cast(round(cost * 10, 0) as bigint))
                        OVER (PARTITION BY shard ORDER BY seq
                              ROWS UNBOUNDED PRECEDING) - 1) / 40000
               ) as bigint) as varchar) AS batch_id
        FROM costed
    ), fmt AS (
        SELECT batch_id,
               list_sum(list_transform(string_split(batch_id, ''),
                                       ch -> ascii(ch))) % 4 AS fmt_idx,
               count(*) AS n_rows
        FROM assigned GROUP BY batch_id
    ), ranked AS (
        SELECT a.*, f.fmt_idx, f.n_rows,
               row_number() OVER (PARTITION BY a.batch_id
                                  ORDER BY a.description_id DESC) AS rn_desc
        FROM assigned a JOIN fmt f USING (batch_id)
    ), joined AS (
        SELECT batch_id, description_id, sentence AS english_sentence, seq,
               CASE WHEN fmt_idx = 2 AND n_rows >= 2 AND rn_desc = 1 THEN NULL
                    WHEN {_SUSPICIOUS_SQL.format(v="reverse(sentence)")} THEN NULL
                    ELSE reverse(sentence) END AS translation
        FROM ranked
    ), flagged AS (
        SELECT *, translation IS NULL AS is_failed,
               {_SUSPICIOUS_SQL.format(v="translation")} AS is_suspicious
        FROM joined
    ), shifted AS (
        SELECT *,
               (is_failed AND NOT coalesce(lead(is_failed) OVER w, TRUE))
               OR (is_failed
                   AND row_number() OVER (PARTITION BY batch_id
                                          ORDER BY seq DESC) = 1
                   AND NOT coalesce(lag(is_failed) OVER w, TRUE))
                   AS shift_suspect
        FROM flagged
        WINDOW w AS (PARTITION BY batch_id ORDER BY seq)
    )
"""


@register(
    "pipeline_rows",
    _PIPELINE_SQL_BASE
    + """
    SELECT batch_id, description_id, english_sentence, translation,
           is_failed, is_suspicious, shift_suspect
    FROM shifted
    """,
)
def pipeline_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline (SURVEY §3.1), row level: every stage of
    scan→dedup→pack→translate→parse/repair→rejoin→flags checked against
    a pure-SQL replica of the mock."""
    from .plans.pipeline import translation_pipeline

    return translation_pipeline(spark, sf_dir).select(
        "batch_id",
        "description_id",
        "english_sentence",
        "translation",
        "is_failed",
        "is_suspicious",
        "shift_suspect",
    )


@register(
    "pipeline_rows_staged",
    _PIPELINE_SQL_BASE
    + """
    SELECT batch_id, description_id, english_sentence, translation,
           is_failed, is_suspicious, shift_suspect
    FROM shifted
    """,
)
def pipeline_rows_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship via bucketed staging tables (the multi-job/service
    topology: pack and re-join persist their keyed stores bucketed by
    batch_id, so the re-join + shift-window job is shuffle-free).
    Same oracle as pipeline_rows — a full parity proof for the staged
    path."""
    from .plans.pipeline import translation_pipeline_staged

    return translation_pipeline_staged(spark, sf_dir).select(
        "batch_id",
        "description_id",
        "english_sentence",
        "translation",
        "is_failed",
        "is_suspicious",
        "shift_suspect",
    )


@register(
    "pipeline_summary",
    _PIPELINE_SQL_BASE
    + """
    SELECT count(*) AS total_rows,
           count(*) - count(CASE WHEN is_failed THEN 1 END) AS successful,
           count(CASE WHEN is_failed THEN 1 END) AS failed,
           count(CASE WHEN is_suspicious THEN 1 END) AS suspicious,
           count(CASE WHEN shift_suspect THEN 1 END) AS shift_suspects,
           round((count(*) - count(CASE WHEN is_failed THEN 1 END))
                 * 100.0 / count(*), 2) AS success_rate_pct
    FROM shifted
    """,
)
def pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-20: the flagship run summary — the entry() DataFrame."""
    from .plans.pipeline import translation_pipeline_summary

    return translation_pipeline_summary(spark, sf_dir)


# =========================================================================
# TPC-H-style headline queries (bench workload; classic shuffle/join/agg
# shapes the engine must plan well at 100 TB)
# =========================================================================


@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with partial aggregation.
    Filter + 6-column projection push into the parquet scan; the date
    bound is applied in the raw nanos domain so it reaches the reader
    as a PushedFilter (row-group pruning at scale)."""
    return (
        scan_ts_pruned(
            spark, sf_dir, "lineitem", [("l_shipdate", "<=", "1998-09-02")]
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT o_orderkey, round(revenue, 2) AS revenue_r, o_orderdate FROM (
        SELECT l.l_orderkey AS o_orderkey,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               o.o_orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate)
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → broadcast join chain →
    agg → top-k. Customer side broadcasts; lineitem never shuffles for
    the join, only for the final agg."""
    t = load_testdata(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = scan_ts_pruned(
        spark, sf_dir, "orders", [("o_orderdate", "<", "1997-01-01")]
    )
    li = scan_ts_pruned(
        spark, sf_dir, "lineitem", [("l_shipdate", ">", "1997-01-01")]
    )
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(li.l_orderkey.alias("o_orderkey"), "o_orderdate")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("revenue", 2).alias("revenue_r"), "o_orderdate")
    )


@register(
    "tpch_q5_local_suppliers",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def tpch_q5_local_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with two broadcast dims and a
    region filter that prunes most of the star before the fact shuffle."""
    t = load_testdata(spark, sf_dir)
    n = t["nation"].alias("n")
    r = t["region"].filter(F.col("r_name") == "ASIA").alias("r")
    s = t["supplier"].alias("s")
    c = t["customer"].alias("c")
    o = t["orders"].alias("o")
    li = t["lineitem"].alias("l")
    dims = F.broadcast(
        s.join(n, F.col("s.s_nationkey") == F.col("n.n_nationkey"))
        .join(r, F.col("n.n_regionkey") == F.col("r.r_regionkey"))
        .select("s.s_suppkey", "s.s_nationkey", "n.n_name")
    )
    return (
        li.join(F.broadcast(o), F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        .join(F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(
            dims,
            (F.col("l.l_suppkey") == F.col("s_suppkey"))
            & (F.col("c.c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# =========================================================================
# Extension surface: dedup / similarity / text analysis / semi-structured
# (BASELINE.json mandate; SURVEY §7 Milestone 6)
# =========================================================================

# Normalized text + distinct 3-word shingles, DuckDB side.
_DUCK_NORM = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"
_DUCK_SHINGLE_CTE = f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(words) - 1), i ->
                   array_to_string(list_slice(words, i, i + 2), ' '))) AS shingles
        FROM w WHERE len(words) >= 3
    )
"""


# Affine min-wise family for every LSH oracle (the one family
# lsh_banded_table computes): one md5 per shingle
# reduced to 60 bits, then h_i = (a_i*x + b_i) mod 2^31-1 per seed.
# Constants inlined as SQL list literals so both engines compute
# identical buckets.
def _affine_sql_lists(n: int) -> tuple[str, str]:
    from .operators.dedup import affine_minhash_constants

    a, b = affine_minhash_constants(n)
    return (
        "[" + ", ".join(map(str, a)) + "]",
        "[" + ", ".join(map(str, b)) + "]",
    )


_NGRAM_AFFINE_A, _NGRAM_AFFINE_B = _affine_sql_lists(32)
_AFFINE_A16, _AFFINE_B16 = _affine_sql_lists(16)

_DUCK_AFFINE_SIG16 = f"""
    , base AS (
        SELECT doc_id,
               list_transform(shingles, s ->
                   CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                   % 2147483647) AS bases
        FROM sh
    ), sig AS (
        SELECT doc_id,
               list_transform(range(0, 16), i ->
                   list_min(list_transform(bases, x ->
                       ({_AFFINE_A16}[i + 1] * x
                        + {_AFFINE_B16}[i + 1]) % 2147483647))
               ) AS sig
        FROM base
    )"""


@register(
    "dedup_exact_groups",
    f"""
    SELECT md5({_DUCK_NORM.format(c="text")}) AS fingerprint,
           min(doc_id) AS keeper, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-content fingerprint,
    keeping the lowest id (one uniform shuffle on the 128-bit hash)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .groupBy(doc_fingerprint(F.col("text")).alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_minhash_candidates",
    _DUCK_SHINGLE_CTE
    + """
""" + _DUCK_AFFINE_SIG16 + """, banded AS (
        SELECT doc_id, b.band,
               array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4),
                               '|') AS bucket
        FROM sig, (SELECT unnest(range(0, 4)) AS band) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands): near-dup candidate pairs. The md5-based
    min-wise family is engine-portable, so the DuckDB oracle verifies the
    full signature→band→bucket-join path."""
    from .operators.dedup import minhash_lsh_candidates

    t = load_testdata(spark, sf_dir)
    return minhash_lsh_candidates(
        t["documents"], text_col="text", id_col="doc_id", num_hashes=16, bands=4, k=3
    )


@register(
    "dedup_incremental_lsh",
    _DUCK_SHINGLE_CTE
    + """
""" + _DUCK_AFFINE_SIG16 + """, banded AS (
        SELECT doc_id, b.band,
               array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4),
                               '|') AS bucket,
               (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 10) = 0 AS is_new
        FROM sig, (SELECT unnest(range(0, 4)) AS band) b
    )
    SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
    FROM banded n JOIN banded i
      ON n.band = i.band AND n.bucket = i.bucket
     AND n.is_new AND NOT i.is_new
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a ~10% md5-bucket slice of documents plays the
    daily crawl increment, the remaining 90% the already-indexed corpus;
    candidates are NEW×INDEX only (operators/dedup.py:minhash_lsh_probe).
    The production contract this checks: the corpus side reduces to its
    banded (id, band, bucket) table — persistable once, probed forever —
    and the increment side broadcasts, so a new batch never shuffles the
    corpus. Signatures are per-doc deterministic, so the oracle computes
    one banding over all docs and splits at the join — identical
    semantics to the operator's two-sided form."""
    from .operators.dedup import minhash_lsh_probe

    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 10
    )
    return minhash_lsh_probe(
        docs.filter(bucket != 0),
        docs.filter(bucket == 0),
        text_col="text",
        id_col="doc_id",
        num_hashes=16,
        bands=4,
        k=3,
    )


# Portable md5 bucket: Spark conv(substring(md5,1,8),16,10) == DuckDB
# CAST('0x'||substr(md5,1,8) AS BIGINT); both lowercase-hex, mod 10000.
_DUCK_BUCKET = "(CAST('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 8) AS BIGINT) % 10000)"


@register(
    "sample_hash_deterministic",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_DUCK_BUCKET.format(k="doc_id")} < 1000
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic hash sample of documents — same rows every
    run and every engine (the oracle literally re-derives membership),
    and a pure pushable filter, unlike rand()-based sampling."""
    from .operators.sampling import hash_sample

    t = load_testdata(spark, sf_dir)
    return hash_sample(t["documents"], "doc_id", 0.10).select("doc_id", "lang")


@register(
    "sample_train_eval_split",
    f"""
    SELECT lang,
           CASE WHEN {_DUCK_BUCKET.format(k="doc_id")} < 1000
                THEN 'eval' ELSE 'train' END AS split,
           count(*) AS n_docs
    FROM documents GROUP BY lang, split
    """,
)
def sample_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-proof train/eval split: the label is a function of the doc
    key alone, so incremental loads and re-runs can never move a
    document across the boundary. Reported as per-(lang, split) counts."""
    from .operators.sampling import split_of

    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .withColumn("split", split_of(F.col("doc_id"), eval_fraction=0.10))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "sample_stratified_topk",
    """
    SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
    WHERE rk <= 5
    """,
)
def sample_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 docs per language by hash rank — the reproducible
    per-stratum carve-out (eval / human-review sets)."""
    from .operators.sampling import stratified_fixed_k

    t = load_testdata(spark, sf_dir)
    return stratified_fixed_k(t["documents"], "lang", "doc_id", 5).select(
        "lang", "doc_id"
    )


@register(
    "dedup_components",
    _DUCK_SHINGLE_CTE.replace("WITH d AS", "WITH RECURSIVE d AS", 1)
    + """
""" + _DUCK_AFFINE_SIG16 + """, banded AS (
        SELECT doc_id, b.band,
               array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4),
                               '|') AS bucket
        FROM sig, (SELECT unnest(range(0, 4)) AS band) b
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(node, label) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v
    )
    SELECT node, min(label) AS component FROM reach GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash/LSH candidate pairs collapsed into
    connected components (min-reachable-id label per doc). The oracle
    replays the same pair generation and closes it with a recursive
    transitive-closure CTE — exact cluster parity, not just pair
    parity."""
    from .operators.dedup import connected_components, minhash_lsh_candidates

    t = load_testdata(spark, sf_dir)
    pairs = minhash_lsh_candidates(
        t["documents"], text_col="text", id_col="doc_id", num_hashes=16, bands=4, k=3
    ).persist()
    return connected_components(pairs)


@register(
    "dedup_ngram_jaccard",
    _DUCK_SHINGLE_CTE
    + f"""
    , base AS (
        -- affine min-wise family (the one lsh_banded_table computes):
        -- one md5 per shingle, per-seed h_i = (a_i*x + b_i) mod 2^31-1
        SELECT doc_id,
               list_transform(shingles, s ->
                   CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                   % 2147483647) AS bases
        FROM sh
    ), sig AS (
        SELECT doc_id,
               list_transform(range(0, 32), i ->
                   list_min(list_transform(bases, x ->
                       ({_NGRAM_AFFINE_A}[i + 1] * x
                        + {_NGRAM_AFFINE_B}[i + 1]) % 2147483647))
               ) AS sig
        FROM base
    ), banded0 AS (
        SELECT doc_id, b.band,
               array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4),
                               '|') AS bucket
        FROM sig, (SELECT unnest(range(0, 8)) AS band) b
    ), banded AS (
        -- stop-bucket cap (mirrors max_bucket=1000 in the operator)
        SELECT doc_id, band, bucket FROM banded0
        QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), scored AS (
        SELECT p.id_a, p.id_b,
               len(list_intersect(a.shingles, b.shingles)) AS ni,
               len(a.shingles) AS na, len(b.shingles) AS nb
        FROM pairs p
        JOIN sh a ON a.doc_id = p.id_a
        JOIN sh b ON b.doc_id = p.id_b
    )
    SELECT id_a, id_b,
           round(ni * 1.0 / (na + nb - ni), 4) AS jaccard
    FROM scored
    WHERE ni * 1.0 / (na + nb - ni) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs >= 0.8, LSH-blocked: MinHash(32)
    banding (8 bands x 4 rows — the production operating point; miss
    ~1.5e-2 at J=0.8, false-positive candidates ~baseline-J⁴ so the
    intermediate stays linear even on corpora with percent-level
    baseline similarity; the recall-tuned r=2 banding measured 8.5x
    for 3x data on the Zipf corpus — see ngram_jaccard_pairs) through
    the max_bucket=1000 stop-bucket backstop, then exact
    distinct-shingle Jaccard verifies each candidate — the scale-safe
    composition (an exhaustive shingle self-join grows with the sum of
    squared shingle frequencies). The oracle replays the
    identical md5 banding INCLUDING the cap (QUALIFY), so parity is
    hash-exact."""
    from .operators.dedup import ngram_jaccard_pairs

    t = load_testdata(spark, sf_dir)
    return ngram_jaccard_pairs(
        t["documents"], text_col="text", id_col="doc_id", k=3, threshold=0.8
    )


_DUCK_EMB_CTE = """
    WITH e AS (
        SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        FROM embeddings
    ), n AS (
        SELECT vec_id, emb,
               sqrt(list_sum(list_transform(emb, v -> v * v))) AS nrm
        FROM e
    )
"""


@register(
    "dedup_embedding_pairs",
    _DUCK_EMB_CTE.replace(
        "FROM embeddings", "FROM embeddings WHERE vec_id < 2000"
    )
    + """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(list_zip(a.emb, b.emb),
                                         x -> x[1] * x[2]))
                 / (a.nrm * b.nrm), 4) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1] * x[2]))
          / (a.nrm * b.nrm) >= 0.4
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above 0.4 (testdata has no planted
    embedding dups; 0.4 exercises the operator with a non-empty result).

    Input bounded to vec_id < 2000 on BOTH sides (identical to sf0.1's
    full corpus; a no-op at sf <= 0.1): the engine operator blocks via
    LSH buckets and scales, but the DuckDB ORACLE is inherently
    all-pairs — at sf1 (20k vectors) that is ~200M list-lambda dot
    products, hours of oracle time for zero extra signal. The
    scale-path twin with an unbounded corpus is ann_cosine_* /
    dedup_minhash_candidates."""
    from .operators.dedup import embedding_near_dup

    t = load_testdata(spark, sf_dir)
    return embedding_near_dup(
        t["embeddings"].filter(F.col("vec_id") < 2000), threshold=0.4
    )


@register(
    "ann_cosine_topk",
    _DUCK_EMB_CTE
    + """
    , scored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               list_sum(list_transform(list_zip(q.emb, c.emb), x -> x[1] * x[2]))
               / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, round(cosine, 4) AS cosine_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
    WHERE rk <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search baseline: exact cosine top-10 for 5 query
    vectors, brute force (corpus stays partitioned; queries broadcast)."""
    from .operators.similarity import cosine_topk_bruteforce

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    out = cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine_r")
    )


@register(
    "text_lang_id_counts",
    """
    SELECT lang_pred, count(*) AS n FROM (
        SELECT CASE
            WHEN best = 0 THEN 'und'
            WHEN s_en = best THEN 'en'
            WHEN s_de = best THEN 'de'
            WHEN s_es = best THEN 'es'
            WHEN s_fr = best THEN 'fr'
            ELSE 'und' END AS lang_pred
        FROM (
            SELECT greatest(s_en, s_de, s_es, s_fr) AS best, *
            FROM (
                SELECT
                  len(list_filter(words, w -> w IN ('the','and','of','to','a',
                      'in','is','it','that','for'))) AS s_en,
                  len(list_filter(words, w -> w IN ('der','die','das','und',
                      'ist','nicht','ein','mit','auf','von'))) AS s_de,
                  len(list_filter(words, w -> w IN ('el','la','de','que','y',
                      'en','un','por','con','una'))) AS s_es,
                  len(list_filter(words, w -> w IN ('le','la','de','et','les',
                      'des','est','un','une','dans'))) AS s_fr
                FROM (SELECT regexp_split_to_array(lower(trim(text)), '\\s+')
                          AS words FROM documents))))
    GROUP BY lang_pred
    """,
)
def text_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword hits), rolled up. Priority order
    en > de > es > fr on ties, matching functions.text.lang_id."""
    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_quality_scores",
    """
    SELECT doc_id, round((len_score + punct_score + stop_score) / 3, 4) AS quality
    FROM (
        SELECT doc_id,
               least(1.0, n_words / 50.0) AS len_score,
               greatest(0.0, 1.0 - (punct * 1.0 / greatest(n_chars, 1)) * 4)
                   AS punct_score,
               least(1.0, stop_hits / greatest(n_words * 0.05, 1.0)) AS stop_score
        FROM (
            SELECT doc_id,
                   length(trim(text)) AS n_chars,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
                   length(regexp_replace(trim(text),
                       '[^!-/:-@\\[-`{-~]', '', 'g')) AS punct,
                   len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                       w -> lower(w) IN ('the','and','of','to','a','in','is',
                                         'it','that','for'))) AS stop_hits
            FROM documents))
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score (length/punctuation/stopword mix) —
    the cheap pretraining-corpus filter."""
    t = load_testdata(spark, sf_dir)
    return t["documents"].select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )


@register(
    "text_fingerprints",
    f"""
    SELECT doc_id, md5({_DUCK_NORM.format(c="text")}) AS fingerprint
    FROM documents
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized content."""
    t = load_testdata(spark, sf_dir)
    return t["documents"].select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )


@register(
    "r4_json_props_extract",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def r4_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-4-style semi-structured extraction: JSON props column → typed
    field via from_json (auto_translate.py:392-407's nested pull)."""
    t = load_testdata(spark, sf_dir)
    return t["events"].select(
        "event_id",
        F.from_json(F.col("props"), "struct<k:bigint>").getField("k").alias("k_value"),
    )


@register(
    "r16_stem_pairing",
    """
    SELECT l.stem, l.csv_file, r.jsonl_file FROM
        (SELECT DISTINCT source || '.csv' AS csv_file,
                source AS stem FROM documents) l
    JOIN
        (SELECT DISTINCT source || '.jsonl' AS jsonl_file,
                source AS stem FROM documents WHERE source <> 'src0') r
    USING (stem)
    """,
)
def r16_stem_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-16: pair files by basename stem; unmatched stems drop out
    (old_functionalities/batch_translator.py:172-180)."""
    from .operators.joins import pair_by_stem

    t = load_testdata(spark, sf_dir)
    left = t["documents"].select(
        F.concat_ws(".", "source", F.lit("csv")).alias("csv_file")
    ).distinct()
    right = (
        t["documents"]
        .filter(F.col("source") != "src0")
        .select(F.concat_ws(".", "source", F.lit("jsonl")).alias("jsonl_file"))
        .distinct()
    )
    return pair_by_stem(left, right, "csv_file", "jsonl_file").select(
        "stem", "csv_file", "jsonl_file"
    )


# =========================================================================
# Streaming semantics, batch-checked (SURVEY §2.11; the streaming plans in
# streaming/jobs.py are identical — Structured Streaming runs the same
# logical plan incrementally)
# =========================================================================


@register(
    "stream_tumbling_counts",
    """
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windowed counts — the engine's watermark agg
    (streaming/jobs.py:event_window_counts) on the batch path."""
    from .streaming import event_window_counts

    t = load_testdata(spark, sf_dir)
    return event_window_counts(t["events"], window="10 minutes").select(
        "window_start", "event_type", "n", "total_value"
    )


@register(
    "stream_view_attribution",
    """
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id, p.ts AS purchase_ts, v.ts AS view_ts,
           round(p.value, 2) AS purchase_value
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def stream_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/jobs.py:
    view_purchase_attribution) on the batch path: purchases attributed
    to same-user views in the preceding 30 minutes. The event-time
    bound that the oracle checks is the same condition that bounds the
    streaming state."""
    from .streaming import view_purchase_attribution

    ev = load_testdata(spark, sf_dir)["events"]
    return view_purchase_attribution(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon_minutes=30,
    )


@register(
    "stream_session_windows",
    """
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 5 MINUTE AS session_end,
           count(*) AS n_events
    FROM (
        SELECT user_id, ts,
               sum(CASE WHEN new_sess THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM (
            SELECT user_id, ts, event_id,
                   coalesce(ts - lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                            > INTERVAL 5 MINUTE, TRUE) AS new_sess
            FROM events))
    GROUP BY user_id, sess_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user (5-minute gap) — the
    session_window plan (streaming/jobs.py:event_session_windows),
    oracle-checked against the classic gaps-and-islands SQL."""
    from .streaming import event_session_windows

    t = load_testdata(spark, sf_dir)
    return event_session_windows(t["events"], gap="5 minutes").select(
        "user_id", "session_start", "session_end", "n_events"
    )


# =========================================================================
# §2.5 / §2.8 extension coverage: rollup, pivot, exact distinct, set ops
# =========================================================================


@register(
    "agg_rollup",
    """
    SELECT lang, source, count(*) AS n
    FROM documents GROUP BY ROLLUP(lang, source)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup — the built-in generalization of the
    reference's hand-accumulated multi-level summary (R-21)."""
    t = load_testdata(spark, sf_dir)
    return t["documents"].rollup("lang", "source").agg(F.count("*").alias("n"))


@register(
    "agg_pivot",
    """
    SELECT lang,
           count(*) FILTER (event_or_src = 'src0') AS src0,
           count(*) FILTER (event_or_src = 'src1') AS src1,
           count(*) FILTER (event_or_src = 'src2') AS src2
    FROM (SELECT lang, source AS event_or_src FROM documents)
    GROUP BY lang
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list → stable schema, no extra pass)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang")
        .pivot("source", ["src0", "src1", "src2"])
        .agg(F.count(F.lit(1)))
    )


@register(
    "agg_exact_distinct",
    """
    SELECT count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_types
    FROM events
    """,
)
def agg_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (the approx_count_distinct twin is
    rows-only checked — sketches aren't oracle-reproducible)."""
    t = load_testdata(spark, sf_dir)
    return t["events"].agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "setop_except_intersect",
    """
    SELECT 'only_events' AS side, user_id FROM
        (SELECT DISTINCT user_id FROM events
         EXCEPT SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'both' AS side, user_id FROM
        (SELECT DISTINCT user_id FROM events
         INTERSECT SELECT c_custkey FROM customer)
    """,
)
def setop_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 set operations: EXCEPT / INTERSECT / UNION ALL in one plan."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"].select(F.col("user_id")).distinct()
    cust = t["customer"].select(F.col("c_custkey").alias("user_id"))
    only = ev.exceptAll(cust.distinct()).select(
        F.lit("only_events").alias("side"), "user_id"
    )
    both = ev.intersect(cust).select(F.lit("both").alias("side"), "user_id")
    return only.unionAll(both)


# =========================================================================
# Rows-only checks (not oracle-expressible: engine-specific hashes /
# approximate sketches)
# =========================================================================


# Portable 60-bit SimHash oracle: per-bit majority vote over
# md5-derived word hashes, generated as 60 conditional sums + a
# power-of-two assembly — the same conv(md5) == CAST('0x'||md5)
# identity the MinHash oracle rides.
_SIMHASH_BIT_SUMS = ",\n               ".join(
    f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE 0 END) AS b{b}"
    for b in range(60)
)
_SIMHASH_ASSEMBLE = "\n             + ".join(
    f"(CASE WHEN b{b} * 2 > n THEN {1 << b} ELSE 0 END)" for b in range(60)
)


@register(
    "dedup_simhash_buckets",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS word FROM d
    ), h AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hv
        FROM w
    ), agg AS (
        SELECT doc_id, count(*) AS n,
               {_SIMHASH_BIT_SUMS}
        FROM h GROUP BY doc_id
    ), sim AS (
        SELECT doc_id,
               {_SIMHASH_ASSEMBLE} AS simhash
        FROM agg
    )
    SELECT (simhash >> 44) AS bucket, count(*) AS n
    FROM sim GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup buckets, ORACLE-CHECKED (round 6, was
    rows-only): the portable simhash_table draws its 60 bits from md5
    — engine-identical in Spark and DuckDB — so the full per-bit
    majority vote and bucketing is hash-verified, like the MinHash
    family. Uses the aggregation form (each shingle hashed once);
    the xxhash64 fast path stays the library default."""
    from .operators.dedup import simhash_table

    t = load_testdata(spark, sf_dir)
    sh = simhash_table(
        t["documents"], text_col="text", id_col="doc_id", portable=True
    )
    # Bucket by the top 16 bits: candidate groups for near-dup scan.
    return (
        sh.withColumn("bucket", F.shiftrightunsigned("simhash", 44))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("bucket", "n")
    )


@register(
    "agg_approx_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx distinct, promoted from rows-only to a BOUNDED-ERROR
    oracle (round-6 verdict #4): the sketch estimate itself is
    engine-specific, but its error CONTRACT is not — per group the
    query emits the exact distinct count (a genuine value check
    against DuckDB) plus `within_bound` = |HLL - exact| <= max(2,
    10% * exact), i.e. 2x the 5% rsd the sketch is configured for
    (the same bound the former pytest-only hook enforced). Spark's
    HLL++ is deterministic for a fixed dataset, so a bound violation
    is a hard hash-FAIL, not flake. Both counts ride ONE partial-
    aggregable pass; at 100 TB drop the exact column and keep the
    sketch — it is the mergeable one."""
    t = load_testdata(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("__hll"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__hll") - F.col("exact_users"))
                <= F.greatest(F.lit(2), F.col("exact_users") * 0.10)
            ).alias("within_bound"),
        )
    )


def _srp_planes_values(n_planes: int = 6, dim: int = 64) -> str:
    """The SRP hyperplanes as a DuckDB VALUES literal. The planes are
    a fixed LCG sequence (similarity.py:_deterministic_planes) — pure
    arithmetic with no engine state — so the oracle can inline the
    exact same doubles (repr() round-trips) and replay the bucketing
    bit-for-bit."""
    from .operators.similarity import _deterministic_planes

    rows = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in row)}])"
        for i, row in enumerate(_deterministic_planes(n_planes, dim))
    )
    return f"(VALUES {rows})"


@register(
    "ann_cosine_lsh",
    _DUCK_EMB_CTE
    + f"""
    , b AS (
        SELECT n.vec_id,
               CAST(sum(CASE WHEN list_sum(list_transform(
                                  list_zip(n.emb, p.pvec),
                                  x -> x[1] * CAST(x[2] AS DOUBLE))) >= 0
                             THEN (CAST(1 AS BIGINT) << p.i)
                             ELSE 0 END) AS BIGINT) AS bucket
        FROM n, {_srp_planes_values()} p(i, pvec)
        GROUP BY n.vec_id
    ), nb AS (
        SELECT n.vec_id, n.emb, n.nrm, b.bucket FROM n JOIN b USING (vec_id)
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               list_sum(list_transform(list_zip(q.emb, c.emb), x -> x[1] * x[2]))
               / (q.nrm * c.nrm) AS cosine
        FROM nb q JOIN nb c
          ON q.bucket = c.bucket AND q.vec_id < 5 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, round(cosine, 4) AS cosine_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
    WHERE rk <= 10
    """,
)
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k, promoted from rows-only to a FULL
    oracle (round-7 verdict #6): recall < 1 vs brute force is by
    design, but the computation itself is deterministic — the LCG
    hyperplanes are engine-independent constants, so the candidate
    set (same-bucket pairs) and the exact cosine of every emitted
    pair replay exactly in SQL with the planes inlined as literals.
    The recall-vs-brute hook (accuracy.py:check_ann_lsh) stays as the
    quality contract; this oracle pins the VALUES.

    KNOWN ASSUMPTION (cross-engine float exactness): each bucket bit
    is sign(dot(v, plane)) — a float comparison evaluated
    independently by Spark's F.aggregate (strict sequential sum) and
    DuckDB's list_sum. Both engines sum left-to-right in double
    precision today, but this is NOT a guaranteed contract: a
    summation-order or FMA difference on a near-zero projection flips
    a bit and changes the candidate SET — a hard hash-red, unlike the
    round(...,4) tolerance protecting the value columns. If this
    oracle ever goes red with identical row counts, check the
    min_abs_projection margin that check_ann_lsh reports before
    hunting a logic bug: a margin near float epsilon means sign-flip,
    not regression."""
    from .operators.similarity import cosine_topk_lsh

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    return cosine_topk_lsh(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_planes=6
    ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine_r"))


@register(
    "f14_job_id_extract",
    """
    SELECT event_id,
           regexp_extract('Job submitted successfully. Job ID: batch_'
                          || cast(event_id as varchar) || 'abc. Polling...',
                          'Job ID: (batch_[a-zA-Z0-9]+)', 1) AS job_id
    FROM events WHERE event_id < 100
    """,
)
def f14_job_id_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-14: scrape the job id out of orchestrator stdout
    (batch_auto_translate.py:136-140) — regexp_extract group 1."""
    t = load_testdata(spark, sf_dir)
    line = F.concat(
        F.lit("Job submitted successfully. Job ID: batch_"),
        F.col("event_id").cast("string"),
        F.lit("abc. Polling..."),
    )
    return (
        t["events"]
        .filter(F.col("event_id") < 100)
        .select(
            "event_id",
            F.regexp_extract(line, r"Job ID: (batch_[a-zA-Z0-9]+)", 1).alias("job_id"),
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-agg — the pushdown/pruning
    benchmark (4 columns read, 4 predicates, no shuffle beyond the
    single-row final agg). The date range is pushed in the raw nanos
    domain so ALL four predicates land in PushedFilters."""
    li = scan_ts_pruned(
        spark,
        sf_dir,
        "lineitem",
        [("l_shipdate", ">=", "1997-01-01"), ("l_shipdate", "<", "1998-01-01")],
    )
    return li.filter(
        (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@register(
    "asof_purchase_last_view",
    """
    WITH v AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'view'),
         p AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
         m AS (
            SELECT p.event_id AS purchase_id, p.user_id AS user_id,
                   v.event_id AS view_id,
                   row_number() OVER (PARTITION BY p.event_id
                                      ORDER BY v.ts DESC, v.event_id DESC)
                       AS rk
            FROM p LEFT JOIN v
              ON v.user_id = p.user_id AND v.ts <= p.ts)
    SELECT purchase_id, user_id, view_id FROM m WHERE rk = 1
    """,
)
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: every purchase matched to the user's most recent
    prior view (NULL when none) — the point-in-time feature-store
    lookup. Spark has no built-in as-of join; the operator is the
    union + keyed-window carry-forward formulation (one shuffle on
    user_id; the oracle is the quadratic LEFT JOIN + row_number
    replica)."""
    from .operators.joins import asof_join

    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    return asof_join(
        purchases, views, key="user_id", ts_col="ts", right_cols=("event_id",)
    ).select(
        "purchase_id", "user_id", F.col("asof_event_id").alias("view_id")
    )


@register(
    "range_join_error_windows",
    """
    SELECT c.event_id AS click_id, e.event_id AS error_id,
           c.user_id AS user_id
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 2 HOUR
    """,
)
def range_join_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join: clicks inside a 2-hour incident
    window opened by each error of the same user. The operator bins
    both sides to fixed time buckets and joins on (key, bin) equality
    — cost |matches|, not |clicks|×|errors| (the oracle is the plain
    inequality join)."""
    from .operators.joins import range_join_binned

    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
        F.col("event_id").alias("error_id"),
    )
    return range_join_binned(
        clicks, errors, key="user_id", ts_col="ts",
        start_col="start", end_col="end", bin_secs=3600,
    ).select("click_id", "error_id", "user_id")


@register(
    "events_ts_range_pruned",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(avg(value), 3) AS avg_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY event_type
    """,
)
def events_ts_range_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range scan over the NANOS-timestamp events table with the
    predicate applied in the raw INT64 nanos domain (scan_ts_pruned).
    A filter on the rebuilt timestamp column cannot push past the
    rebuild projection; the raw-domain twin reaches the reader as a
    PushedFilter and prunes row groups by min-max stats — the
    hypertable time-slice pattern at 100 TB."""
    ev = scan_ts_pruned(
        spark,
        sf_dir,
        "events",
        [("ts", ">=", "2024-01-10"), ("ts", "<", "2024-01-20")],
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 3).alias("avg_value"),
    )


# =========================================================================
# §3.2 analyze-mode error taxonomy (the 7-bucket classifier,
# auto_translate.py:1165-1181, over the deterministic mock responses)
# =========================================================================


@register(
    "analyze_error_taxonomy",
    _PIPELINE_SQL_BASE.replace("), ranked AS", """), taxonomy AS (
        SELECT batch_id,
               CASE
                 WHEN fmt_idx = 0 THEN 'parsed_clean'
                 WHEN fmt_idx = 2 AND n_rows >= 2 THEN 'repaired'
                 ELSE 'parsed_flagged'
               END AS error_type
        FROM fmt
    ), ranked AS""")
    + """
    SELECT error_type, count(*) AS n_batches
    FROM taxonomy GROUP BY error_type
    """,
)
def analyze_error_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyze-mode classification over mock responses: parse the raw
    content, flag truncation (reference quirk intact: anything whose
    last line doesn't end }/"/, is 'flagged'), repair what parse can't
    handle. Buckets: parsed_clean / parsed_flagged / repaired /
    unparseable."""
    from .functions.parsing import parse_translations
    from .functions.predicates import is_truncated
    from .functions.repair import repair_json_udf
    from .operators.packing import (
        assign_batches_cumsum,
        materialize_requests,
        with_cost,
    )
    from .translate import translate_requests

    t = load_testdata(spark, sf_dir)
    docs = (
        t["documents"]
        .select(
            F.col("doc_id").cast("string").alias("description_id"),
            F.trim("text").alias("english_sentence"),
            F.col("lang").alias("shard"),
            F.col("doc_id").alias("seq"),
        )
        .filter(F.length("english_sentence") > 0)
    )
    todo = docs.filter(F.col("seq") % 7 != 0)
    assigned = assign_batches_cumsum(
        with_cost(todo, "english_sentence"), order_col="seq", limit=4000,
        shard_col="shard",
    )
    responses = translate_requests(materialize_requests(assigned))
    staged = responses.select(
        F.col("custom_id").alias("batch_id"),
        F.col("content"),
        F.size(parse_translations(F.col("content"))).alias("n_parsed"),
        is_truncated(F.col("content")).alias("truncated"),
        F.when(
            is_truncated(F.col("content")), repair_json_udf(F.col("content"))
        ).alias("repaired_content"),
    )
    classified = staged.select(
        "batch_id",
        F.when((F.col("n_parsed") > 0) & ~F.col("truncated"), "parsed_clean")
        .when((F.col("n_parsed") > 0) & F.col("truncated"), "parsed_flagged")
        .otherwise("needs_repair")
        .alias("stage1"),
        "repaired_content",
    )
    second = classified.select(
        "batch_id",
        F.when(F.col("stage1") != "needs_repair", F.col("stage1"))
        .when(
            F.size(parse_translations(F.col("repaired_content"))) > 0, "repaired"
        )
        .otherwise("unparseable")
        .alias("error_type"),
    )
    return second.groupBy("error_type").agg(F.count("*").alias("n_batches"))


@register(
    "analyze_full_taxonomy",
    _PIPELINE_SQL_BASE
    + """
    SELECT error_type, count(*) AS n_batches FROM (
        SELECT f.batch_id,
               CASE
                 WHEN ascii(substr(md5(f.batch_id), 1, 1)) % 8 = 0
                     THEN 'status_code_error'
                 WHEN ascii(substr(md5(f.batch_id), 1, 1)) % 8 = 1
                     THEN 'empty_response'
                 WHEN ascii(substr(md5(f.batch_id), 1, 1)) % 8 = 2
                     THEN 'response_format_error'
                 WHEN f.fmt_idx = 0 THEN 'successful'
                 WHEN f.fmt_idx = 2 AND f.n_rows >= 2 THEN 'repaired'
                 ELSE 'flagged_for_review'
               END AS error_type
        FROM fmt f)
    GROUP BY error_type
    """,
)
def analyze_full_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full analyze-mode bucket set
    (``auto_translate.py:1165-1181``): transport faults
    (status_code_errors / empty_responses / response_format_errors) on
    top of the parse-level buckets. Faults are injected
    deterministically by a portable md5 selector so the DuckDB oracle
    reproduces them; classification itself runs on RUNTIME evidence
    (status code, content shape, parse/repair results), not on the
    selector."""
    from .functions.parsing import parse_translations
    from .functions.predicates import is_truncated
    from .functions.repair import repair_json_udf
    from .operators.packing import (
        assign_batches_cumsum,
        materialize_requests,
        with_cost,
    )
    from .translate import translate_requests

    t = load_testdata(spark, sf_dir)
    docs = (
        t["documents"]
        .select(
            F.col("doc_id").cast("string").alias("description_id"),
            F.trim("text").alias("english_sentence"),
            F.col("lang").alias("shard"),
            F.col("doc_id").alias("seq"),
        )
        .filter(F.length("english_sentence") > 0)
    )
    todo = docs.filter(F.col("seq") % 7 != 0)
    assigned = assign_batches_cumsum(
        with_cost(todo, "english_sentence"), order_col="seq", limit=4000,
        shard_col="shard",
    )
    responses = translate_requests(materialize_requests(assigned))
    sel = (
        F.ascii(F.substring(F.md5(F.col("custom_id").cast("binary")), 1, 1)) % 8
    )
    faulty = responses.select(
        F.col("custom_id").alias("batch_id"),
        F.when(sel == 0, F.lit(500)).otherwise(F.lit(200)).alias("status_code"),
        F.when(sel == 0, F.lit(None).cast("string"))
        .when(sel == 1, F.lit(""))
        .when(sel == 2, F.lit("<html>502 Bad Gateway</html>"))
        .otherwise(F.col("content"))
        .alias("content"),
    )
    staged = faulty.select(
        "batch_id",
        "status_code",
        "content",
        F.size(parse_translations(F.col("content"))).alias("n_parsed"),
        is_truncated(F.col("content")).alias("truncated"),
        F.size(
            parse_translations(
                F.coalesce(repair_json_udf(F.col("content")), F.col("content"))
            )
        ).alias("n_repaired"),
    )
    classified = staged.select(
        "batch_id",
        F.when(F.col("status_code") != 200, "status_code_error")
        .when(F.trim(F.coalesce(F.col("content"), F.lit(""))) == "", "empty_response")
        .when(
            F.col("n_parsed") > 0,
            F.when(F.col("truncated"), "flagged_for_review").otherwise(
                "successful"
            ),
        )
        .when(F.col("n_repaired") > 0, "repaired")
        .otherwise("response_format_error")
        .alias("error_type"),
    )
    return classified.groupBy("error_type").agg(F.count("*").alias("n_batches"))


# =========================================================================
# More classic join/agg shapes (TPC-H adapted to the testdata schema)
# =========================================================================


@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS → left-semi join, then a small group-by."""
    t = load_testdata(spark, sf_dir)
    o, li = t["orders"].alias("o"), t["lineitem"].alias("l")
    shipped_late = o.join(
        li,
        (F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        & (F.col("l.l_shipdate") > F.col("o.o_orderdate")),
        "left_semi",
    )
    return shipped_late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@register(
    "tpch_q10_returned_revenue",
    """
    SELECT c_custkey, c_name, round(revenue, 2) AS revenue_r FROM (
        SELECT c.c_custkey, c.c_name,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name)
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-item revenue per customer, top 20 — broadcast
    dims, one fact shuffle for the agg, TakeOrdered for the k rows."""
    t = load_testdata(spark, sf_dir)
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", F.round("revenue", 2).alias("revenue_r"))
    )


@register(
    "tpch_q12_priority_lines",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def tpch_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional aggregation over a fact-dim join."""
    t = load_testdata(spark, sf_dir)
    o = t["orders"]
    li = scan_ts_pruned(
        spark, sf_dir, "lineitem", [("l_shipdate", ">=", "1997-01-01")]
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
    )


@register(
    "tpch_q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share — conditional sum ratio."""
    t = load_testdata(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "tpch_q18_large_orders",
    """
    SELECT o_orderkey, round(total_qty, 2) AS total_qty_r FROM (
        SELECT l_orderkey AS o_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 100)
    ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: group-having over the fact, top-k of the survivors."""
    t = load_testdata(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 100)
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
        .select("o_orderkey", F.round("total_qty", 2).alias("total_qty_r"))
    )


@register(
    "tpch_q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, ship_year,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               year(l.l_shipdate) AS ship_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        WHERE ns.n_name IN ('NATION_1', 'NATION_2')
          AND nc.n_name IN ('NATION_1', 'NATION_2')
          AND ns.n_name <> nc.n_name)
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bi-national trade volume — the fact joins four
    broadcast dims (nation appears TWICE under different roles); only
    the final (nation, nation, year) aggregation shuffles."""
    t = load_testdata(spark, sf_dir)
    nations = F.col("n_name").isin("NATION_1", "NATION_2")
    ns = t["nation"].filter(nations).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = t["nation"].filter(nations).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    li, o = t["lineitem"], t["orders"]
    s, c = t["supplier"], t["customer"]
    return (
        li.join(F.broadcast(o.select("o_orderkey", "o_custkey")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q13_order_distribution",
    """
    SELECT c_count, count(*) AS custdist FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: outer join preserved through a double aggregation —
    customers with zero orders must survive to the c_count=0 bucket.
    count(o_orderkey) over the left join (nulls don't count) is the
    outer-join-aware count."""
    t = load_testdata(spark, sf_dir)
    c, o = t["customer"], t["orders"]
    per_cust = (
        c.select("c_custkey")
        .join(o.select("o_custkey", "o_orderkey"),
              c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q17_small_quantity",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
        SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold
        FROM lineitem GROUP BY l_partkey
    ) t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND p.p_size < 15
      AND l.l_quantity < t.qty_threshold
    """,
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated scalar subquery (per-part avg quantity)
    decorrelated into a self-agg join — the fact is read twice but the
    per-part aggregate is tiny and broadcasts. (p_container isn't in
    this testdata; p_brand+p_size stand in as the selective part
    filter.)"""
    t = load_testdata(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    thresholds = (
        li.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    parts = p.filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15))
    return (
        li.join(F.broadcast(parts.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(thresholds), li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive (OR-of-ANDs) join predicate. Catalyst
    extracts the common join key as an equi-join and keeps the
    disjunction as a post-join filter, while the single-table parts of
    the OR (brand/size on part, quantity on lineitem) are inferred and
    pushed to both scans. (p_container isn't in this testdata;
    brand+size+quantity bands keep the shape.)"""
    t = load_testdata(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 40)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(band).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@register(
    "tpch_q21_waiting_suppliers",
    """
    SELECT s_name, count(*) AS numwait FROM (
        SELECT s.s_name, l1.l_orderkey
        FROM supplier s
        JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s.s_name, l1.l_orderkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: the sole late supplier on a multi-supplier order.
    (No l_receiptdate/l_commitdate in this testdata; 'late' is shipping
    >60 days after the order date.)

    The EXISTS/NOT-EXISTS self-joins collapse into ONE per-order
    aggregate — 'another supplier exists' ⇔ the order has ≥2 distinct
    suppliers, 'no other late supplier' ⇔ the order's distinct late
    suppliers are exactly {me}. One shuffle on l_orderkey replaces two
    fact self-joins; at 100 TB that's the difference between one pass
    and three."""
    t = load_testdata(spark, sf_dir)
    s, o = t["supplier"], t["orders"]
    li = t["lineitem"]
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    lines = li.join(
        F.broadcast(
            o.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            )
        ),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > late_cut).alias("is_late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.count_distinct(F.col("l_suppkey")).alias("n_supp"),
        F.count_distinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    l1 = (
        lines.filter(F.col("is_late"))
        .select("l_orderkey", "l_suppkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )
    sole_late = l1.join(per_order, "l_orderkey").filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "tpch_q22_global_sales_opportunity",
    """
    SELECT c_nationkey, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_nationkey IN (1, 3, 5, 7)
      AND c.c_acctbal > (
          SELECT avg(c_acctbal) FROM customer
          WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7))
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c_nationkey
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar subquery (global avg) as a cross-joined
    1-row broadcast + NOT EXISTS anti-join against orders. (No c_phone
    in this testdata, and every customer has at least one order, so
    c_nationkey stands in for the country-code prefix and the anti
    side is the high-value orders.)"""
    t = load_testdata(spark, sf_dir)
    c, o = t["customer"], t["orders"]
    target = c.filter(F.col("c_nationkey").isin(1, 3, 5, 7))
    avg_bal = target.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        target.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o.filter(F.col("o_totalprice") > 300000).select("o_custkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --- Derived partsupp -------------------------------------------------
# The generated testdata has no partsupp file, so BOTH engines derive
# the SAME table in-plan from part x supplier: the TPC-H supplier-
# assignment formula (0-based keys: suppkey = (partkey + j*(S/4 +
# partkey/S)) mod S for j in 0..3; spec 2.18.3 modulo the 1-based
# shift) plus md5-derived availqty/supplycost, portable via the same
# conv(md5) == CAST('0x'||md5) identity as _DUCK_BUCKET. DISTINCT
# because tiny supplier counts (sf0.001: S=10) can collide the
# formula's j-offsets; dedup is identical on both sides. This closes
# TPC-H q2/q11/q16/q20 — previously "inexpressible" in COVERAGE.md.


def _ps_bucket(prefix: str, mod: int) -> Column:
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix),
                        F.col("ps_partkey").cast("string"),
                        F.lit(":"),
                        F.col("ps_suppkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % mod
    )


def _partsupp(t: dict) -> DataFrame:
    """Derived partsupp: (ps_partkey, ps_suppkey, ps_availqty,
    ps_supplycost). ps_supplycost carries exactly 2 decimals (integer
    cents / 100.0), so cents arithmetic over it is exact — q11 relies
    on that for engine-exact threshold comparison."""
    scnt = t["supplier"].agg(F.count(F.lit(1)).alias("__S"))
    base = (
        t["part"]
        .select(F.col("p_partkey").alias("ps_partkey"))
        .crossJoin(F.broadcast(scnt))
        .select(
            "ps_partkey",
            F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("__j"),
            "__S",
        )
        .select(
            "ps_partkey",
            (
                (
                    F.col("ps_partkey")
                    + F.col("__j")
                    * (
                        F.floor(F.col("__S") / 4)
                        + F.floor(F.col("ps_partkey") / F.col("__S"))
                    )
                )
                % F.col("__S")
            )
            .cast("long")
            .alias("ps_suppkey"),
        )
        .distinct()
    )
    return base.select(
        "ps_partkey",
        "ps_suppkey",
        (_ps_bucket("aq:", 9999) + 1).cast("long").alias("ps_availqty"),
        ((_ps_bucket("sc:", 99900) + 100) / 100.0).alias("ps_supplycost"),
    )


_DUCK_MD5_PS = (
    "CAST('0x' || substr(md5('{p}' || CAST(ps_partkey AS VARCHAR) || ':' "
    "|| CAST(ps_suppkey AS VARCHAR)), 1, 8) AS BIGINT)"
)
_DUCK_PARTSUPP = f"""
    WITH partsupp AS (
        SELECT ps_partkey, ps_suppkey,
               ({_DUCK_MD5_PS.format(p="aq:")} % 9999) + 1 AS ps_availqty,
               (({_DUCK_MD5_PS.format(p="sc:")} % 99900) + 100) / 100.0
                   AS ps_supplycost
        FROM (
            SELECT DISTINCT p.p_partkey AS ps_partkey,
                   (p.p_partkey + j.j * (s.S // 4 + p.p_partkey // s.S))
                       % s.S AS ps_suppkey
            FROM part p,
                 (SELECT count(*) AS S FROM supplier) s,
                 (SELECT unnest(range(0, 4)) AS j) j
        )
    )
"""


@register(
    "tpch_q2_min_cost_supplier",
    _DUCK_PARTSUPP
    + """
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
           ps.ps_supplycost
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size <= 10 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
      AND ps.ps_supplycost = (
          SELECT min(ps2.ps_supplycost)
          FROM partsupp ps2
          JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
          JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
          JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
          WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated min-cost subquery decorrelated into a
    per-part min over the region-filtered partsupp, joined back on
    (partkey, exact min cost) — dims all broadcast; the only wide table
    is the derived partsupp itself. (p_mfgr isn't in this testdata;
    p_brand stands in. The min-cost equality is exact: both engines
    compute identical doubles from identical integer cents.)"""
    t = load_testdata(spark, sf_dir)
    ps = _partsupp(t)
    s, n, r, p = t["supplier"], t["nation"], t["region"], t["part"]
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    eu_ps = ps.join(
        F.broadcast(eu_supp.select("s_suppkey", "s_name", "s_acctbal", "n_name")),
        ps.ps_suppkey == F.col("s_suppkey"),
    )
    min_cost = eu_ps.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    parts = p.filter((F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD"))
    return (
        eu_ps.join(F.broadcast(parts.select("p_partkey", "p_brand")),
                   eu_ps.ps_partkey == F.col("p_partkey"))
        .join(
            F.broadcast(min_cost),
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
                "ps_supplycost")
    )


@register(
    "tpch_q11_important_stock",
    _DUCK_PARTSUPP
    + """
    , natps AS (
        SELECT ps.ps_partkey,
               CAST(round(ps.ps_supplycost * 100, 0) AS BIGINT)
                   * ps.ps_availqty AS cents
        FROM partsupp ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_3'
    )
    SELECT ps_partkey, round(sum(cents) / 100.0, 2) AS stock_value
    FROM natps
    GROUP BY ps_partkey
    HAVING sum(cents) * (SELECT count(DISTINCT ps_partkey) FROM natps) * 10
           > 12 * (SELECT sum(cents) FROM natps)
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: grouped stock value vs a scalar fraction of the
    national total — the total rides as a broadcast 1-row cross join.
    The fraction is SCALE-INVARIANT (parts above 1.2x the national
    mean; TPC-H's own fraction is 0.0001/SF for the same reason — a
    fixed fraction returns 0 rows once part count outgrows it). All
    arithmetic runs in integer CENTS (ps_supplycost carries exactly 2
    decimals), so the HAVING threshold is an exact integer comparison
    on both engines — no float-sum order drift at any SF."""
    t = load_testdata(spark, sf_dir)
    ps = _partsupp(t)
    s, n = t["supplier"], t["nation"]
    nat_supp = s.join(
        F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    cents = (
        F.round(F.col("ps_supplycost") * 100, 0).cast("long")
        * F.col("ps_availqty")
    )
    natps = ps.join(F.broadcast(nat_supp), ps.ps_suppkey == F.col("s_suppkey")) \
        .select("ps_partkey", cents.alias("cents"))
    total = natps.agg(
        F.sum("cents").alias("total_cents"),
        F.count_distinct("ps_partkey").alias("n_parts"),
    )
    return (
        natps.groupBy("ps_partkey")
        .agg(F.sum("cents").alias("sum_cents"))
        .crossJoin(F.broadcast(total))
        .filter(
            F.col("sum_cents") * F.col("n_parts") * 10
            > 12 * F.col("total_cents")
        )
        .select(
            "ps_partkey",
            F.round(F.col("sum_cents") / 100.0, 2).alias("stock_value"),
        )
    )


@register(
    "tpch_q16_supplier_relationship",
    _DUCK_PARTSUPP
    + """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND ps.ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: count-distinct suppliers per (brand, type, size)
    with a NOT IN supplier exclusion — expressed as a broadcast
    anti-join (the excluded set is tiny) above a broadcast part-filter
    join. (No s_comment in this testdata: negative-balance suppliers
    stand in for the complaints exclusion.)"""
    t = load_testdata(spark, sf_dir)
    ps = _partsupp(t)
    p, s = t["part"], t["supplier"]
    parts = p.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excluded = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(parts), ps.ps_partkey == F.col("p_partkey"))
        .join(F.broadcast(excluded), ps.ps_suppkey == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20_excess_stock",
    _DUCK_PARTSUPP
    + """
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_5', 'NATION_6', 'NATION_7', 'NATION_8')
      AND s.s_suppkey IN (
          SELECT ps.ps_suppkey
          FROM partsupp ps
          JOIN (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
              FROM lineitem
              WHERE l_shipdate >= DATE '1996-01-01'
                AND l_shipdate < DATE '1997-01-01'
              GROUP BY l_partkey, l_suppkey
          ) lq ON lq.l_partkey = ps.ps_partkey
              AND lq.l_suppkey = ps.ps_suppkey
          WHERE ps.ps_partkey IN (
                    SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            AND 2 * ps.ps_availqty > CAST(lq.qty AS BIGINT))
    """,
)
def tpch_q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers of 'red%' parts holding more than half a
    year's shipped quantity in stock. The correlated availqty subquery
    is decorrelated into a per-(part, supplier) lineitem aggregate
    joined to partsupp (inner join == the NULL-excluding correlated
    semantics), and the excess test is the exact integer form
    2*availqty > qty (l_quantity is integer-valued), so no 0.5* float
    boundary. Supplier membership is a left-semi join."""
    t = load_testdata(spark, sf_dir)
    ps = _partsupp(t)
    s, n, p, li = t["supplier"], t["nation"], t["part"], t["lineitem"]
    red_parts = p.filter(F.col("p_name").like("red%")).select("p_partkey")
    year_qty = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
    )
    excess = (
        ps.join(F.broadcast(red_parts), ps.ps_partkey == F.col("p_partkey"))
        .join(
            year_qty,
            (ps.ps_partkey == year_qty.l_partkey)
            & (ps.ps_suppkey == year_qty.l_suppkey),
        )
        .filter(2 * F.col("ps_availqty") > F.col("qty"))
        .select("ps_suppkey")
    )
    return (
        s.join(
            F.broadcast(n.filter(F.col("n_name").isin(
                "NATION_5", "NATION_6", "NATION_7", "NATION_8"))),
            s.s_nationkey == F.col("n_nationkey"),
        )
        .join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .select("s_name", "n_name")
    )


@register(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_9' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
        SELECT year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: national market share — the widest dim star in TPC-H
    (part, supplier, orders, customer, nation x2 roles, region all hang
    off the fact). Every dim broadcasts, so the fact is scanned once
    with zero pre-aggregation shuffles; the conditional-sum ratio needs
    only the final groupBy(o_year). The customer-side nation is
    filtered through region BEFORE the join (semi-join via inner join
    on a pre-filtered broadcast), while the supplier-side nation is
    kept whole because its name feeds the CASE."""
    t = load_testdata(spark, sf_dir)
    li, p, s = t["lineitem"], t["part"], t["supplier"]
    o, c = t["orders"], t["customer"]
    # customer-side nations restricted to the target region (dim-side
    # reduction: region filter applied before anything touches the fact)
    cust_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    supp_nations = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(
            F.broadcast(p.filter(F.col("p_type") == "PROMO").select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(o.select("o_orderkey", "o_custkey", "o_orderdate")),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(supp_nations), F.col("s_nationkey") == F.col("s_nkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_9", volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
    )


@register(
    "profile_price_histogram",
    """
    SELECT least(21, greatest(0,
               CAST(floor(l_extendedprice / 100000.0 * 20) AS BIGINT) + 1
           )) AS bucket,
           count(*) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM lineitem GROUP BY bucket
    """,
)
def profile_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (width_bucket semantics over [0, 100000)
    in 20 buckets, clamped overflow bucket 21) — the single-pass
    profiling shape: bucket assignment is a pure projection, one
    shuffle on the 22 bucket ids. Spelled as identical floor/clamp
    arithmetic on both sides because DuckDB has no width_bucket."""
    t = load_testdata(spark, sf_dir)
    bucket = F.least(
        F.lit(21),
        F.greatest(
            F.lit(0),
            (F.floor(F.col("l_extendedprice") / 100000.0 * 20) + 1).cast("bigint"),
        ),
    )
    return (
        t["lineitem"]
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


@register(
    "profile_correlations",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_cov,
           round(stddev_samp(l_discount), 6) AS discount_sd
    FROM lineitem GROUP BY l_returnflag
    """,
)
def profile_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev aggregates per group — all
    single-pass streaming aggregates (Welford-style partials combine
    map-side like any sum)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "qty_price_cov"
            ),
            F.round(F.stddev_samp("l_discount"), 6).alias("discount_sd"),
        )
    )


@register(
    "dq_lineitem_report",
    """
    SELECT 'null_shipdate' AS rule,
           CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'quantity_range',
           CAST(sum(CASE WHEN l_quantity < 0 OR l_quantity > 60
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'discount_domain',
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'unique_line_key', CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (
        SELECT count(*) AS c FROM lineitem
        GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
    UNION ALL
    SELECT 'orderkey_in_orders', CAST(count(*) AS BIGINT) FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    """,
)
def dq_lineitem_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over the fact table: null/range/domain rules in
    ONE aggregate pass, key uniqueness via groupBy, referential
    integrity via anti-join (operators/quality.py). The unique_line_key
    rule is deliberately non-vacuous: (l_orderkey, l_linenumber) has
    real duplicates in this testdata."""
    from .operators.quality import dq_report

    t = load_testdata(spark, sf_dir)
    li = t["lineitem"]
    return dq_report(
        li,
        row_rules={
            "null_shipdate": F.col("l_shipdate").isNull(),
            "quantity_range": (F.col("l_quantity") < 0) | (F.col("l_quantity") > 60),
            "discount_domain": (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        },
        unique_keys={"unique_line_key": ["l_orderkey", "l_linenumber"]},
        refs={"orderkey_in_orders": ("l_orderkey", t["orders"], "o_orderkey")},
    )


@register(
    "tpch_q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount)
                 - 0.5 * p.p_retailprice * l.l_quantity
                 AS DECIMAL(18, 6)) AS amount
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%gear%')
    GROUP BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-type profit by nation and year — substring
    part filter, four broadcast dims, profit expression across fact and
    dim columns, (nation, year) rollup. (This testdata has no partsupp;
    0.5 × p_retailprice stands in for ps_supplycost, which keeps the
    plan shape — the supplycost term just joins through part instead of
    partsupp.)"""
    t = load_testdata(spark, sf_dir)
    li, o, s = t["lineitem"], t["orders"], t["supplier"]
    parts = t["part"].filter(F.col("p_name").like("%gear%"))
    nations = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    # Decimal aggregation: a double sum's value depends on accumulation
    # order, so round(sum(double), 2) can straddle a .005 boundary
    # differently per engine/partitioning. Casting the addend to
    # decimal makes the sum exact and order-independent.
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li.join(
            F.broadcast(parts.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(o.select("o_orderkey", "o_orderdate")),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


@register(
    "tpch_q15_top_supplier",
    """
    -- MATERIALIZED is load-bearing: the CTE is referenced twice (join
    -- side + scalar max) and DuckDB's parallel float aggregation is
    -- order-nondeterministic PER EVALUATION — at sf3 the two
    -- evaluations disagreed in the last ulps and the equality matched
    -- nothing. One materialization = one set of floats, the same
    -- consistency the Spark side gets from persist().
    WITH revenue AS MATERIALIZED (
        SELECT l_suppkey AS supplier_no,
               sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 2) AS total_revenue_r
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: top supplier by quarterly revenue. The spec's view
    is referenced twice (once under max()); re-aggregating the fact
    would scan lineitem twice, so the per-supplier aggregate is
    computed once, its 1-row max is broadcast back onto it (the q22
    scalar-subquery pattern), and only the winners join supplier. The
    ship-date range predicate pushes to the parquet scan
    (TIMESTAMP(MILLIS) pushes natively, see SCALE.md)."""
    s = load_testdata(spark, sf_dir)["supplier"]
    li = scan_ts_pruned(
        spark,
        sf_dir,
        "lineitem",
        [("l_shipdate", ">=", "1996-01-01"), ("l_shipdate", "<", "1996-04-01")],
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    revenue = revenue.persist()
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    best = (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .drop("max_revenue")
    )
    return (
        F.broadcast(best)
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 2).alias("total_revenue_r"),
        )
    )


@register(
    "sorted_lang_source_profile",
    """
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 3) AS avg_chars
    FROM documents GROUP BY lang, source
    ORDER BY avg_chars DESC, lang, source
    """,
)
def sorted_lang_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-sorted output (no LIMIT): the one plan shape top-k can't
    exercise — a global sort compiles to sampled RangePartitioning + an
    in-partition sort, so the result is totally ordered across
    partitions without any single-node bottleneck."""
    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 3).alias("avg_chars"),
        )
        .orderBy(F.col("avg_chars").desc(), "lang", "source")
    )


@register(
    "profile_quantiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS q25,
           round(quantile_cont(l_quantity, 0.50), 4) AS q50,
           round(quantile_cont(l_quantity, 0.75), 4) AS q75,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS price_median
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def profile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`). The exact form needs a per-group sort; at
    100 TB swap in `approx_percentile` (t-digest sketch, map-side
    mergeable, no sort) — kept exact here so the oracle can hash-match
    values."""
    t = load_testdata(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25"),
            F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("q50"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("q75"),
            F.round(F.expr("percentile(l_extendedprice, 0.50)"), 4).alias(
                "price_median"
            ),
        )
    )


@register(
    "rolling_revenue_7d",
    """
    WITH daily AS (
        SELECT CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
                              l_shipdate) AS INT) AS day_no,
               sum(l_extendedprice * (1 - l_discount)) AS day_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY 1)
    SELECT day_no,
           round(sum(day_rev) OVER (ORDER BY day_no
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
               AS rev_7d
    FROM daily
    """,
)
def rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue via a RANGE window frame over the day
    number — RANGE (value-based), not ROWS, so missing calendar days
    still bound the frame correctly. Daily pre-aggregation first: the
    window then slides over ~90 rows, not 600k."""
    li = scan_ts_pruned(
        spark, sf_dir, "lineitem",
        [("l_shipdate", ">=", "1997-01-01"), ("l_shipdate", "<", "1997-04-01")],
    )
    daily = (
        li.withColumn(
            "day_no", F.datediff(F.col("l_shipdate"), F.lit("1995-01-01")).cast("int")
        )
        .groupBy("day_no")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "day_rev"
            )
        )
    )
    w = Window.orderBy("day_no").rangeBetween(-6, 0)
    return daily.select(
        "day_no", F.round(F.sum("day_rev").over(w), 2).alias("rev_7d")
    )


@register(
    "profile_lineitem",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders,
           round(min(l_quantity), 2) AS min_qty,
           round(max(l_quantity), 2) AS max_qty,
           round(avg(l_quantity), 4) AS avg_qty,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           count(CASE WHEN l_discount = 0 THEN 1 END) AS zero_discount_rows,
           min(l_shipdate) AS first_ship,
           max(l_shipdate) AS last_ship
    FROM lineitem
    """,
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling in one pass — the stats any pipeline needs before
    deciding partition/skew strategy at scale (single agg, no shuffle
    beyond the 1-row final combine)."""
    t = load_testdata(spark, sf_dir)
    li = t["lineitem"]
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count(F.when(F.col("l_discount") == 0, 1)).alias("zero_discount_rows"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "agg_cube",
    """
    SELECT lang, source, count(*) AS n, round(avg(n_chars), 2) AS avg_chars
    FROM documents GROUP BY CUBE(lang, source)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (lang, source) — all four grouping sets in one
    pass (Spark expands to a single shuffle with grouping-id)."""
    t = load_testdata(spark, sf_dir)
    return t["documents"].cube("lang", "source").agg(
        F.count("*").alias("n"), F.round(F.avg("n_chars"), 2).alias("avg_chars")
    )


@register(
    "agg_grouping_sets",
    """
    SELECT lang, source, count(*) AS n,
           grouping(lang) AS g_lang, grouping(source) AS g_source
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the cube/rollup generalization): per-lang,
    per-source, and grand totals in ONE shuffle with a grouping-id
    column — via the SQL surface over the testdata view (there is no
    DataFrame-API spelling for arbitrary sets). Views register on first
    access, so the table is touched before the SQL names it."""
    load_testdata(spark, sf_dir)["documents"]
    return spark.sql(
        """
        SELECT lang, source, count(*) AS n,
               grouping(lang) AS g_lang, grouping(source) AS g_source
        FROM documents
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


@register(
    "window_rank_family",
    """
    SELECT l_returnflag, l_orderkey,
           round(percent_rank() OVER w, 4) AS pr,
           round(cume_dist() OVER w, 4) AS cd,
           ntile(4) OVER w AS quartile
    FROM (
        SELECT l_returnflag, l_orderkey,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem GROUP BY l_returnflag, l_orderkey)
    WINDOW w AS (PARTITION BY l_returnflag
                 ORDER BY total_qty, l_orderkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function family (percent_rank / cume_dist / ntile) in
    one window pass over a pre-aggregated frame. The window input is
    grouped first so the sort key (total_qty, l_orderkey) is UNIQUE —
    ntile assigns tied rows to tiles by physical position, so on a
    non-unique key its output is nondeterministic across engines (raw
    lineitem has full duplicate rows in this testdata)."""
    t = load_testdata(spark, sf_dir)
    per_order = (
        t["lineitem"]
        .groupBy("l_returnflag", "l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )
    w = Window.partitionBy("l_returnflag").orderBy("total_qty", "l_orderkey")
    return per_order.select(
        "l_returnflag",
        "l_orderkey",
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "r19_batch_id_mapping",
    _PACK_SQL_BASE
    + """
    SELECT batch_id,
           array_to_string(list_sort(list(cast(doc_id AS varchar))), ',')
               AS description_ids
    FROM assigned GROUP BY batch_id
    """,
)
def r19_batch_id_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-19: the custom_id → [description_ids] mapping the reference
    keeps driver-side for the re-join (auto_translate.py:931-935).

    The id list is serialized to a comma-joined string (not an ARRAY
    column) because the driver's canonicalizer sorts result cells with
    pandas, which cannot factorize list values — same information,
    hashable representation."""
    t = load_testdata(spark, sf_dir)
    docs = (
        t["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.trim("text").alias("sentence"), F.col("lang").alias("shard"))
    )
    assigned = assign_batches_cumsum(
        with_cost(docs, "sentence"), order_col="doc_id", limit=4000, shard_col="shard"
    )
    return assigned.groupBy("batch_id").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ","
        ).alias("description_ids")
    )


@register(
    "f20_prompt_template",
    """
    SELECT lang,
           'You are a professional automotive translator. Translate each '
           || 'sentence to ' || upper(lang) || '. Return ONLY a JSON object '
           || 'mapping each description_id to its translation.'
               AS system_prompt,
           'doc_' || cast(min(doc_id) AS varchar) || '_1700000000' AS run_id
    FROM documents GROUP BY lang
    """,
)
def f20_prompt_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-20 + F-17: language-templated system prompt (the v2 JSON
    contract shape, auto_translate.py:238-256) and the {stem}_{ts} run
    id (fixed ts for determinism)."""
    from .functions.timeutil import run_id

    t = load_testdata(spark, sf_dir)
    prompt = F.concat(
        F.lit(
            "You are a professional automotive translator. Translate each "
            "sentence to "
        ),
        F.upper("lang"),
        F.lit(
            ". Return ONLY a JSON object mapping each description_id to "
            "its translation."
        ),
    )
    return t["documents"].groupBy("lang").agg(
        F.first(prompt).alias("system_prompt"),
        run_id(
            F.concat(F.lit("doc_"), F.min("doc_id").cast("string")),
            F.lit(1700000000),
        ).alias("run_id"),
    )


@register(
    "r17_pack_greedy",
    f"""
    WITH RECURSIVE costed AS MATERIALIZED (
        SELECT doc_id, lang,
               {_DUCK_BPE.format(c="trim(text)")}
               + {_DUCK_BPE.format(c="trim(text)")} * 1.8 AS cost,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
        WHERE length(trim(text)) > 0
    ), g AS (
        SELECT lang, doc_id, cost, rn, 0 AS batch_n, cost AS running
        FROM costed WHERE rn = 1
        UNION ALL
        SELECT c.lang, c.doc_id, c.cost, c.rn,
               CASE WHEN g.running + c.cost > 4000 AND g.running > 0
                    THEN g.batch_n + 1 ELSE g.batch_n END,
               CASE WHEN g.running + c.cost > 4000 AND g.running > 0
                    THEN c.cost ELSE g.running + c.cost END
        FROM costed c JOIN g ON c.lang = g.lang AND c.rn = g.rn + 1
    )
    SELECT doc_id, lang || '-' || cast(batch_n AS varchar) AS batch_id
    FROM g
    """,
)
def r17_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-17 exact-greedy packing (reference close-before-overflow
    semantics, auto_translate.py:278-301) via applyInPandas per shard —
    oracle-checked against a recursive-CTE replica of the greedy state
    machine. The cost expression must be IDENTICAL on both sides
    (tok + tok*1.8, never tok*2.8 — different doubles)."""
    from .operators.packing import assign_batches_greedy

    t = load_testdata(spark, sf_dir)
    docs = (
        t["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.trim("text").alias("sentence"),
            F.col("lang").alias("shard"),
        )
    )
    packed = assign_batches_greedy(
        with_cost(docs, "sentence"),
        order_col="doc_id",
        limit=4000,
        shard_col="shard",
    )
    return packed.select("doc_id", "batch_id")


@register(
    "text_tfidf_top_terms",
    """
    WITH words AS (
        SELECT lang, unnest(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS term
        FROM documents
    ), tf AS (
        SELECT lang, term, count(*) AS tf FROM words GROUP BY lang, term
    ), df AS (
        SELECT term, count(DISTINCT lang) AS df FROM words GROUP BY term
    ), n AS (
        SELECT count(DISTINCT lang) AS n_langs FROM documents
    ), scored AS (
        SELECT tf.lang, tf.term,
               round(tf.tf * ln(n.n_langs * 1.0 / df.df), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT lang, term, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY tfidf DESC, term) AS rk
        FROM scored)
    WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 most distinctive terms per
    language corpus. Two shuffles (term counts, doc frequency) + a
    per-lang window — the classic scalable formulation."""
    from .functions.text import normalized_text

    t = load_testdata(spark, sf_dir)
    words = t["documents"].select(
        "lang",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("term"),
    )
    tf = words.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    dfreq = words.groupBy("term").agg(F.countDistinct("lang").alias("df"))
    n_langs = t["documents"].agg(
        F.countDistinct("lang").alias("n_langs")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_langs))
        .select(
            "lang",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_langs") * 1.0 / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "term", "tfidf")
    )


@register("ann_cosine_ivf", None)
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (numpy Lloyd coarse quantizer + cell probing) — rows-only:
    the centroids are trained per call, not frozen repo data, so the
    oracle cannot replay them; recall vs brute force is asserted in
    tests (test_ivf_topk_recall_vs_bruteforce)."""
    from .operators.similarity import cosine_topk_ivf

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    return cosine_topk_ivf(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_cells=8, n_probe=4
    ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine_r"))


def _pq_codebook_values() -> str:
    """The frozen PQ codebook as a DuckDB VALUES literal (i = subspace
    0..m-1, j = code 0..n_codes-1, cvec = centroid). Trained once and
    committed (tools/train_pq_codebook.py, provenance in the json), so
    — exactly like the SRP planes in _srp_planes_values — the oracle
    inlines the same repr-round-tripped doubles and replays the
    encode→ADC→re-rank computation bit-for-bit."""
    from .operators.similarity import frozen_pq_codebook

    cb = frozen_pq_codebook()
    rows = ", ".join(
        f"({i}, {j}, [{', '.join(repr(x) for x in cent)}])"
        for i, sub in enumerate(cb)
        for j, cent in enumerate(sub)
    )
    return f"(VALUES {rows})"


def _pq_oracle_sql() -> str:
    from .operators.similarity import frozen_pq_codebook

    cb = frozen_pq_codebook()
    ds = len(cb[0][0])
    return (
        _DUCK_EMB_CTE
        + f"""
    , cb AS (
        SELECT i, j,
               list_transform(cvec, v -> CAST(v AS DOUBLE)) AS cvec
        FROM {_pq_codebook_values()} t(i, j, cvec)
    ), cb2 AS (
        SELECT i, j, cvec,
               list_sum(list_transform(cvec, x -> x * x)) AS c2
        FROM cb
    ), nx AS (
        SELECT vec_id,
               list_transform(emb, x -> x / greatest(nrm, 1e-12)) AS xn
        FROM n
    ), d2 AS (
        SELECT nx.vec_id, cb2.i, cb2.j,
               -2 * list_sum(list_transform(
                      list_zip(list_slice(nx.xn, cb2.i * {ds} + 1,
                                          cb2.i * {ds} + {ds}),
                               cb2.cvec),
                      x -> x[1] * x[2])) + cb2.c2 AS dist2
        FROM nx, cb2
    ), codes AS (
        SELECT vec_id, i, j AS code FROM (
            SELECT vec_id, i, j,
                   row_number() OVER (PARTITION BY vec_id, i
                                      ORDER BY dist2 ASC, j ASC) AS rk
            FROM d2)
        WHERE rk = 1
    ), carr AS (
        SELECT vec_id, list(code ORDER BY i) AS codes
        FROM codes GROUP BY vec_id
    ), qn AS (
        SELECT vec_id, list_transform(emb, x -> x / nrm) AS xq
        FROM n WHERE vec_id < 5
    ), qtab AS (
        SELECT q.vec_id AS query_id, cb.i,
               list(list_sum(list_transform(
                        list_zip(list_slice(q.xq, cb.i * {ds} + 1,
                                            cb.i * {ds} + {ds}),
                                 cb.cvec),
                        x -> x[1] * x[2])) ORDER BY cb.j) AS tbl
        FROM qn q, cb
        GROUP BY q.vec_id, cb.i
    ), qtabs AS (
        SELECT query_id, list(tbl ORDER BY i) AS tables
        FROM qtab GROUP BY query_id
    ), approx AS (
        SELECT q.query_id, c.vec_id,
               list_sum(list_transform(list_zip(c.codes, q.tables),
                        x -> x[2][x[1] + 1])) AS ap
        FROM carr c, qtabs q
        WHERE q.query_id <> c.vec_id
    ), cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ap DESC, vec_id) AS rk
            FROM approx)
        WHERE rk <= 64
    ), scored AS (
        SELECT cand.query_id, cand.vec_id,
               list_sum(list_transform(list_zip(q.emb, c.emb),
                        x -> x[1] * x[2])) / (q.nrm * c.nrm) AS cosine
        FROM cand
        JOIN n q ON q.vec_id = cand.query_id
        JOIN n c ON c.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, round(cosine, 4) AS cosine_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
    WHERE rk <= 10
    """
    )


@register("ann_cosine_pq", _pq_oracle_sql())
def ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (8-byte codes + native ADC tables + exact
    re-rank), promoted from rows-only to a FULL oracle (round 10,
    VERDICT r9 #2): with the trained codebook frozen as committed
    literals (resources/pq_codebook_v1.json), every stage is
    deterministic — encode (per-subspace argmin against the frozen
    centroids), ADC lookup (sequential fold over inlined tables), and
    exact re-rank all replay in SQL, the ann_cosine_lsh pattern. The
    recall-vs-brute hook (accuracy.py:check_ann_pq) stays as the
    quality contract.

    KNOWN ASSUMPTION (cross-engine float exactness, same family as
    ann_cosine_lsh's sign bits): the encode argmin compares d2 values
    computed by numpy (BLAS dot + pairwise sums) on the Spark side and
    sequential list_sum on the DuckDB side — equal only up to ulps. A
    code flips only if a subvector sits within float noise of
    equidistant between two TRAINED centroids (gap typically O(1e-2),
    noise O(1e-15)); if this oracle ever goes red with identical row
    counts, suspect a near-tie margin, not a logic bug. The ADC fold
    and re-rank use sequential arithmetic on BOTH engines (F.aggregate
    vs list_sum) — bit-equal, the proven LSH precedent."""
    from .operators.similarity import cosine_topk_pq, frozen_pq_codebook

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    return cosine_topk_pq(
        emb, emb.filter(F.col("vec_id") < 5), k=10, rerank=64,
        codebook=frozen_pq_codebook(),
    ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine_r"))


@register("ann_cosine_ivf_indexed", None)
def ann_cosine_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a PERSISTED index: the corpus is written
    partitioned by its coarse-quantizer cell (the numpy Lloyd quantizer
    ann_cosine_ivf uses), so probing becomes partition pruning at the
    scan (rows-only for the same reason as ann_cosine_ivf; parity with
    the in-memory IVF and the pruning plan are test-asserted)."""
    from urllib.parse import urlparse

    from .operators.similarity import build_ivf_index, cosine_topk_ivf_indexed

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    idx = f"{warehouse}/ann_ivf_index"
    build_ivf_index(emb, idx, n_cells=8)
    return cosine_topk_ivf_indexed(
        spark, idx, emb.filter(F.col("vec_id") < 5), k=10, n_probe=4
    ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine_r"))


# =========================================================================
# incremental maintenance / skew / rollup / multimodal (round-3 widening)
# =========================================================================


@register(
    "ivm_incremental_agg",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS sum_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             / count(*), 4) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the standing (returnflag,
    linestatus) aggregate is maintained by merging a partial state over
    the OLD data with a partial state over only the NEW shipdate slice
    — the oracle recomputes from scratch over everything. At 100 TB the
    base state is a tiny per-group table and each refresh reads only
    the new partition; exact decimal sums make the merge equal a full
    recompute bit-for-bit (reference analog: the rerun-from-stored-
    responses analyze mode, auto_translate.py:1339-1396)."""
    from .operators.aggregates import agg_state, merge_agg_states

    t = load_testdata(spark, sf_dir)
    li = t["lineitem"]
    cutoff = "1997-07-01"
    keys = ["l_returnflag", "l_linestatus"]
    base = agg_state(
        li.filter(F.col("l_shipdate") < cutoff), keys, ["l_quantity", "l_extendedprice"]
    )
    delta = agg_state(
        li.filter(F.col("l_shipdate") >= cutoff), keys, ["l_quantity", "l_extendedprice"]
    )
    merged = merge_agg_states([base, delta], keys)
    return merged.select(
        *keys,
        "n_rows",
        F.round("sum_l_quantity", 2).cast("double").alias("sum_qty"),
        F.round("sum_l_extendedprice", 2).cast("double").alias("sum_price"),
        F.round(
            F.col("sum_l_extendedprice").cast("double") / F.col("n_rows"), 4
        ).alias("avg_price"),
    )


@register(
    "skew_salted_join",
    """
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join: the fact side is salted (deterministic
    row-hash salt), the dimension side replicated ``factor`` times, so
    one hot customer key spreads over ``factor`` tasks instead of one
    straggler — the oracle is the PLAIN join, proving salting changes
    the schedule, never the result. (AQE skew splitting is the first
    line of defense; this is the explicit fallback when a single key
    exceeds what split-and-replicate can fix.)"""
    from .operators.skew import salted_join

    t = load_testdata(spark, sf_dir)
    orders = t["orders"].select("o_custkey", "o_totalprice")
    cust = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, key="o_custkey", factor=8)
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(28,6)")), 2)
        .cast("double")
        .alias("revenue"),
    )


@register(
    "events_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS sum_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time downsample: raw events → 1-hour buckets ×
    event_type with count/sum/min/max. This is the continuous-aggregate
    shape: at 100 TB the rollup runs per ingest partition and appends —
    combined with ``ivm_incremental_agg``'s state merge it maintains
    itself without rescanning history. date_trunc stays native (no UDF)
    so the scan prunes and the agg is map-side partial."""
    t = load_testdata(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


@register(
    "multimodal_feature_stats",
    """
    SELECT CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' WHEN 4 THEN 'wav'
                ELSE 'mp4' END AS format,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(coalesce(sum(CASE WHEN doc_id % 6 <> 4
                                  THEN doc_id % 497 + 16 END), 0)
                AS BIGINT) AS sum_width,
           CAST(coalesce(sum(CASE WHEN doc_id % 6 <> 4
                                  THEN doc_id % 383 + 16 END), 0)
                AS BIGINT) AS sum_height,
           CAST(coalesce(sum(CASE WHEN doc_id % 6 >= 4
                                  THEN (doc_id % 90 + 1) * 250 END), 0)
                AS BIGINT) AS sum_duration_ms
    FROM documents GROUP BY 1
    """,
)
def multimodal_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata end-to-end, now with a real oracle (round-1/2
    roadmap item): binary media cells are synthesized from doc_id with
    REAL container headers (PNG/JPEG/GIF/BMP/WAV/MP4 magic bytes),
    streamed through Arrow into the pure-Python header parser
    (operators/multimodal.py:parse_media_header — no PIL/ffmpeg needed;
    the MP4 branch is a real ISO-BMFF box walk to mvhd/tkhd, round 6),
    and the PARSED width/height/duration aggregates must reproduce the
    oracle's plain arithmetic on doc_id. If builder or parser drift, the
    hashes diverge — a genuine round-trip check, not a stub. Pixel/frame
    decode stays dependency-gated; the feature-histogram path keeps its
    pytest coverage."""
    from .operators.multimodal import media_from_ids, media_metadata

    t = load_testdata(spark, sf_dir)
    media = media_from_ids(t["documents"].select("doc_id"))
    meta = media_metadata(media)
    return meta.groupBy("format").agg(
        F.count("*").alias("n_items"),
        F.coalesce(F.sum("width"), F.lit(0)).cast("long").alias("sum_width"),
        F.coalesce(F.sum("height"), F.lit(0)).cast("long").alias("sum_height"),
        F.coalesce(F.sum("duration_ms"), F.lit(0))
        .cast("long")
        .alias("sum_duration_ms"),
    )


@register(
    "dedup_edit_distance",
    """
    WITH d AS (SELECT * FROM documents WHERE doc_id < 5000)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 10
    WHERE levenshtein(a.text, b.text) <= 20
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-edit-distance near-dup pairs with banded length blocking:
    the length band becomes an exploded-bucket equi-join (edit distance
    is lower-bounded by length difference, so no true pair is lost),
    and levenshtein runs native JVM-side on the surviving candidates
    only. The oracle is the plain blocked theta-join — same pairs, no
    banding.

    Input bounded to doc_id < 5000 on BOTH sides (sf0.1's full corpus;
    a no-op at sf <= 0.1): the ORACLE's per-lang theta-join is O(n^2)
    levenshtein calls — infeasible at sf1's 50k docs. The unbounded
    scale path for near-dup is dedup_minhash_candidates/components."""
    from .operators.dedup import edit_distance_pairs

    t = load_testdata(spark, sf_dir)
    return edit_distance_pairs(
        t["documents"].filter(F.col("doc_id") < 5000), len_band=10, max_dist=20
    )


@register(
    "cogroup_reconcile_orders",
    """
    SELECT bucket,
           count(o_orderkey) AS n_expected,
           count(l_key) AS n_actual,
           count(CASE WHEN l_key IS NULL THEN 1 END) AS n_missing,
           count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_extra
    FROM (
        SELECT coalesce(o.o_orderkey % 64, l.l_key % 64) AS bucket,
               o.o_orderkey, l.l_key
        FROM orders o
        FULL OUTER JOIN
             (SELECT DISTINCT l_orderkey AS l_key FROM lineitem) l
          ON o.o_orderkey = l.l_key)
    GROUP BY bucket
    """,
)
def cogroup_reconcile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided keyed reconciliation via cogroup.applyInPandas: per
    64-way bucket, expected order keys vs order keys that actually
    appear in lineitem — missing = orders with no lines, extra = lines
    referencing no order. One shuffle per side, Arrow-batched pairwise
    kernel, per-bucket bounded memory; the relational twin (full outer
    join + groupBy) is the oracle."""
    from .operators.joins import cogroup_reconcile

    t = load_testdata(spark, sf_dir)
    expected = t["orders"].select(
        F.col("o_orderkey").alias("key"), (F.col("o_orderkey") % 64).alias("bucket")
    )
    actual = (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("key"))
        .distinct()
        .withColumn("bucket", F.col("key") % 64)
    )
    return cogroup_reconcile(expected, actual, bucket_col="bucket", key_col="key")


@register(
    "events_props_variant",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           count(*) AS n,
           min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY 1
    """,
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless semi-structured path: props parses to the Spark 4
    VARIANT type (binary-encoded, no up-front schema — the open-content
    twin of r4's fixed-struct from_json) and fields are pulled with
    variant_get path expressions, then aggregated. At 100 TB variant
    beats re-parsing JSON strings per access: parse once, extract many
    times from the binary encoding."""
    t = load_testdata(spark, sf_dir)
    k = F.variant_get(F.try_parse_json(F.col("props")), "$.k", "bigint")
    return (
        t["events"]
        .select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "parse_udtf_lateral",
    """
    WITH docs AS (
        SELECT doc_id % 30 AS batch_id, doc_id, text
        FROM documents WHERE doc_id < 300),
    payload AS (
        SELECT batch_id,
               json_group_object(CAST(doc_id AS VARCHAR), text) AS js
        FROM docs GROUP BY batch_id),
    json_rows AS (
        -- families 0 (clean JSON) and 1 (fenced JSON): the fence strips
        -- in the cascade's first rung, so BOTH parse as json_basic; the
        -- id set is exactly the JSON object's keys.
        SELECT p.batch_id, unnest(json_keys(p.js)) AS description_id,
               'json_basic' AS strategy
        FROM payload p WHERE p.batch_id % 3 != 2),
    line_rows AS (
        -- family 2 (numbered 'id. text' lines): one row per line, via
        -- the line-fallback rung; the suspicious gate (len >= 3, not
        -- digits-only, no fence/bracket prefix) mirrored on the value.
        SELECT batch_id, CAST(doc_id AS VARCHAR) AS description_id,
               'line_fallback' AS strategy
        FROM docs
        WHERE batch_id % 3 = 2
          AND length(trim(text)) >= 3
          AND NOT regexp_matches(trim(text), '^[0-9]+$')
          AND NOT regexp_matches(trim(text), '^(```|[<{\\[])'))
    SELECT batch_id, description_id, strategy
    FROM json_rows
    UNION ALL
    SELECT batch_id, description_id, strategy FROM line_rows
    """,
)
def parse_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parse cascade as a Spark 4 Python UDTF in a LATERAL join:
    response blobs (synthesized deterministically from documents in the
    three reference content families — JSON map, fenced JSON, numbered
    lines) fan out to (id, translation, strategy) rows. Oracled (round-4
    upgrade from rows-only): the synthesized content is reconstructed in
    DuckDB — json_group_object + json_keys replays the v2-JSON families
    through a REAL second JSON engine, and the numbered-line family's
    expected ids are the synthesis arithmetic with the suspicious gate
    mirrored. The fallback-line formats stay pytest-covered
    (tests/test_parsing.py)."""
    from .functions.parse_udtf import register_parse_udtf

    register_parse_udtf(spark)
    t = load_testdata(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text").filter(F.col("doc_id") < 300)
    batched = docs.groupBy((F.col("doc_id") % 30).alias("batch_id")).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("doc_id").cast("string"), F.col("text")))
        ).alias("payload")
    )
    content = (
        F.when(F.col("batch_id") % 3 == 0, F.to_json(F.col("payload")))
        .when(
            F.col("batch_id") % 3 == 1,
            F.concat(F.lit("```json\n"), F.to_json(F.col("payload")), F.lit("\n```")),
        )
        .otherwise(
            F.array_join(
                F.transform(
                    F.map_entries(F.col("payload")),
                    lambda e: F.concat(e["key"], F.lit(". "), e["value"]),
                ),
                "\n",
            )
        )
    )
    batched.select("batch_id", content.alias("content")).createOrReplaceTempView(
        "udtf_responses"
    )
    return spark.sql(
        """
        SELECT r.batch_id, p.description_id, p.strategy
        FROM udtf_responses r, LATERAL parse_translations_udtf(r.content) p
        """
    )


# =========================================================================
# Time-series / warehouse extensions: calendar-spine gap fill, SCD2
# interval build, batch sessionization, forward fill, unpivot. These are
# the maintenance shapes a 100 TB training-data warehouse runs daily;
# each is a single-shuffle plan (window partitions and group keys reuse
# the same user_id/day clustering).
# =========================================================================


@register(
    "spine_gap_fill_daily",
    """
    WITH bounds AS (
        SELECT CAST(min(o_orderdate) AS DATE) AS lo,
               CAST(max(o_orderdate) AS DATE) AS hi
        FROM orders),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
            AS day
        FROM bounds),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2)
                    AS DOUBLE) AS revenue
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1)
    SELECT day,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(revenue, 0.0) AS revenue
    FROM spine LEFT JOIN daily USING (day)
    """,
)
def spine_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap fill: generate the full day spine with
    `sequence()` + `explode` from a one-row bounds aggregate (no
    driver collect), left-join the sparse daily aggregate onto it, and
    zero-fill the gaps. At scale the spine is always tiny (days, not
    rows) so the join broadcasts the aggregated side; the fact scan
    aggregates map-side on the date key. Exact decimal sum keeps the
    revenue hash order-independent."""
    t = load_testdata(spark, sf_dir)
    orders = t["orders"]
    daily = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )
    spine = orders.agg(
        F.to_date(F.min("o_orderdate")).alias("lo"),
        F.to_date(F.max("o_orderdate")).alias("hi"),
    ).select(F.explode(F.sequence("lo", "hi")).alias("day"))
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


@register(
    "scd2_event_type_history",
    """
    SELECT user_id, event_type AS status, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL AS is_current
    FROM (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events)
    WHERE prev_type IS NULL OR prev_type <> event_type
    """,
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval build: collapse the per-user event stream into
    validity intervals (valid_from, valid_to, is_current) at every
    event_type change — the slowly-changing-dimension shape the
    reference's ledger state machine (SURVEY §1.6) implies but stores
    as point rows. Both windows share PARTITION BY user_id ORDER BY
    (ts, event_id), so the whole query is ONE Exchange + one Sort."""
    t = load_testdata(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        t["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    nxt = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "events_sessionize_batch",
    """
    SELECT user_id, sess_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types,
           CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
               AS session_value
    FROM (
        SELECT user_id, ts, event_id, event_type, value,
               CAST(sum(CASE WHEN new_sess THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM (
            SELECT user_id, ts, event_id, event_type, value,
                   coalesce(ts - lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE, TRUE) AS new_sess
            FROM events))
    GROUP BY user_id, sess_id
    """,
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands with a 30-minute gap) +
    per-session stats. Unlike `stream_session_windows` (the built-in
    session_window aggregation), this is the window-function
    formulation: lag → boundary flag → running sum = session id —
    the form that composes with arbitrary per-session aggregates
    (distinct types, exact value sums). lag and the running sum share
    one (user_id)-partitioned sort; the final groupBy adds the only
    other exchange."""
    t = load_testdata(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        t["events"]
        .select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn(
            "new_sess",
            F.coalesce(
                (F.col("ts") - F.lag("ts").over(w)) > F.expr("INTERVAL 30 MINUTES"),
                F.lit(True),
            ).cast("int"),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return flagged.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
        .cast("double")
        .alias("session_value"),
    )


@register(
    "ts_ffill_purchase_value",
    """
    SELECT event_id, user_id,
           round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                            IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING), 2) AS last_purchase_value
    FROM events
    """,
)
def ts_ffill_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last-observation-carried-forward): every event
    carries the user's most recent purchase value — `last(...,
    ignorenulls=True)` over a running row frame. The canonical
    time-series imputation; one shuffle on user_id, no self-join, no
    driver state. NULL until the user's first purchase."""
    t = load_testdata(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs = F.when(F.col("event_type") == "purchase", F.col("value"))
    return t["events"].select(
        "event_id",
        "user_id",
        F.round(F.last(obs, ignorenulls=True).over(w), 2).alias(
            "last_purchase_value"
        ),
    )


@register(
    "unpivot_lineitem_measures",
    """
    WITH long AS (
        SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount FROM lineitem
    )
    SELECT measure, CAST(count(*) AS BIGINT) AS n_rows,
           round(min(val), 2) AS min_v, round(max(val), 2) AS max_v,
           round(sum(cast(round(val * 100, 0) as bigint)) / 100.0, 2)
               AS sum_v
    FROM long GROUP BY measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt: wide measure columns → long (measure, val) rows
    via the native `unpivot` (Spark's STACK — one scan, no union of
    three scans like the SQL oracle spells; the generator expands
    in-task with zero extra exchanges), then a per-measure rollup so
    the checked output stays BOUNDED at any SF (the raw long form is
    3x the fact table — at sf3 collecting it for comparison blew the
    driver's result cap, which is the harness telling us a fact-sized
    oracle diff is the wrong check at scale). The sum accumulates in
    integer cents — exact and engine-identical (values carry <= 2
    decimals)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["lineitem"]
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "val",
        )
        .groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("val"), 2).alias("min_v"),
            F.round(F.max("val"), 2).alias("max_v"),
            F.round(
                F.sum(F.round(F.col("val") * 100, 0).cast("long")) / 100.0,
                2,
            ).alias("sum_v"),
        )
    )


# =========================================================================
# Training-data curation extensions: repetition/quality filters, PII
# scrubbing, vocabulary heavy hitters, robust (winsorized) statistics.
# All stay in native expressions (no Python UDFs) so the scans prune and
# whole-stage codegen covers the hot path at corpus scale.
# =========================================================================


@register(
    "text_repetition_ratio",
    """
    SELECT doc_id,
           round(n_distinct * 1.0 / n_words, 4) AS distinct_ratio,
           round(top_count * 1.0 / n_words, 4) AS top_word_share
    FROM (
        SELECT doc_id, count(*) AS n_distinct, max(c) AS top_count,
               any_value(n_words) AS n_words
        FROM (
            SELECT doc_id, n_words, w, count(*) AS c
            FROM (
                SELECT doc_id, len(words) AS n_words, unnest(words) AS w
                FROM (SELECT doc_id,
                             regexp_split_to_array(lower(trim(text)), '\\s+')
                                 AS words
                      FROM documents))
            GROUP BY doc_id, n_words, w)
        GROUP BY doc_id)
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document repetition profile (the Gopher-style repetition filter):
    distinct-word ratio and the share of the single most frequent word.
    explode → two-level aggregation; both groupBys hash on doc_id so
    AQE coalesces them onto one exchange lineage. Ratios are exact
    integer divisions — hash-stable across engines."""
    t = load_testdata(spark, sf_dir)
    words = t["documents"].select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("words"),
    )
    per_word = (
        words.select(
            "doc_id", F.size("words").alias("n_words"), F.explode("words").alias("w")
        )
        .groupBy("doc_id", "n_words", "w")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_word.groupBy("doc_id", "n_words")
        .agg(F.count("*").alias("n_distinct"), F.max("c").alias("top_count"))
        .select(
            "doc_id",
            F.round(F.col("n_distinct") * 1.0 / F.col("n_words"), 4).alias(
                "distinct_ratio"
            ),
            F.round(F.col("top_count") * 1.0 / F.col("n_words"), 4).alias(
                "top_word_share"
            ),
        )
    )


@register(
    "text_gopher_repetition_ngrams",
    f"""
    WITH d AS (
        SELECT doc_id, string_split({_DUCK_NORM.format(c="text")}, ' ')
               AS words
        FROM documents
    ), g AS (
        SELECT doc_id, n.n,
               unnest(list_transform(
                   range(1, len(words) - n.n + 2),
                   i -> array_to_string(list_slice(words, i, i + n.n - 1),
                                        ' '))) AS gram
        FROM d, (SELECT unnest([2, 3, 4]) AS n) n
        WHERE len(words) >= n.n
    ), gc AS (
        SELECT doc_id, n, gram, count(*) AS c,
               CAST(length(gram) AS BIGINT) AS chars
        FROM g GROUP BY 1, 2, 3
    )
    SELECT doc_id, n,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(floor(
               sum(CASE WHEN c > 1 THEN chars * c ELSE 0 END) * 10000.0
               / sum(chars * c) + 0.5) AS BIGINT) AS dup_char_frac_e4
    FROM gc GROUP BY 1, 2
    """,
)
def text_gopher_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's duplicate n-gram filters (Rae et al. 2021, Table A1):
    per document and n in (2, 3, 4), the fraction of characters inside
    n-grams that occur more than once WITHIN the document — the looping
    / stutter signal the distinct-word ratio misses. Runs as the
    zero-shuffle Arrow kernel (operators/lm.py:gopher_repetition_arrow
    — one Counter pass per doc per n; the docstring there records the
    two slower shapes this replaced, measured at sf10). The oracle is
    the natural SQL form: explode (n, gram) rows, GROUP BY counts,
    exact integer char arithmetic quantized to 1e-4."""
    from .operators.lm import gopher_repetition_arrow

    t = load_testdata(spark, sf_dir)
    return gopher_repetition_arrow(
        t["documents"], text_col="text", id_col="doc_id"
    )


@register(
    "text_gopher_rules",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           round(sum(CASE WHEN passes THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS pass_rate
    FROM (
        SELECT lang,
               (wc BETWEEN 5 AND 1000)
               AND (nonspace * 1.0 / wc BETWEEN 3 AND 10)
               AND (symbols * 1.0 / greatest(length(txt), 1) < 0.1)
               AND (alpha_words * 1.0 / wc >= 0.8) AS passes
        FROM (
            SELECT lang, txt,
                   len(words) AS wc,
                   length(regexp_replace(txt, '\\s+', '', 'g')) AS nonspace,
                   length(regexp_replace(txt, '[a-z0-9\\s]', '', 'g'))
                       AS symbols,
                   len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
                       AS alpha_words
            FROM (SELECT lang, lower(trim(text)) AS txt,
                         regexp_split_to_array(lower(trim(text)), '\\s+')
                             AS words
                  FROM documents)))
    GROUP BY lang
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style document quality gate, rolled up per language:
    word-count bounds, mean word length in [3,10], symbol ratio < 10%,
    and >= 80% alphabetic words. Every rule is a native expression over
    one split() — a single scan-side projection feeding a tiny
    aggregate, exactly how a corpus filter should run at 100 TB (the
    pass/fail bit would become the partition pruning column of the
    cleaned copy)."""
    from .functions.text import gopher_pass

    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .select("lang", gopher_pass(F.col("text")).alias("passes"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("passes").cast("int")).alias("n_pass"),
            F.round(
                F.sum(F.col("passes").cast("int")) * 1.0 / F.count("*"), 4
            ).alias("pass_rate"),
        )
    )


@register(
    "text_pii_scrub",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt,
               '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(txt, '\\+?\\d[\\d-]{2,}')) AS INT)
               AS n_numbers,
           md5(regexp_replace(
                   regexp_replace(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+',
                                  '<EMAIL>', 'g'),
                   '\\+?\\d[\\d-]{2,}', '<NUM>', 'g')) AS scrubbed_fp
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or +1-555-'
                         || CAST(doc_id % 10000 AS VARCHAR)
                    ELSE text END AS txt
        FROM documents)
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email addresses and phone-like
    digit runs, fingerprint the scrubbed text. PII is injected
    deterministically (every 7th doc gets a synthetic email + phone
    appended) so the redaction path is actually exercised — the same
    fault-injection pattern as analyze_full_taxonomy. Pure
    regexp_extract_all / regexp_replace — the scrub runs inside the
    scan projection with zero shuffles."""
    t = load_testdata(spark, sf_dir)
    email_re = r"[a-z0-9._%+-]+@[a-z0-9.-]+"
    num_re = r"\+?\d[\d-]{2,}"
    txt = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            (F.col("doc_id") % 10000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    d = t["documents"].select("doc_id", txt.alias("txt"))
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("txt", F.lit(email_re), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("txt", F.lit(num_re), F.lit(0))).alias(
            "n_numbers"
        ),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("txt", email_re, "<EMAIL>"), num_re, "<NUM>"
            )
        ).alias("scrubbed_fp"),
    )


@register(
    "heavy_hitters_words",
    """
    SELECT w, count(*) AS n
    FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents)
    GROUP BY w
    ORDER BY n DESC, w ASC
    LIMIT 10
    """,
)
def heavy_hitters_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters: global top-10 words. explode →
    two-phase aggregate (map-side partial combine collapses the heavy
    keys before the shuffle — exactly the skew this query exists to
    find) → TakeOrdered with a total tie-break order. At corpus scale
    the same plan holds because the partial agg bounds the shuffle to
    |vocab| rows per task."""
    t = load_testdata(spark, sf_dir)
    return (
        t["documents"]
        .select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(10)
    )


@register(
    "profile_winsorized_stats",
    """
    WITH pct AS (
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.05), 2) AS lo,
               round(quantile_cont(l_extendedprice, 0.95), 2) AS hi
        FROM lineitem GROUP BY 1)
    SELECT l_returnflag,
           any_value(lo) AS p05,
           any_value(hi) AS p95,
           round(CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi)
                               AS DECIMAL(28,6))) AS DOUBLE) / count(*), 4)
               AS winsorized_mean
    FROM lineitem JOIN pct USING (l_returnflag)
    GROUP BY l_returnflag
    """,
)
def profile_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics via winsorization: clip each group's values to
    its exact [p05, p95] (percentiles rounded to cents so the clip
    boundary is bit-identical across engines) and report the clipped
    mean. Two passes: a tiny per-group percentile aggregate broadcast
    back onto the fact scan, then one exact decimal mean — the
    outlier-resistant profile for uniform synthetic data where z-score
    outliers cannot exist (max |z| ~ 1.73)."""
    t = load_testdata(spark, sf_dir)
    li = t["lineitem"].select("l_returnflag", "l_extendedprice")
    pct = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.05)"), 2).alias("lo"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 2).alias("hi"),
    )
    clipped = li.join(F.broadcast(pct), "l_returnflag").select(
        "l_returnflag",
        "lo",
        "hi",
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
        ).alias("v"),
    )
    return clipped.groupBy("l_returnflag").agg(
        F.first("lo").alias("p05"),
        F.first("hi").alias("p95"),
        F.round(
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double") / F.count("*"),
            4,
        ).alias("winsorized_mean"),
    )


@register(
    "pyds_request_roundtrip",
    """
    SELECT 'batch-' || lpad(CAST(doc_id % 20 AS VARCHAR), 4, '0')
               AS custom_id,
           count(*) AS n_ids,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1
    """,
)
def pyds_request_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource (DataSourceV2) round trip: documents →
    request-map batches → the `request_jsonl` SINK (commit/abort
    protocol, reference v2 line format) → the `request_jsonl` SOURCE
    (one input partition per file, payload map decoded in-source) →
    explode → per-batch aggregate. The oracle recomputes the same
    aggregate straight from `documents`, so a value match proves the
    text content survived the JSONL write+read bit-exactly
    (sources/pyds.py; format per auto_translate.py:303-332)."""
    import tempfile

    from .sources import register_request_jsonl

    register_request_jsonl(spark)
    t = load_testdata(spark, sf_dir)
    batched = (
        t["documents"]
        .groupBy((F.col("doc_id") % 20).alias("batch_no"))
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(F.col("doc_id").cast("string"), F.col("text"))
                )
            ).alias("payload")
        )
        .select(
            F.format_string("batch-%04d", "batch_no").alias("custom_id"),
            "payload",
        )
    )
    store = tempfile.mkdtemp(prefix="pyds_roundtrip_")
    batched.write.format("request_jsonl").mode("overwrite").save(store)
    back = spark.read.format("request_jsonl").load(store)
    return (
        back.select("custom_id", F.explode("payload").alias("k", "v"))
        .groupBy("custom_id")
        .agg(
            F.count("*").alias("n_ids"),
            F.sum(F.length("v")).alias("sum_chars"),
        )
    )


@register(
    "collation_ci_profile",
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT txt) AS n_distinct_binary,
           count(DISTINCT lower(txt)) AS n_distinct_ci
    FROM (
        SELECT source,
               CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS txt
        FROM documents)
    GROUP BY source
    """,
)
def collation_ci_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware distinct counts (Spark 4 collations): the same
    column counted under binary equality vs UNICODE_CI. Case variants
    are injected deterministically (every 3rd doc upper-cased) so the
    two counts actually diverge. `collate()` pushes the comparison
    semantics INTO the hash-aggregate's key — no lower() projection,
    and at scale the collated key participates in codegen like any
    string; the oracle's lower() is the portable equivalent for
    ASCII."""
    t = load_testdata(spark, sf_dir)
    txt = F.when(
        F.col("doc_id") % 3 == 0, F.upper(F.col("text"))
    ).otherwise(F.col("text"))
    return (
        t["documents"]
        .select("source", txt.alias("txt"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(F.col("txt")).alias("n_distinct_binary"),
            F.count_distinct(F.collate(F.col("txt"), "UNICODE_CI")).alias(
                "n_distinct_ci"
            ),
        )
    )


@register(
    "pipe_syntax_priority_rollup",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE)
               AS revenue
    FROM orders
    WHERE o_orderstatus <> 'F'
    GROUP BY o_orderpriority
    """,
)
def pipe_syntax_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): the same logical plan as the plain
    GROUP BY oracle, expressed as a |> pipeline — scan |> filter |>
    aggregate. Pipe operators compile to identical Catalyst plans
    (filter still reaches the scan as a PushedFilter), so the surface
    is free; declared here to pin that the engine accepts it."""
    t = load_testdata(spark, sf_dir)
    t["orders"].createOrReplaceTempView("orders_pipe_v")
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_orderstatus <> 'F'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2)
                          AS DOUBLE) AS revenue
           GROUP BY o_orderpriority
        """
    ).select("o_orderpriority", "n_orders", "revenue")


@register(
    "global_index_documents",
    """
    SELECT doc_id,
           row_number() OVER (ORDER BY doc_id) AS global_index
    FROM documents
    """,
)
def global_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global row numbering WITHOUT the single-partition window
    the oracle's `row_number() OVER (ORDER BY ...)` implies: range
    repartition → per-partition row_number → tiny cumulative offset
    table broadcast back (operators/indexing.py:with_global_index).
    Same numbers, but the heavy path stays parallel — the difference
    between a 100 TB sort and a one-task straggler."""
    from .operators.indexing import with_global_index

    t = load_testdata(spark, sf_dir)
    return with_global_index(
        t["documents"].select("doc_id"), order_by=["doc_id"]
    ).select("doc_id", "global_index")


@register(
    "heavy_hitters_cms",
    """
    SELECT w, exact_count,
           TRUE AS never_undercounts,
           TRUE AS within_loose_bound
    FROM (
        SELECT w, CAST(count(*) AS BIGINT) AS exact_count
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS w
            FROM documents)
        GROUP BY w
        ORDER BY exact_count DESC, w ASC
        LIMIT 10
    )
    """,
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters, promoted from rows-only to a
    BOUNDED-ERROR oracle (round-6 verdict #4 pattern): the estimates
    are engine-specific, but the sketch CONTRACT is not. Per exact
    top-10 word (a genuine value check against DuckDB — word AND exact
    count) the query emits `never_undercounts` = sketch >= exact (the
    one-sided count-min guarantee, deterministic by construction) and
    `within_loose_bound` = sketch <= 1.2*exact + 10 (the accuracy
    hook's long-standing bound; deterministic for fixed data + fixed
    crc32 seeds). Candidate recall of the sketch's own top-k path
    stays in the accuracy hook. The scale path for
    `heavy_hitters_words` remains: per-partition linear sketches merge
    by addition — O(partitions × sketch) shuffle, never O(vocabulary)
    (operators/sketches.py:merged_cms)."""
    from .operators.sketches import cms_estimate, merged_cms

    t = load_testdata(spark, sf_dir)
    words = t["documents"].select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    )
    exact_top = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("w"))
        .limit(10)
        .collect()
    )
    sketch, _ = merged_cms(words, "w")
    rows = []
    for r in exact_top:
        est = cms_estimate(sketch, r["w"])
        rows.append(
            (
                r["w"],
                r["exact_count"],
                est >= r["exact_count"],
                est <= 1.2 * r["exact_count"] + 10,
            )
        )
    return local_frame(
        spark,
        rows,
        "w string, exact_count long, never_undercounts boolean, "
        "within_loose_bound boolean",
    )


@register(
    "events_funnel_stages",
    """
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS stage_view,
           CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS stage_click,
           CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS stage_purchase
    FROM (
        SELECT user_id, t_view, t_click, t_purchase
        FROM (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
            FROM events GROUP BY user_id) v
        LEFT JOIN (
            SELECT user_id, t_view AS tv2,
                   min(CASE WHEN event_type = 'click' AND ts > t_view
                            THEN ts END) AS t_click
            FROM events JOIN (
                SELECT user_id AS u2,
                       min(CASE WHEN event_type = 'view' THEN ts END)
                           AS t_view
                FROM events GROUP BY user_id) ON user_id = u2
            GROUP BY user_id, t_view) c USING (user_id)
        LEFT JOIN (
            SELECT user_id,
                   min(CASE WHEN event_type = 'purchase' AND ts > t_click
                            THEN ts END) AS t_purchase
            FROM events JOIN (
                SELECT user_id AS u3,
                       min(CASE WHEN e2.event_type = 'click'
                                AND e2.ts > t_view THEN e2.ts END) AS t_click
                FROM events e2 JOIN (
                    SELECT user_id AS u2,
                           min(CASE WHEN event_type = 'view' THEN ts END)
                               AS t_view
                    FROM events GROUP BY user_id) ON e2.user_id = u2
                GROUP BY e2.user_id) ON user_id = u3
            GROUP BY user_id) p USING (user_id))
    """,
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click after view → purchase after click):
    how many users reach each stage. ONE aggregation pass: per-user
    earliest view via min(when), then earliest qualifying click/
    purchase via min-over-window conditions — expressed as a single
    groupBy with conditional aggregates over per-user first-times (the
    oracle spells the same thing as three self-joins; Spark computes it
    in one shuffle on user_id with no self-join at all)."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"].select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    tv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    with_tv = ev.withColumn("t_view", tv)
    tc = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    with_tc = with_tv.withColumn("t_click", tc)
    tp = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        with_tc.withColumn("t_purchase", tp)
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.first("t_purchase").alias("t_purchase"),
        )
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("int"))
        .cast("bigint")
        .alias("stage_view"),
        F.sum(F.col("t_click").isNotNull().cast("int"))
        .cast("bigint")
        .alias("stage_click"),
        F.sum(F.col("t_purchase").isNotNull().cast("int"))
        .cast("bigint")
        .alias("stage_purchase"),
    )


@register(
    "events_type_sequences",
    """
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS type_seq,
           count(*) AS n_events
    FROM events
    WHERE event_id % 20 = 0
    GROUP BY user_id
    """,
)
def events_type_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type path (the session-path mining
    primitive): collect structs of (ts, event_id, type), array_sort on
    the total order, project the types, join with '>'. All native
    array functions — the sort happens inside the aggregate buffer,
    not as a window shuffle. Thinned to every 20th event to keep the
    path strings readable."""
    t = load_testdata(spark, sf_dir)
    return (
        t["events"]
        .filter(F.col("event_id") % 20 == 0)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("type_seq"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "profile_bool_aggs",
    """
    SELECT event_type,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 95) AS any_gt95,
           CAST(count(*) FILTER (value > 95) AS BIGINT) AS n_gt95
    FROM events
    GROUP BY event_type
    """,
)
def profile_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any + FILTER counts): the assertion
    layer of a dq scan expressed natively — one partial-aggregable
    pass, no udf, no second scan."""
    t = load_testdata(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.every(F.col("value") >= 0).alias("all_nonneg"),
            F.some(F.col("value") > 95).alias("any_gt95"),
            F.count_if(F.col("value") > 95).alias("n_gt95"),
        )
    )


@register(
    "curation_pipeline_rows",
    f"""
    WITH gated AS (
        SELECT doc_id, lang, text,
               md5({_DUCK_NORM.format(c="text")}) AS fp
        FROM (
            SELECT doc_id, lang, text,
                   len(words) AS wc,
                   length(regexp_replace(txt, '\\s+', '', 'g')) AS nonspace,
                   length(regexp_replace(txt, '[a-z0-9\\s]', '', 'g'))
                       AS symbols,
                   len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
                       AS alpha_words
            FROM (SELECT doc_id, lang, text, lower(trim(text)) AS txt,
                         regexp_split_to_array(lower(trim(text)), '\\s+')
                             AS words
                  FROM documents))
        WHERE (wc BETWEEN 5 AND 1000)
          AND (nonspace * 1.0 / wc BETWEEN 3 AND 10)
          AND (symbols * 1.0 / greatest(length(trim(text)), 1) < 0.1)
          AND (alpha_words * 1.0 / wc >= 0.8)),
    deduped AS (
        SELECT doc_id, lang, text
        FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
                  AS rn
              FROM gated)
        WHERE rn = 1)
    SELECT lang,
           CASE WHEN {_DUCK_BUCKET.format(k="doc_id")} < 1000
                THEN 'eval' ELSE 'train' END AS split,
           count(*) AS n_docs,
           CAST(sum({_DUCK_BPE.format(c="text")}) AS BIGINT) AS total_tokens
    FROM deduped
    GROUP BY lang, split
    """,
)
def curation_pipeline_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation flagship: quality gate → exact dedup →
    leak-proof split → token accounting, composed as ONE declarative
    plan (the training-data sibling of `pipeline_rows`):

    1. `gopher_pass` filter — scan-level projection, pushes into the
       read; rejected docs never leave the scan;
    2. exact dedup on the md5 fingerprint, keeping the SMALLEST doc_id
       per group (row_number, not dropDuplicates — deterministic under
       any partitioning);
    3. md5-keyed train/eval split — a pure function of the key, so
       re-runs and incremental loads can never leak a doc across the
       boundary;
    4. per-(lang, split) doc and BPE-token totals — the numbers a
       tokenizer-budget plan is made from.

    One shuffle for the dedup window, one for the final aggregate; at
    100 TB both hash on high-cardinality keys (fingerprint, then
    lang×split via partial agg)."""
    from .functions.text import bpe_token_count, doc_fingerprint, gopher_pass
    from .operators.sampling import split_of

    t = load_testdata(spark, sf_dir)
    gated = (
        t["documents"]
        .filter(gopher_pass(F.col("text")))
        .select(
            "doc_id", "lang", "text", doc_fingerprint(F.col("text")).alias("fp")
        )
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )
    return (
        deduped.withColumn("split", split_of(F.col("doc_id"), eval_fraction=0.10))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(bpe_token_count(F.col("text"))).alias("total_tokens"),
        )
    )


@register(
    "curation_full_pipeline",
    f"""
    WITH gate AS (
        SELECT doc_id, lang, source,
               {_DUCK_NORM.format(c="text")} AS nt
        FROM (
            SELECT doc_id, lang, source, text,
                   len(words) AS wc,
                   length(regexp_replace(txt, '\\s+', '', 'g')) AS nonspace,
                   length(regexp_replace(txt, '[a-z0-9\\s]', '', 'g'))
                       AS symbols,
                   len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
                       AS alpha_words
            FROM (SELECT doc_id, lang, source, text,
                         lower(trim(text)) AS txt,
                         regexp_split_to_array(lower(trim(text)), '\\s+')
                             AS words
                  FROM documents))
        WHERE (wc BETWEEN 5 AND 1000)
          AND (nonspace * 1.0 / wc BETWEEN 3 AND 10)
          AND (symbols * 1.0 / greatest(length(trim(text)), 1) < 0.1)
          AND (alpha_words * 1.0 / wc >= 0.8)),
    ded AS (
        SELECT doc_id, lang, source, nt
        FROM (SELECT *, row_number() OVER (PARTITION BY md5(nt)
                                           ORDER BY doc_id) AS rn
              FROM gate)
        WHERE rn = 1),
    w AS (SELECT doc_id, lang, source, string_split(nt, ' ') AS words
          FROM ded),
    pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               md5(array_to_string(words[i:i+7], ' ')) AS fp
        FROM w, LATERAL unnest(range(1, len(words) - 6)) AS t(i)
        WHERE len(words) >= 8),
    red AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   count(*) OVER (PARTITION BY fp) AS c,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id, i)
                       AS rk
            FROM pos
        ) WHERE c >= 2 AND rk > 1),
    brk AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM red),
    isl AS (
        SELECT doc_id, i,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM brk),
    sp AS (SELECT doc_id, island, min(i) AS s, max(i) + 7 AS e
           FROM isl GROUP BY 1, 2),
    sl AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS spans
           FROM sp GROUP BY 1),
    ct AS (
        SELECT doc_id, lang, source, kept, len(kept) AS n_tokens,
               CASE WHEN {_DUCK_BUCKET.format(k="doc_id")} < 1000
                    THEN 'eval' ELSE 'train' END AS split
        FROM (
            SELECT w.doc_id, lang, source,
                   CASE WHEN spans IS NULL THEN words
                        ELSE list_filter(words, (x, i) ->
                            len(list_filter(spans,
                                s2 -> s2.s <= i AND i <= s2.e)) = 0)
                   END AS kept
            FROM w LEFT JOIN sl ON w.doc_id = sl.doc_id)
        WHERE len(kept) >= 5),
    ev AS (
        SELECT DISTINCT unnest(shingles) AS s FROM (
            SELECT list_distinct(list_transform(range(1, len(kept) - 1),
                       i -> array_to_string(list_slice(kept, i, i + 2), ' ')))
                   AS shingles
            FROM ct WHERE split = 'eval' AND len(kept) >= 3)),
    trs AS (
        SELECT doc_id, unnest(shingles) AS s FROM (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(kept) - 1),
                       i -> array_to_string(list_slice(kept, i, i + 2), ' ')))
                   AS shingles
            FROM ct WHERE split = 'train' AND len(kept) >= 3)),
    contam AS (
        SELECT doc_id FROM (
            SELECT trs.doc_id, count(*) AS n
            FROM trs JOIN ev USING (s) GROUP BY 1
        ) WHERE n >= 3),
    surv AS (
        SELECT * FROM ct
        WHERE split = 'train'
          AND doc_id NOT IN (SELECT doc_id FROM contam)),
    dd AS (SELECT doc_id, lang = 'en' AS tgt, kept AS words FROM surv),
    f AS (
        SELECT doc_id, tgt, unnest(words) AS feat FROM dd
        UNION ALL
        SELECT doc_id, tgt, words[i] || ' ' || words[i + 1] AS feat
        FROM dd, LATERAL unnest(range(1, len(words))) AS t(i)
        WHERE len(words) >= 2),
    pb AS (
        SELECT doc_id, tgt,
               CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT) % 1024 AS bkt,
               count(*) AS n
        FROM f GROUP BY 1, 2, 3),
    s2 AS (
        SELECT bkt, sum(n) AS raw_n,
               coalesce(sum(n) FILTER (tgt), 0) AS tgt_n
        FROM pb GROUP BY 1),
    tot AS (SELECT sum(raw_n) AS t_raw, sum(tgt_n) AS t_tgt FROM s2),
    lr AS (
        SELECT bkt,
               ln((tgt_n + 1.0) / (t_tgt + 1024.0))
             - ln((raw_n + 1.0) / (t_raw + 1024.0)) AS lr
        FROM s2, tot),
    dw AS (SELECT doc_id, round(sum(n * lr), 4) AS lw
           FROM pb JOIN lr USING (bkt) GROUP BY 1),
    c2 AS (SELECT source, count(*) AS n_total FROM surv GROUP BY source),
    s3 AS (SELECT source, n_total,
                  CAST(floor(sqrt(n_total) * 1000 + 0.5) AS BIGINT) AS sq
           FROM c2),
    t3 AS (SELECT sum(n_total) AS nn, sum(sq) AS ss FROM s3),
    r3 AS (SELECT source,
                  least(1.0, 0.5 * (CAST(nn AS DOUBLE) * sq)
                                 / (CAST(ss AS DOUBLE) * n_total)) AS rate
           FROM s3, t3),
    samp AS (
        SELECT surv.doc_id, surv.lang, surv.n_tokens
        FROM surv JOIN r3 USING (source)
        WHERE {_DUCK_BUCKET.format(k="doc_id")}
              < CAST(floor(10000 * rate) AS BIGINT)),
    asg AS (
        SELECT lang, doc_id, n_tokens,
               floor((sum(n_tokens * 10) OVER (PARTITION BY lang
                          ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1)
                     / 5120) AS seq
        FROM samp)
    SELECT lang, count(*) AS n_docs,
           count(DISTINCT seq) AS n_seqs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CAST(round(coalesce(lw, 0) * 10000, 0) AS BIGINT))
                AS BIGINT) AS dsir_logw_q4
    FROM asg LEFT JOIN dw USING (doc_id)
    GROUP BY 1
    """,
)
def curation_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end training-data curation flagship (round-6 verdict
    #2): every published-method stage chained as one lazy plan — the
    query a 100 TB pretraining-corpus owner actually runs:

    1. Gopher quality gate (`gopher_pass` — scan-side projection);
    2. exact dedup (md5 fingerprint, smallest doc_id survives);
    3. ACTIVE span dedup (Lee et al. 2022 `remove_duplicate_spans_text`
       — duplicated 8-word runs cut, cleaned text flows on);
    4. post-cut length re-gate (>= 5 surviving words — span-cut can
       hollow a doc out);
    5. md5-keyed train/eval split + benchmark decontamination
       (train docs sharing >= 3 3-shingles with eval are dropped;
       eval shingle set broadcast);
    6. DSIR importance weights over the survivors (Xie et al. 2023,
       target = lang='en');
    7. alpha=0.5 temperature mixture over sources (~50% kept);
    8. token-budget packing into 512-token sequences sharded by lang.

    Output: per-lang doc/sequence/token totals plus the summed DSIR
    log-weight quantized at 1e-4 (integer sum — engine-exact where a
    float sum is order-dependent). The two mid-pipeline persists are
    the multi-consumer rule: `clean` feeds train/eval/anti-join,
    `surv` feeds DSIR + mixture rates + the sample filter.

    Scale shape: raw text stops moving after stage 3 (span dedup
    shuffles md5 fingerprints, never documents); decontamination and
    mixture are broadcast joins; DSIR's explode collapses map-side;
    packing shuffles one narrow (lang, doc_id, n_tokens) row per doc.
    Cross-operator replay is what this entry exists to catch — the
    solo benches can't see it."""
    from .operators.dedup import decontaminate, remove_duplicate_spans_text
    from .operators.packing import assign_batches_cumsum
    from .operators.sampling import (
        dsir_importance_weights,
        split_of,
        temperature_mixture_sample,
    )
    from .functions.text import doc_fingerprint, gopher_pass

    t = load_testdata(spark, sf_dir)
    gated = (
        t["documents"]
        .filter(gopher_pass(F.col("text")))
        .select(
            "doc_id", "lang", "source", "text",
            doc_fingerprint(F.col("text")).alias("__fp"),
        )
    )
    wfp = Window.partitionBy("__fp").orderBy("doc_id")
    ded = (
        gated.withColumn("__rn", F.row_number().over(wfp))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )
    clean = (
        remove_duplicate_spans_text(ded, k=8)
        .filter(F.col("kept_words") >= 5)
        .withColumn("split", split_of(F.col("doc_id")))
        .persist()
    )
    train = clean.filter(F.col("split") == "train")
    evald = clean.filter(F.col("split") == "eval")
    contam = decontaminate(
        train, evald, text_col="clean_text", min_overlap=3
    )
    surv = train.join(contam.select("doc_id"), "doc_id", "left_anti").persist()
    dsir = dsir_importance_weights(
        surv, F.col("lang") == "en", text_col="clean_text"
    )
    sampled = temperature_mixture_sample(surv, "source", "doc_id", 0.5)
    packed = assign_batches_cumsum(
        sampled,
        order_col="doc_id",
        cost_col="kept_words",
        limit=512,
        shard_col="lang",
        batch_col="seq_id",
    )
    return (
        packed.join(dsir.select("doc_id", "log_weight"), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("seq_id").alias("n_seqs"),
            F.sum("kept_words").cast("long").alias("total_tokens"),
            F.sum(
                F.round(
                    F.coalesce(F.col("log_weight"), F.lit(0.0)) * 10000, 0
                ).cast("long")
            ).alias("dsir_logw_q4"),
        )
    )


@register(
    "ann_cosine_arrow",
    _DUCK_EMB_CTE
    + """
    , scored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               list_sum(list_transform(list_zip(q.emb, c.emb), x -> x[1] * x[2]))
               / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, round(cosine, 4) AS cosine_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
    WHERE rk <= 10
    """,
)
def ann_cosine_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_cosine_topk` on the Arrow fast path: mapInArrow turns each
    corpus batch into one numpy matrix and scores ALL queries in a
    single BLAS matmul, emitting only per-batch top-k candidates
    (operators/similarity.py:cosine_topk_arrow). Same oracle as the
    brute-force twin — identical results, ~2x faster warm at sf0.1 and
    widening with corpus size (the expression interpreter touches every
    float; the matmul doesn't)."""
    from .operators.similarity import cosine_topk_arrow

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    out = cosine_topk_arrow(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine_r")
    )


@register(
    "agg_hll_mergeable",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                AS BIGINT) AS exact_distinct,
           TRUE AS direct_within_bound,
           TRUE AS merged_within_bound
    FROM documents
    GROUP BY lang
    """,
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts via Datasketches HLL, promoted
    from rows-only to a BOUNDED-ERROR oracle (round-6 verdict #4
    pattern): sketch internals are engine-specific, but the
    re-aggregation CONTRACT is not. Per language the query emits the
    exact distinct fingerprint count (a genuine value check against
    DuckDB) plus two booleans: the DIRECT whole-group sketch estimate
    and the MERGED estimate (per-source sketches → hll_union_agg — the
    continuous-aggregate path that re-aggregates to any grouping
    without rescanning history, unlike count(DISTINCT)) both within 5%
    of exact — 3 sigma of lgConfigK=12's ~1.6% rse, the same bound the
    merge-law pytest pins. Spark's HLL is deterministic for fixed
    data, so a violation is a hard hash-FAIL, not flake. At 100 TB
    drop the exact column and persist the sketches with the rollup."""
    from .functions.text import doc_fingerprint

    t = load_testdata(spark, sf_dir)
    docs = t["documents"].select(
        "lang", "source", doc_fingerprint(F.col("text")).alias("fp")
    )
    merged = (
        docs.groupBy("lang", "source")
        .agg(F.hll_sketch_agg("fp").alias("sk"), F.count(F.lit(1)).alias("n"))
        .groupBy("lang")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__m"),
            F.sum("n").alias("n_docs"),
        )
    )
    direct = docs.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("fp")).alias("__d"),
        F.countDistinct("fp").alias("exact_distinct"),
    )
    bound = F.greatest(F.lit(2.0), F.col("exact_distinct") * 0.05)
    return (
        merged.join(direct, "lang")
        .select(
            "lang",
            "n_docs",
            "exact_distinct",
            (F.abs(F.col("__d") - F.col("exact_distinct")) <= bound).alias(
                "direct_within_bound"
            ),
            (F.abs(F.col("__m") - F.col("exact_distinct")) <= bound).alias(
                "merged_within_bound"
            ),
        )
    )


@register(
    "folder_status_taxonomy",
    _PACK_SQL_BASE
    + """
    , per_batch AS (
        SELECT lang AS source, batch_id, count(*) AS n_rows_b,
               (CAST('0x' || substr(md5('fault|' || batch_id), 1, 8)
                     AS BIGINT) % 5) AS fb
        FROM assigned GROUP BY 1, 2
    )
    SELECT source,
           CASE fb WHEN 0 THEN 'timeout' WHEN 1 THEN 'api_error'
                   WHEN 2 THEN 'download_failed'
                   ELSE 'completed' END AS status,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(n_rows_b) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN fb >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_content
    FROM per_batch GROUP BY 1, 2
    """,
)
def folder_status_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7: the folder orchestrator's per-source status taxonomy under
    injected lifecycle faults (reference classifies each run as
    completed / timeout / api_error and the ledger adds download_failed,
    batch_auto_translate.py:146-186, BATCH_TRACKING_GUIDE.md:169-182).

    The full lifecycle path runs for real — pack (lang = the per-file
    shard), materialize requests, translate through the fault-injecting
    map (translate.py:translate_requests_with_faults; deterministic md5
    bucket per batch, mock UDF actually executes for completed batches)
    — then the taxonomy is a per-(source, status) rollup of batch and
    row counts. The oracle recomputes the same md5 bucketing in SQL."""
    from .operators.packing import materialize_requests
    from .translate import translate_requests_with_faults

    t = load_testdata(spark, sf_dir)
    docs = (
        t["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.trim("text").alias("sentence"),
            F.col("lang").alias("shard"),
        )
    )
    # persist() is load-bearing (same staging pattern as pipeline_rows):
    # `assigned` feeds BOTH the request build and the per-batch row
    # counts; without it Catalyst duplicates the scan + pack window into
    # each join branch — the kind of silent 2x that matters at 100 TB.
    assigned = assign_batches_cumsum(
        with_cost(docs, "sentence"), order_col="doc_id", limit=4000,
        shard_col="shard",
    ).persist()
    requests = materialize_requests(
        assigned, id_col="doc_id", text_col="sentence"
    )
    responses = translate_requests_with_faults(requests)
    per_batch = assigned.groupBy("shard", "batch_id").agg(
        F.count("*").alias("n_rows_b")
    )
    # content presence rides along so the translate UDF is genuinely in
    # the executed plan (status alone would let Catalyst prune the call);
    # it also asserts end-to-end that faulted batches emit NO content.
    statuses = responses.select(
        F.col("custom_id").alias("batch_id"),
        "status",
        F.col("content").isNotNull().cast("int").alias("has_content"),
    )
    return (
        per_batch.join(statuses, "batch_id")
        .groupBy(F.col("shard").alias("source"), "status")
        .agg(
            F.count("*").cast("long").alias("n_batches"),
            F.sum("n_rows_b").cast("long").alias("n_rows"),
            F.sum("has_content").cast("long").alias("n_with_content"),
        )
    )


@register(
    "decontaminate_train_eval",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(words) - 1), i ->
                   array_to_string(list_slice(words, i, i + 2), ' ')))
                   AS shingles
        FROM w WHERE len(words) >= 3
    ), ev AS (
        SELECT DISTINCT unnest(shingles) AS s FROM sh
        WHERE {_DUCK_BUCKET.format(k="doc_id")} < 1000
    ), tr AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
        WHERE {_DUCK_BUCKET.format(k="doc_id")} >= 1000
    )
    SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM tr JOIN ev ON tr.s = ev.s
    GROUP BY tr.doc_id
    HAVING count(*) >= 3
    """,
)
def decontaminate_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the leak-proof split: training
    docs sharing >= 3 distinct 3-word shingles with any eval doc
    (operators/dedup.py:decontaminate — eval shingle set broadcast, so
    the train corpus never shuffles on shingles). The same md5-keyed
    split as sample_train_eval_split defines the two sides, so the
    operator composes with the curation pipeline."""
    from .operators.dedup import decontaminate
    from .operators.sampling import split_of

    t = load_testdata(spark, sf_dir)
    docs = t["documents"].withColumn("split", split_of(F.col("doc_id")))
    return decontaminate(
        docs.filter(F.col("split") == "train"),
        docs.filter(F.col("split") == "eval"),
        min_overlap=3,
    )


@register(
    "dedup_canonical_survivors",
    _DUCK_SHINGLE_CTE.replace("WITH d AS", "WITH RECURSIVE d AS", 1)
    + """
""" + _DUCK_AFFINE_SIG16 + """, banded AS (
        SELECT doc_id, b.band,
               array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4),
                               '|') AS bucket
        FROM sig, (SELECT unnest(range(0, 4)) AS band) b
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(node, label) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v
    ), comp AS (
        SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
    ), labeled AS (
        SELECT doc.doc_id, coalesce(comp.component, doc.doc_id) AS component,
               doc.n_chars
        FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.doc_id
    )
    SELECT doc_id, component,
           row_number() OVER (PARTITION BY component
                              ORDER BY n_chars DESC, doc_id) = 1
               AS is_canonical
    FROM labeled
    """,
)
def dedup_canonical_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship end-to-end: MinHash/LSH candidate pairs →
    connected components → one canonical doc per cluster elected by
    (n_chars DESC, doc_id) — keep-the-most-complete-duplicate
    (operators/dedup.py:canonical_survivors). The oracle replays pair
    generation, closes clusters with a recursive transitive-closure CTE,
    and re-runs the same election window."""
    from .operators.dedup import canonical_survivors, minhash_lsh_candidates

    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    pairs = minhash_lsh_candidates(
        docs, text_col="text", id_col="doc_id", num_hashes=16, bands=4, k=3
    ).persist()
    return canonical_survivors(docs, pairs)


def _mmr_oracle_sql(k: int = 10, fetch_k: int = 40, lam: float = 0.7) -> str:
    """MMR greedy selection replayed in SQL by UNROLLING the k steps
    as chained CTEs (greedy-order contract, round-7 verdict #6): step
    t scores every not-yet-selected candidate as
    lambda*cos(q,d) - (1-lambda)*max(cos(d, selected)) and picks the
    row_number-1 row (score desc, id asc — the operator's exact
    tie-break). k is a fixed query parameter, so the unrolled chain
    is static SQL, no recursion needed. Candidate cosines and the
    pairwise sims both come from the same exact-dot CTEs the
    hash-green brute-force oracle uses."""
    # Every pool/sel is MATERIALIZED: pool{t} references pool{t-1}
    # multiple times, and un-materialized CTE inlining would expand
    # the chain exponentially (measured as a file-handle blowup on
    # the base views at k=10).
    steps = []
    for t in range(2, k + 1):
        steps.append(f"""
    , sel{t} AS MATERIALIZED (
        SELECT query_id, vec_id, cosine, {t} AS mmr_rank FROM (
            SELECT c.query_id, c.vec_id, c.cosine,
                   -- greatest(..., 0): the operator's max_sim buffer
                   -- starts at zeros, so anti-similar candidates get
                   -- a 0 penalty, never a diversity BONUS
                   {lam!r} * c.cosine
                   - {1.0 - lam!r} * greatest(max(p.sim), 0) AS mmr
            FROM cand c
            JOIN psim p ON p.query_id = c.query_id AND p.va = c.vec_id
            JOIN pool{t - 1} s
              ON s.query_id = p.query_id AND s.vec_id = p.vb
            WHERE NOT EXISTS (
                SELECT 1 FROM pool{t - 1} x
                WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
            GROUP BY c.query_id, c.vec_id, c.cosine
        ) QUALIFY row_number() OVER (PARTITION BY query_id
                                     ORDER BY mmr DESC, vec_id) = 1
    ), pool{t} AS MATERIALIZED (
        SELECT * FROM pool{t - 1} UNION ALL SELECT * FROM sel{t}
    )""")
    return (
        _DUCK_EMB_CTE.replace("WITH e AS (", "WITH e AS MATERIALIZED (")
        .replace(", n AS (", ", n AS MATERIALIZED (")
        + f"""
    , cand AS MATERIALIZED (
        SELECT query_id, vec_id, cosine FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   list_sum(list_transform(list_zip(q.emb, c.emb),
                                           x -> x[1] * x[2]))
                   / (q.nrm * c.nrm) AS cosine
            FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
        ) QUALIFY row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) <= {fetch_k}
    ), psim AS MATERIALIZED (
        -- Zero-norm guard mirrors the operator exactly (mmr_rerank's
        -- pairwise path does norms[norms == 0.0] = 1.0 before V/norms;
        -- an unguarded division would yield NULL/Inf sims here where
        -- the operator computes a finite 0 penalty). The cand CTE stays
        -- unguarded on purpose: candidate cosines come from
        -- cosine_topk_bruteforce, which does not guard either.
        SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
               list_sum(list_transform(list_zip(na.emb, nb.emb),
                                       x -> x[1] * x[2]))
               / ((CASE WHEN na.nrm = 0 THEN 1.0 ELSE na.nrm END)
                  * (CASE WHEN nb.nrm = 0 THEN 1.0 ELSE nb.nrm END)) AS sim
        FROM cand a
        JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
        JOIN n na ON na.vec_id = a.vec_id
        JOIN n nb ON nb.vec_id = b.vec_id
    ), pool1 AS MATERIALIZED (
        SELECT query_id, vec_id, cosine, 1 AS mmr_rank
        FROM cand QUALIFY row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC, vec_id) = 1
    )"""
        + "".join(steps)
        + f"""
    SELECT query_id, vec_id, round(cosine, 4) AS cosine_r,
           CAST(mmr_rank AS INTEGER) AS mmr_rank
    FROM pool{k}
    """
    )


@register("ann_mmr_diversified", _mmr_oracle_sql())
def ann_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k, promoted from rows-only to a FULL
    oracle (round-7 verdict #6): the greedy loop is iterative but k
    is fixed, so the oracle unrolls the k selection steps as chained
    CTEs with the operator's exact scoring and tie-break — exact
    candidate cosines, exact pairwise sims, deterministic order. One
    numeric caveat, shared with every float oracle here: the
    pairwise sims are BLAS dots on the Spark side and list_sum on
    the oracle side, so a near-exact MMR score tie could in
    principle order differently — not observed at oracle SF."""
    from .operators.similarity import mmr_rerank

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    out = mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 5), k=10, fetch_k=40, lambda_=0.7
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine_r"), "mmr_rank"
    )


@register(
    "profile_approx_quantiles",
    """
    SELECT l_returnflag, count(*) AS n_rows,
           TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def profile_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped approximate quantiles via Spark's native
    percentile_approx (Greenwald-Khanna sketch), promoted from
    rows-only to a BOUNDED-ERROR oracle (round-6 verdict #4): the
    sketch values are engine-specific, but the GK rank guarantee is a
    hard contract — with accuracy=10000 the returned value's rank is
    within n/10000 of the target, so it must land between the EXACT
    interpolated quantiles at q +/- 0.001 (10x the guarantee, the same
    rank-window predicate the former pytest-only hook enforced). The
    query emits that verdict per group plus the row count (a genuine
    value check); GK is deterministic for a fixed dataset, so a bound
    violation is a hard hash-FAIL, not flake. Both sketch and exact
    bounds ride ONE aggregation pass (the exact percentile's per-group
    sort is the verification cost — production callers use the sketch
    alone, which merges map-side with no sort)."""
    t = load_testdata(spark, sf_dir)
    qs = [0.5, 0.95, 0.99]
    lo = [q - 0.001 for q in qs]
    hi = [q + 0.001 for q in qs]
    agged = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", qs, 10000).alias("ap"),
            F.expr(
                f"percentile(l_extendedprice, array({','.join(map(str, lo))}))"
            ).alias("lo"),
            F.expr(
                f"percentile(l_extendedprice, array({','.join(map(str, hi))}))"
            ).alias("hi"),
            F.count("*").alias("n_rows"),
        )
    )
    def _ok(i: int):
        v = F.element_at("ap", i)
        return (F.element_at("lo", i) <= v) & (v <= F.element_at("hi", i))
    return agged.select(
        "l_returnflag",
        "n_rows",
        _ok(1).alias("p50_ok"),
        _ok(2).alias("p95_ok"),
        _ok(3).alias("p99_ok"),
    )


@register(
    "sample_weighted_by_length",
    f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {_DUCK_BUCKET.format(k="doc_id")}
          < CAST(floor(10000 * least(1.0, greatest(0.0,
                n_chars / 500.0))) AS BIGINT)
    """,
)
def sample_weighted_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling — keep probability proportional
    to document length, capped at 1 (operators/sampling.py:
    weighted_hash_sample). The data-mixing primitive: p is a pure
    function of (key, weight), so re-runs and engines agree row-for-row
    and the sample composes with incremental loads."""
    from .operators.sampling import weighted_hash_sample

    t = load_testdata(spark, sf_dir)
    docs = t["documents"].select("doc_id", "lang", "n_chars")
    return weighted_hash_sample(
        docs, "doc_id", F.col("n_chars") / F.lit(500.0)
    )


@register(
    "sample_mixture_shares",
    f"""
    WITH counts AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), shares(lang, share) AS (
        VALUES ('en', 0.5), ('zh', 0.3), ('de', 0.2)
    ), joined AS (
        SELECT c.lang, c.n, s.share FROM counts c JOIN shares s USING (lang)
    ), feas AS (
        SELECT min(n / share) AS t FROM joined
    ), rates AS (
        SELECT lang, least(1.0, (SELECT t FROM feas) * share / n) AS rate
        FROM joined
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE {_DUCK_BUCKET.format(k="d.doc_id")}
          < CAST(floor(10000 * r.rate) AS BIGINT)
    """,
)
def sample_mixture_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing sampler: the largest deterministic sample whose
    language composition hits 50/30/20 en/zh/de
    (operators/sampling.py:mixture_sample). Keep-rates derive from group
    counts and the feasibility bound; per-row decisions are the same md5
    key hash as every other sampler, so mixes compose and replay."""
    from .operators.sampling import mixture_sample

    t = load_testdata(spark, sf_dir)
    docs = t["documents"].select("doc_id", "lang")
    return mixture_sample(
        docs, "lang", "doc_id", {"en": 0.5, "zh": 0.3, "de": 0.2}
    )


@register(
    "text_chunk_windows",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), ix AS (
        SELECT doc_id, words, len(words) AS n,
               unnest(range(0, greatest(0,
                   CAST(ceil((len(words) - 32) / 24.0) AS BIGINT)) + 1)) AS i
        FROM w
    )
    SELECT doc_id, i AS chunk_idx,
           array_to_string(list_slice(words, i * 24 + 1, i * 24 + 32), ' ')
               AS chunk_text,
           least(32, n - i * 24) AS n_tokens
    FROM ix
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (32-token chunks, stride 24 — 8
    tokens of overlap): the pre-tokenization step for context-bounded
    training and long-document embedding (operators/chunking.py:
    chunk_documents). Pure narrow plan — split/sequence/explode/slice,
    zero shuffles, zero Python — so it parallelizes with the scan at
    any corpus size."""
    from .operators.chunking import chunk_documents

    t = load_testdata(spark, sf_dir)
    return chunk_documents(
        t["documents"], text_col="text", id_col="doc_id",
        chunk_tokens=32, stride=24,
    )


@register(
    "dedup_segment_overlap",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), seg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(words) - 6), i ->
                   array_to_string(list_slice(words, i, i + 7), ' '))) AS s
        FROM w WHERE len(words) >= 8
    ), sf AS (
        SELECT s, count(DISTINCT doc_id) AS nd FROM seg GROUP BY s
    )
    SELECT doc_id,
           count(*) AS n_segments,
           count(*) FILTER (WHERE nd > 1) AS dup_segments,
           round(CAST(count(*) FILTER (WHERE nd > 1) AS DOUBLE)
                 / count(*), 4) AS dup_frac
    FROM seg JOIN sf USING (s)
    GROUP BY doc_id
    """,
)
def dedup_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-segment fraction: share of 8-token
    windows (every word offset) that occur in >= 2 distinct documents
    (operators/chunking.py:segment_dup_stats). The document-level
    signal behind substring dedup (Lee et al. 2021) and the
    duplicate-text-fraction gates in Gopher/RefinedWeb. Linear shapes
    only: segment-frequency HashAggregate + shuffle-hash join back +
    per-doc rollup (round 7: the window count became agg+join and the
    key became the segment md5 — the whole-stream window sort measured
    super-linear by sf100 and the raw-text key doubled the exchange) —
    a hot segment costs one frequency row, never a pair explosion."""
    from .operators.chunking import segment_dup_stats

    t = load_testdata(spark, sf_dir)
    return segment_dup_stats(t["documents"], text_col="text", id_col="doc_id", k=8)


@register(
    "curation_pack_chunks",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), ix AS (
        SELECT doc_id, len(words) AS n,
               unnest(range(0, greatest(0,
                   CAST(ceil((len(words) - 32) / 24.0) AS BIGINT)) + 1)) AS i
        FROM w
    ), ch AS (
        SELECT doc_id, i AS chunk_idx, least(32, n - i * 24) AS n_tokens
        FROM ix
    ), cl AS (
        SELECT ch.doc_id, ch.chunk_idx, ch.n_tokens, d2.lang,
               ch.doc_id * 100 + ch.chunk_idx AS ord
        FROM ch JOIN documents d2 USING (doc_id)
    ), asg AS (
        SELECT lang, doc_id, n_tokens,
               lang || '-' || CAST(CAST(floor(
                   (sum(n_tokens) OVER (PARTITION BY lang ORDER BY ord
                                        ROWS UNBOUNDED PRECEDING) - 1e-9)
                   / 64) AS BIGINT) AS VARCHAR) AS seq_id
        FROM cl
    )
    SELECT seq_id, count(*) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT doc_id) AS n_docs
    FROM asg GROUP BY seq_id
    """,
)
def curation_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: sliding-window chunks (32/24) packed
    into 64-token sequences by the sharded prefix-sum packer — the
    chunk-level version of the reference's batch packer
    (auto_translate.py:278-301), i.e. the pretraining bin-packing step
    that turns variable-length chunks into fixed-budget sequences.
    Shards by language (each shard packs independently — the 100 TB
    contract from R-17); chunk order inside a shard is (doc_id,
    chunk_idx) encoded as doc_id*100+chunk_idx (documents here have
    < 100 chunks; at scale the order key would be a struct). Output is
    per-sequence occupancy stats."""
    from .operators.chunking import chunk_documents
    from .operators.packing import assign_batches_cumsum

    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    chunks = chunk_documents(
        docs, text_col="text", id_col="doc_id", chunk_tokens=32, stride=24
    )
    with_lang = chunks.join(docs.select("doc_id", "lang"), "doc_id").withColumn(
        "ord", F.col("doc_id") * 100 + F.col("chunk_idx")
    )
    packed = assign_batches_cumsum(
        with_lang,
        order_col="ord",
        cost_col="n_tokens",
        limit=64,
        shard_col="lang",
        batch_col="seq_id",
    )
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count_distinct(F.col("doc_id")).alias("n_docs"),
    )


@register(
    "text_unigram_surprisal",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS word FROM d
    ), pairs AS (
        SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2
    ), wf AS (
        SELECT doc_id, word, n,
               CAST(sum(n) OVER (PARTITION BY word) AS DOUBLE) AS wc,
               CAST(sum(n) OVER () AS DOUBLE) AS total
        FROM pairs
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_words,
           round(sum(n * -ln(wc / total)) / sum(n), 4) AS avg_surprisal
    FROM wf GROUP BY doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score, unigram form: per-document mean
    -ln p(word) under the corpus unigram distribution
    (operators/lm.py:unigram_surprisal). Low = boilerplate, high = rare
    vocabulary/noise; both tails gate. Round 9: the checkpointed
    word-count table broadcasts into the pairs join under a vocabulary
    size gate, so the per-doc side pays exactly one exchange
    end-to-end (the explicit repartition); results unchanged."""
    from .operators.lm import unigram_surprisal

    t = load_testdata(spark, sf_dir)
    return unigram_surprisal(t["documents"], text_col="text", id_col="doc_id")


@register(
    "text_perplexity_buckets",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS word FROM d
    ), pairs AS (
        SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2
    ), wf AS (
        SELECT doc_id, word, n,
               CAST(sum(n) OVER (PARTITION BY word) AS DOUBLE) AS wc,
               CAST(sum(n) OVER () AS DOUBLE) AS total
        FROM pairs
    ), s AS (
        SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS n_words,
               round(sum(n * -ln(wc / total)) / sum(n), 4) AS avg_surprisal
        FROM wf GROUP BY doc_id
    ), rk AS (
        SELECT s.doc_id, s.n_words, s.avg_surprisal, doc.lang,
               row_number() OVER (PARTITION BY doc.lang
                                  ORDER BY s.avg_surprisal, s.doc_id) AS r,
               count(*) OVER (PARTITION BY doc.lang) AS nl
        FROM s JOIN documents doc USING (doc_id)
    )
    SELECT lang,
           CASE WHEN r * 3 <= nl THEN 'head'
                WHEN r * 3 <= 2 * nl THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(CAST(floor(avg_surprisal * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS surprisal_e4
    FROM rk GROUP BY 1, 2
    """,
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): per-language
    terciles of the LM quality score — head = lowest surprisal (closest
    to the LM), tail = noisiest; downstream mixes sample head-heavy.
    (Round 9: the underlying unigram surprisal broadcasts its
    checkpointed word-count table — see text_unigram_surprisal;
    results unchanged.)
    Stand-in LM is the corpus unigram distribution
    (operators/lm.py:unigram_surprisal); a trained KenLM drops into the
    same plan as a per-doc score column. Bucketing is an exact per-lang
    rank (row_number over (avg_surprisal, doc_id) — deterministic on
    ties) against integer tercile bounds. Round-7 profiling note: the
    per-lang rank window (parallelism bounded by n_langs) was
    suspected as this query's scale limit and rewritten through the
    parallel `with_global_index` — measured SLOWER at every decade
    (the rank is ~7% of the query at sf100; the surprisal explode is
    the cost, and the extra range-sampling/checkpoint machinery only
    added to it), so the simple window stays. When n_langs stops
    bounding parallelism acceptably, the documented 100 TB swap is
    approx-quantile thresholds broadcast back — same output contract,
    no corpus rank at all. Per-doc surprisal is quantized to integer
    1e-4 units before summing so the rollup is exact BIGINT
    arithmetic cross-engine."""
    from .operators.lm import unigram_surprisal

    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    s = unigram_surprisal(docs, text_col="text", id_col="doc_id")
    j = s.join(docs.select("doc_id", "lang"), "doc_id")
    wl = Window.partitionBy("lang")
    rk = j.withColumn(
        "r",
        F.row_number().over(wl.orderBy("avg_surprisal", "doc_id")),
    ).withColumn("nl", F.count(F.lit(1)).over(wl))
    bucket = (
        F.when(F.col("r") * 3 <= F.col("nl"), F.lit("head"))
        .when(F.col("r") * 3 <= 2 * F.col("nl"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        rk.withColumn("ppl_bucket", bucket)
        .groupBy("lang", "ppl_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum(
                F.floor(F.col("avg_surprisal") * 10000 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).cast("bigint").alias("surprisal_e4"),
        )
    )


@register(
    "embedding_label_outliers",
    """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        FROM embeddings
    ), u AS (
        SELECT vec_id, label, unnest(emb) AS v,
               unnest(generate_series(1, len(emb))) AS pos
        FROM e
    ), c AS (
        SELECT label, pos, avg(v) AS cv FROM u GROUP BY 1, 2
    ), d AS (
        SELECT u.vec_id, u.label,
               sum(u.v * c.cv) AS dot,
               sqrt(sum(u.v * u.v)) AS ne,
               sqrt(sum(c.cv * c.cv)) AS nc
        FROM u JOIN c USING (label, pos) GROUP BY 1, 2
    ), s AS (
        SELECT vec_id, label, dot / (ne * nc) AS cos FROM d
    )
    SELECT vec_id, label, round(cos, 4) AS cosine_c,
           (row_number() OVER (PARTITION BY label ORDER BY cos, vec_id)) <= 5
               AS is_outlier
    FROM s
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality gate: cosine of each vector to its label's
    centroid, bottom-5 per label flagged as outliers (mislabeled /
    mis-embedded candidates) — operators/similarity.py:
    label_centroid_outliers. Centroids from a map-side-collapsed
    posexplode, broadcast back; cosine is native zip_with/aggregate."""
    from .operators.similarity import label_centroid_outliers

    t = load_testdata(spark, sf_dir)
    return label_centroid_outliers(t["embeddings"], k_outliers=5)


@register(
    "text_split_drift",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT CASE WHEN {_DUCK_BUCKET.format(k="doc_id")} < 1000
                    THEN 'eval' ELSE 'train' END AS split,
               unnest(string_split(nt, ' ')) AS word
        FROM d
    ), v AS (
        SELECT word,
               count(*) FILTER (WHERE split = 'train') AS n_train,
               count(*) FILTER (WHERE split = 'eval') AS n_eval
        FROM w GROUP BY word
    ), t AS (
        SELECT CAST(sum(n_train) AS DOUBLE) AS t_tr,
               CAST(sum(n_eval) AS DOUBLE) AS t_ev,
               CAST(count(*) AS DOUBLE) AS vs
        FROM v
    ), s AS (
        SELECT word, n_train, n_eval,
               (n_train + 1) / (t_tr + vs) AS p_tr,
               (n_eval + 1) / (t_ev + vs) AS p_ev
        FROM v, t
    ), j AS (
        SELECT word, n_train, n_eval,
               (p_tr * ln(p_tr / ((p_tr + p_ev) / 2))
                + p_ev * ln(p_ev / ((p_tr + p_ev) / 2))) / 2 AS js
        FROM s
    )
    SELECT word, n_train, n_eval, round(js, 6) AS js_term
    FROM j
    ORDER BY js DESC, word
    LIMIT 20
    """,
)
def text_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-skew diagnostic: top-20 words by contribution to the
    Jensen-Shannon divergence between the splits' add-one-smoothed
    unigram distributions (symmetric — surfaces words over-represented
    in EITHER split), split derived from the same md5 bucket as the
    samplers (operators/lm.py:split_word_drift). One scan,
    vocabulary-sized persisted counts, TakeOrdered top-k."""
    from .operators.lm import split_word_drift

    t = load_testdata(spark, sf_dir)
    return split_word_drift(t["documents"], eval_fraction=0.1, top_k=20)


@register(
    "text_collapse_repeats",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    )
    SELECT doc_id,
           array_to_string(
               list_filter(words, (x, i) -> i = 1 OR x <> words[i - 1]), ' ')
               AS clean_text,
           CAST(len(words)
                - len(list_filter(words, (x, i) -> i = 1 OR x <> words[i - 1]))
                AS BIGINT) AS n_removed
    FROM w
    """,
)
def text_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document stutter removal: collapse consecutive repeated
    words (functions/cleaning.py:collapse_word_repeats) and report how
    many tokens were dropped. Pure array expressions — a scan-speed
    cleanup stage with no shuffle and no Python."""
    from .functions.cleaning import collapse_word_repeats
    from .functions.text import normalized_text

    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    words = F.split(normalized_text(F.col("text")), " ")
    # n_removed from the lengths of the joined strings (words kept ==
    # spaces + 1), avoiding a second pass with the quadratic
    # indexed-lambda form (see collapse_word_repeats docstring).
    clean = collapse_word_repeats(F.col("text"))
    kept_n = F.size(F.split(clean, " "))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.size(words) - kept_n).cast("long").alias("n_removed"),
    )


# =========================================================================
# full-text search (operators/search.py)
# =========================================================================

_BM25_QUERIES = [
    (1, "spark query engine"),
    (2, "fast filter scan"),
    (3, "stream window join"),
    (4, "hash group batch"),
]


@register(
    "search_bm25_topk",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS word FROM d
    ), p AS (
        SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2
    ), stats AS (
        SELECT doc_id, word, tf,
               CAST(count(*) OVER (PARTITION BY word) AS DOUBLE) AS df,
               CAST(sum(tf) OVER (PARTITION BY doc_id) AS DOUBLE) AS dl
        FROM p
    ), corpus AS (
        SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
               CAST(sum(tf) AS DOUBLE) AS total_tokens
        FROM p
    ), q AS (
        SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS word
        FROM (VALUES (1, 'spark query engine'), (2, 'fast filter scan'),
                     (3, 'stream window join'), (4, 'hash group batch'))
             AS t(query_id, qtext)
    ), sc AS (
        SELECT q.query_id, s.doc_id,
               round(sum(
                   ln(1 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
                   * s.tf * 2.2
                   / (s.tf + 1.2 * (0.25 + 0.75 * s.dl
                                    / (c.total_tokens / c.n_docs)))
               ), 4) AS score
        FROM stats s JOIN q USING (word), corpus c
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
          FROM sc)
    WHERE rn <= 10
    """,
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval over the document store: BM25 top-10 per query
    (operators/search.py:bm25_topk). One corpus scan collapses to
    (word, doc, tf) postings; df/dl attach as postings windows; the
    4-query term set broadcasts against the postings; top-k is a
    per-query window. The corpus is never scanned per query."""
    from .operators.search import bm25_topk

    t = load_testdata(spark, sf_dir)
    return bm25_topk(spark, t["documents"], _BM25_QUERIES, k=10)


@register(
    "text_char_entropy",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), c AS (
        SELECT doc_id, length(nt) AS n, string_split(nt, '') AS chars FROM d
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars_norm,
           CAST(len(list_distinct(chars)) AS BIGINT) AS n_distinct_chars,
           round(CASE WHEN n = 0 THEN 0.0 ELSE
               -list_sum(list_transform(list_distinct(chars), x ->
                   (CAST(len(list_filter(chars, y -> y = x)) AS DOUBLE) / n)
                   * log2(CAST(len(list_filter(chars, y -> y = x)) AS DOUBLE)
                          / n)))
           END, 4) AS char_entropy
    FROM c
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal: Shannon bits/char of each
    document's normalized character distribution plus the distinct-char
    count, on the Arrow histogram kernel
    (operators/lm.py:char_stats_arrow — one numpy bincount per doc;
    the column-expression twin functions/text.py:char_entropy is
    pinned equal by test_char_stats_arrow_matches_column_form). A
    zero-shuffle scan-level gate that catches degenerate/
    low-compressibility text the word-level rules miss."""
    from .operators.lm import char_stats_arrow

    t = load_testdata(spark, sf_dir)
    return char_stats_arrow(t["documents"], text_col="text", id_col="doc_id")


@register(
    "dedup_sorted_neighbors",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), b AS (
        SELECT doc_id, substring(nt, 1, 2) AS blk, substring(nt, 1, 30) AS k,
               list_distinct(string_split(nt, ' ')) AS words
        FROM d
    ), p AS (
        SELECT doc_id AS id_b, words,
               lag(doc_id) OVER w AS id_a,
               lag(words) OVER w AS prev_words
        FROM b
        WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id)
    )
    SELECT id_a, id_b,
           round(CAST(len(list_intersect(words, prev_words)) AS DOUBLE)
                 / len(list_distinct(list_concat(words, prev_words))), 4)
               AS jaccard
    FROM p
    WHERE id_a IS NOT NULL
      AND round(CAST(len(list_intersect(words, prev_words)) AS DOUBLE)
                / len(list_distinct(list_concat(words, prev_words))), 4)
          >= 0.3
    """,
)
def dedup_sorted_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates
    (operators/dedup.py:sorted_neighbor_pairs): block on the first 2
    normalized chars, order by the 30-char prefix key, compare each doc
    to its predecessor only — O(n) comparisons, one keyed shuffle, no
    shingling. Complements MinHash banding for the shared-prefix dup
    family."""
    from .operators.dedup import sorted_neighbor_pairs

    t = load_testdata(spark, sf_dir)
    return sorted_neighbor_pairs(t["documents"], threshold=0.3)


@register(
    "events_cohort_retention",
    """
    WITH f AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    ), l AS (
        SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
               CAST(floor(date_diff('day',
                   CAST(date_trunc('week', first_ts) AS DATE), d) / 7)
                   AS BIGINT) AS week_offset,
               user_id
        FROM f
    )
    SELECT cohort_week, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM l GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over the event stream
    (operators/windows.py:cohort_retention): first-touch week per user
    via a user-partition window (one keyed shuffle), then a map-side-
    collapsed distinct-user rollup per (cohort, offset)."""
    from .operators.windows import cohort_retention

    t = load_testdata(spark, sf_dir)
    return cohort_retention(t["events"])


@register(
    "profile_equidepth_histogram",
    """
    WITH r AS (
        SELECT l_extendedprice AS p,
               row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) - 1 AS idx,
               count(*) OVER () AS n
        FROM lineitem
    )
    SELECT CAST(floor(idx * 10.0 / n) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(p), 2) AS lo, round(max(p), 2) AS hi,
           -- integer-cents sum: float accumulation order diverges
           -- across engines at sf3 magnitudes (see operator)
           round(sum(cast(round(p * 100, 0) as bigint)) / 100.0, 2)
               AS sum_v
    FROM r GROUP BY 1
    """,
)
def profile_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10-bin equal-frequency histogram of l_extendedprice
    (operators/aggregates.py:equidepth_histogram). The oracle's global
    row_number() window is replaced by the range-exchange global index,
    so no single-task sort exists in the Spark plan."""
    from .operators.aggregates import equidepth_histogram

    t = load_testdata(spark, sf_dir)
    return equidepth_histogram(
        t["lineitem"], "l_extendedprice",
        ["l_orderkey", "l_linenumber"], bins=10,
    )


@register(
    "cdc_apply_changes",
    """
    WITH feed AS (
        SELECT user_id, ts, event_id, value, event_type,
               CASE WHEN event_type = 'signup' THEN 'I'
                    WHEN event_type = 'error' THEN 'D'
                    ELSE 'U' END AS op
        FROM events
    ), r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM feed
    )
    SELECT user_id, event_type AS last_type,
           round(value, 2) AS last_value, ts AS last_ts
    FROM r WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot materialization (operators/cdc.py:apply_changes):
    the event stream re-cast as a change feed (signup=insert,
    error=delete tombstone, else update) collapses to its latest-wins
    per-user snapshot — one keyed shuffle, tombstoned keys dropped."""
    from .operators.cdc import apply_changes

    t = load_testdata(spark, sf_dir)
    feed = t["events"].select(
        "user_id", "ts", "event_id", "value", "event_type",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    snap = apply_changes(
        feed, key_cols=["user_id"], seq_cols=["ts", "event_id"]
    )
    return snap.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "bloom_pruned_semi_join",
    """
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS total_r
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = 'AUTOMOBILE')
    """,
)
def bloom_pruned_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of AUTOMOBILE-segment customers via a bloom-pruned exact
    semi-join (operators/joins.py:bloom_semi_join): the segment's key
    bloom collapses to a one-row broadcast map, orders are pruned by k
    codegen map lookups before the exchange, then an exact left-semi
    join removes the bloom's false positives."""
    from .operators.joins import bloom_semi_join

    t = load_testdata(spark, sf_dir)
    seg = t["customer"].filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("o_custkey")
    )
    out = bloom_semi_join(t["orders"], seg, "o_custkey")
    return out.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_r")
    )


@register(
    "orc_roundtrip_profile",
    """
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1, 2
    """,
)
def orc_roundtrip_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format export fidelity: documents round-trip through an
    ORC table (sources/formats.py:write_read_roundtrip) and the profile
    aggregate runs on the ORC scan — the oracle aggregates the original
    parquet, so any loss/coercion in the ORC path breaks the hash.
    ORC scans keep parquet-equivalent pushdown and pruning."""
    from .sources.formats import write_read_roundtrip

    t = load_testdata(spark, sf_dir)
    back = write_read_roundtrip(
        spark,
        t["documents"].select("doc_id", "lang", "source", "n_chars"),
        "orc_roundtrip_docs",
        fmt="orc",
    )
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "stats_grouped_ols_trend",
    """
    SELECT event_type,
           round(regr_slope(value, x), 4) AS slope,
           round(regr_intercept(value, x), 4) AS intercept,
           round(regr_r2(value, x), 4) AS r2,
           CAST(count(*) AS BIGINT) AS n
    FROM (SELECT event_type, value,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                     / 86400000000.0 AS x
          FROM events) t
    GROUP BY 1
    """,
)
def stats_grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS drift fit of value against event time
    (operators/stats.py:grouped_ols): native regr_* moment aggregates,
    one map-side-combined shuffle of (groups) rows. The regressor is
    CENTERED (days since the stream epoch, not raw epoch seconds) —
    with x ~ 1.7e9 the intercept's cancellation error exceeds 1e-4 and
    engines disagree in the 4th decimal; centering makes the fit
    well-conditioned and bit-stable across engines."""
    from .operators.stats import grouped_ols

    t = load_testdata(spark, sf_dir)
    # Exact integer micros (not unix_timestamp, which truncates the
    # sub-second part the oracle's epoch keeps) -> identical x values.
    ev = t["events"].withColumn(
        "x",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.expr("unix_micros(TIMESTAMP '2024-01-01 00:00:00')")
        ).cast("double")
        / 86400000000.0,
    )
    return grouped_ols(ev, ["event_type"], "value", "x")


@register(
    "stats_mad_outliers",
    """
    WITH r AS (
        SELECT event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events
    ), med AS (
        SELECT event_type, avg(value) AS med FROM r
        WHERE rn = floor((cnt + 1) / 2) OR rn = floor(cnt / 2) + 1
        GROUP BY 1
    ), d AS (
        SELECT r.event_id, r.event_type, r.value, med.med,
               abs(r.value - med.med) AS dev
        FROM r JOIN med USING (event_type)
    ), r2 AS (
        SELECT *, row_number() OVER (
                   PARTITION BY event_type ORDER BY dev, value) AS drn,
               count(*) OVER (PARTITION BY event_type) AS dcnt
        FROM d
    ), mad AS (
        SELECT event_type, avg(dev) AS mad FROM r2
        WHERE drn = floor((dcnt + 1) / 2) OR drn = floor(dcnt / 2) + 1
        GROUP BY 1
    )
    SELECT d.event_id, d.event_type, round(d.value, 4) AS value_r,
           floor(0.6745 * (d.value - d.med)
                 / CASE WHEN mad.mad > 0 THEN mad.mad END
                 * 10000 + 0.5) / 10000 AS robust_z,
           CASE WHEN mad.mad > 0 THEN
               abs(floor(0.6745 * (d.value - d.med) / mad.mad
                         * 10000 + 0.5) / 10000) >= 3.5
           END AS is_outlier
    FROM d JOIN mad USING (event_type)
    """,
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier scores (operators/stats.py:mad_outliers):
    modified z-score from two RANK-BASED exact medians (explicit
    (a+b)/2 of the middle elements — built-in median() interpolation
    arithmetic differs by 1 ulp across engines, which flipped a
    4-decimal boundary on 1 row in a million at sf1). The outlier flag
    derives from the rounded z, so every output cell is a pure
    deterministic function of the input on both engines."""
    from .operators.stats import mad_outliers

    t = load_testdata(spark, sf_dir)
    out = mad_outliers(t["events"], ["event_type"], "value")
    return out.select(
        "event_id", "event_type",
        F.round("value", 4).alias("value_r"), "robust_z", "is_outlier",
    )


@register(
    "events_type_cooccurrence",
    """
    WITH b AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        FROM events
    )
    SELECT x.event_type AS item_a, y.event_type AS item_b,
           CAST(count(*) AS BIGINT) AS n_baskets
    FROM b x JOIN b y
      ON x.user_id = y.user_id AND x.d = y.d
     AND x.event_type < y.event_type
    GROUP BY 1, 2
    """,
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence of event types within
    (user, day) baskets (operators/aggregates.py:cooccurrence_pairs):
    distinct-collapse then a basket-keyed self-join, so cost per basket
    is bounded by its own item width — never corpus-quadratic."""
    from .operators.aggregates import cooccurrence_pairs

    t = load_testdata(spark, sf_dir)
    ev = t["events"].select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    )
    return cooccurrence_pairs(ev, ["user_id", "d"], "event_type")


# LSH candidate-pair fragment (same generation as dedup_components's
# oracle, minus the recursive closure) — the graph the graph-analytics
# entries run on.
_DUCK_LSH_PAIRS = _DUCK_SHINGLE_CTE + """
""" + _DUCK_AFFINE_SIG16 + """, banded AS (
        SELECT doc_id, b.band,
               array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4),
                               '|') AS bucket
        FROM sig, (SELECT unnest(range(0, 4)) AS band) b
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
"""


@register(
    "graph_pagerank_dup_hubs",
    _DUCK_LSH_PAIRS
    + """
    , edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ), deg AS (
        SELECT u, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY u
    ), nn AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM deg
    ), r0 AS (
        SELECT u AS node, 1.0 / nn.n AS r FROM deg, nn
    ), r1 AS (
        SELECT e.v AS node, 0.15 / nn.n + 0.85 * sum(r0.r / d.outdeg) AS r
        FROM edges e JOIN r0 ON r0.node = e.u JOIN deg d ON d.u = e.u, nn
        GROUP BY e.v, nn.n
    ), r2 AS (
        SELECT e.v AS node, 0.15 / nn.n + 0.85 * sum(r1.r / d.outdeg) AS r
        FROM edges e JOIN r1 ON r1.node = e.u JOIN deg d ON d.u = e.u, nn
        GROUP BY e.v, nn.n
    ), r3 AS (
        SELECT e.v AS node, 0.15 / nn.n + 0.85 * sum(r2.r / d.outdeg) AS r
        FROM edges e JOIN r2 ON r2.node = e.u JOIN deg d ON d.u = e.u, nn
        GROUP BY e.v, nn.n
    )
    SELECT node, round(r * nn.n, 4) AS pr_rel FROM r3, nn
    """,
)
def graph_pagerank_dup_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-hub scoring: 3-iteration PageRank over the
    symmetrized LSH candidate graph (operators/graph.py:pagerank).
    A node well above pr_rel 1.0 is copied by documents that are
    themselves widely copied — the template/boilerplate family. The
    oracle replays the identical power iteration in SQL."""
    from .operators.dedup import minhash_lsh_candidates
    from .operators.graph import pagerank

    t = load_testdata(spark, sf_dir)
    pairs = minhash_lsh_candidates(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=16, bands=4, k=3,
    ).persist()
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    return pagerank(edges, iterations=3)


@register(
    "graph_triangle_counts",
    _DUCK_LSH_PAIRS
    + """
    , tri AS (
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.id_a = e1.id_b
        JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ), corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY 1
    """,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clique-ness of each document's near-dup neighborhood: per-node
    triangle counts over the ordered LSH candidate edges
    (operators/graph.py:triangle_counts). Template families
    triangulate; chains of successive edits do not — the count
    separates the two failure modes."""
    from .operators.dedup import minhash_lsh_candidates
    from .operators.graph import triangle_counts

    t = load_testdata(spark, sf_dir)
    pairs = minhash_lsh_candidates(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=16, bands=4, k=3,
    ).persist()
    return triangle_counts(pairs)


@register(
    "embedding_int8_quantize",
    """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        FROM embeddings
    ), s AS (
        SELECT vec_id, emb,
               CASE WHEN list_max(list_transform(emb, v -> abs(v))) > 0
                    THEN list_max(list_transform(emb, v -> abs(v))) / 127.0
               END AS scale
        FROM e
    ), q AS (
        -- least/greatest ignore NULLs: gate on scale explicitly so a
        -- zero vector yields NULL qv, matching the Spark operator.
        -- sign*floor(abs+0.5), not round(): engine round() semantics
        -- diverge on x.5 ties (Spark HALF_UP vs DuckDB half-even) —
        -- both sides quantize with the same pure-IEEE expression.
        SELECT vec_id, emb, scale,
               CASE WHEN scale IS NOT NULL THEN
                   list_transform(emb, v -> CAST(greatest(-127, least(127,
                       CAST(sign(v) * floor(abs(v / scale) + 0.5)
                            AS INTEGER))) AS INTEGER))
               END AS qv
        FROM s
    )
    SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(qv, ',') AS q_str,
           round(list_sum(list_transform(range(1, len(emb) + 1), i ->
                     pow(emb[i] - qv[i] * scale, 2))) / len(emb), 6) AS mse
    FROM q
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization with reconstruction MSE
    (operators/embeddings.py:int8_quantize) — the 4x storage transform
    behind int8 retrieval, as pure codegen array lambdas: no shuffle,
    no Python. The int8 array serializes to a comma-joined string for
    the cross-engine hash (same convention as r19's id list)."""
    from .operators.embeddings import int8_quantize

    t = load_testdata(spark, sf_dir)
    out = int8_quantize(t["embeddings"])
    return out.select(
        "vec_id", "scale",
        F.array_join(F.col("q"), ",").alias("q_str"), "mse",
    )


@register(
    "text_bigram_surprisal",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), bg AS (
        SELECT doc_id,
               unnest(list_slice(words, 1, len(words) - 1)) AS w1,
               unnest(list_slice(words, 2, len(words))) AS w2
        FROM w WHERE len(words) >= 2
    ), p AS (
        SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3
    ), c AS (
        SELECT doc_id, n,
               CAST(sum(n) OVER (PARTITION BY w1, w2) AS DOUBLE) AS c12,
               CAST(sum(n) OVER (PARTITION BY w1) AS DOUBLE) AS c1
        FROM p
    )
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(sum(n * -ln(c12 / c1)) / sum(n), 4) AS avg_surprisal
    FROM c GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram LM quality score
    (operators/lm.py:bigram_surprisal): catches common-words-in-weird-
    order text that the unigram gate passes. Primitive xxhash64 bigram
    keys, c(w1) derived from the c(w1,w2) table, and ln p attached to
    the (Heaps-saturated, size-gate-broadcast) bigram-vocabulary table
    so the corpus stream joins once, on the fingerprint — never
    partitioned by the Zipf-hot head word — and, under the broadcast
    gate, never exchanges at all before the per-doc rollup."""
    from .operators.lm import bigram_surprisal

    t = load_testdata(spark, sf_dir)
    return bigram_surprisal(t["documents"])


@register(
    "stream_static_enrich",
    """
    SELECT e.event_id, e.user_id, e.event_type,
           coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
           round(e.value, 2) AS value_r
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment on the batch path
    (streaming/jobs.py:enrich_with_dimension): events left-join a
    BROADCAST customer dimension, unmatched users coalesce to
    'UNKNOWN' — the shuffle-free-per-micro-batch plan the streaming
    form requires; true-streaming execution covered in
    tests/test_streaming.py."""
    from .streaming.jobs import enrich_with_dimension

    t = load_testdata(spark, sf_dir)
    out = enrich_with_dimension(
        t["events"], t["customer"],
        event_key="user_id", dim_key="c_custkey",
        attrs={"c_mktsegment": "segment"},
    )
    return out.select(
        "event_id", "user_id", "event_type", "segment",
        F.round("value", 2).alias("value_r"),
    )


@register(
    "events_markov_transitions",
    """
    WITH p AS (
        SELECT event_type AS state,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_state
        FROM events
    ), m AS (
        SELECT state, next_state, count(*) AS n_pairs
        FROM p WHERE next_state IS NOT NULL GROUP BY 1, 2
    )
    SELECT state, next_state, CAST(n_pairs AS BIGINT) AS n_pairs,
           round(n_pairs / CAST(sum(n_pairs) OVER (PARTITION BY state)
                                AS DOUBLE), 4) AS p
    FROM m
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event sequences
    (operators/windows.py:markov_transitions): lead() over the user
    partition collapsed map-side to (state, next, n); the denominator
    is a window over the states^2-row matrix, negligible."""
    from .operators.windows import markov_transitions

    t = load_testdata(spark, sf_dir)
    return markov_transitions(t["events"])


@register(
    "search_rrf_hybrid",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS word FROM d
    ), p AS (
        SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2
    ), stats AS (
        SELECT doc_id, word, tf,
               CAST(count(*) OVER (PARTITION BY word) AS DOUBLE) AS df,
               CAST(sum(tf) OVER (PARTITION BY doc_id) AS DOUBLE) AS dl
        FROM p
    ), corpus AS (
        SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
               CAST(sum(tf) AS DOUBLE) AS total_tokens
        FROM p
    ), q AS (
        SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS word
        FROM (VALUES (1, 'spark query engine'), (2, 'fast filter scan'),
                     (3, 'stream window join'), (4, 'hash group batch'))
             AS t(query_id, qtext)
    ), sc1 AS (
        SELECT q.query_id, s.doc_id,
               round(sum(
                   ln(1 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
                   * s.tf * 2.2
                   / (s.tf + 1.2 * (0.25 + 0.75 * s.dl
                                    / (c.total_tokens / c.n_docs)))
               ), 4) AS score
        FROM stats s JOIN q USING (word), corpus c
        GROUP BY 1, 2
    ), sc2 AS (
        SELECT q.query_id, s.doc_id,
               round(sum(
                   ln(1 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
               ), 4) AS score
        FROM stats s JOIN q USING (word), corpus c
        GROUP BY 1, 2
    ), r1 AS (
        SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM sc1 QUALIFY rnk <= 20
    ), r2 AS (
        SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM sc2 QUALIFY rnk <= 20
    ), u AS (
        SELECT query_id, doc_id, 1.0 / (60 + rnk) AS c FROM r1
        UNION ALL
        SELECT query_id, doc_id, 1.0 / (60 + rnk) AS c FROM r2
    ), f AS (
        SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score
        FROM u GROUP BY 1, 2
    )
    SELECT query_id, doc_id, rrf_score,
           CAST(rn AS BIGINT) AS fused_rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rn
          FROM f)
    WHERE rn <= 10
    """,
)
def search_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion
    (operators/search.py:rrf_fuse): the tf-weighted BM25 ranking fused
    with the pure-IDF (k1=0, binary-occurrence) ranking of the same
    query set — rank-based fusion needs no score calibration. Each
    system's top-20 fuses into a per-query top-10.

    Both rankings score the SAME k1-independent candidate table
    (operators/search.py:bm25_candidates, localCheckpoint'd — it is
    candidate-sized, a few terms' postings), so the hybrid pays one
    corpus pass instead of one per parameterization (round 10; the
    old form ran the full bm25_topk pipeline twice)."""
    from .operators.search import bm25_candidates, bm25_score_topk, rrf_fuse

    t = load_testdata(spark, sf_dir)
    cand = bm25_candidates(
        spark, t["documents"], _BM25_QUERIES
    ).localCheckpoint()

    def ranked(k1: float) -> DataFrame:
        scored = bm25_score_topk(cand, k=20, k1=k1)
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id")
        )
        return scored.select(
            "query_id", "doc_id", F.row_number().over(w).alias("rank")
        )

    fused = rrf_fuse([ranked(1.2), ranked(0.0)], k=60, topk=10)
    return fused.select(
        "query_id", "doc_id", "rrf_score",
        F.col("fused_rank").cast("long").alias("fused_rank"),
    )


@register(
    "dedup_prefix_jaccard",
    f"""
    WITH d0 AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt
        FROM documents WHERE doc_id < 2000
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d0
    ), sh AS (
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                   range(1, len(words) - 1), i ->
                   array_to_string(list_slice(words, i, i + 2), ' '))))
                   AS toks
        FROM w WHERE len(words) >= 3
    ), s AS (
        SELECT doc_id, toks AS words, len(toks) AS nw FROM sh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.words, b.words))), 4)
               AS jaccard
    FROM s a JOIN s b
      ON a.doc_id < b.doc_id
     AND least(a.nw, b.nw) >= 0.6 * greatest(a.nw, b.nw)
    WHERE round(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
                / len(list_distinct(list_concat(a.words, b.words))), 4)
          >= 0.6
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join at shingle-set Jaccard >= 0.6 via
    prefix filtering (operators/dedup.py:prefix_filter_jaccard_pairs)
    — lossless blocking, so the oracle is the brute-force all-pairs
    ground truth (size-ratio pre-filter only, itself implied by the
    threshold): any pair the prefix join missed would break the hash.
    3-word shingle sets, since word sets over this corpus's small
    vocabulary are degenerate (7M pairs at sf1); inputs bounded to
    doc_id < 2000 per the quadratic-oracle cap convention."""
    from .operators.dedup import prefix_filter_jaccard_pairs

    t = load_testdata(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 2000)
    return prefix_filter_jaccard_pairs(docs, threshold=0.6, shingle_k=3)


@register(
    "events_time_weighted_avg",
    """
    WITH s AS (
        SELECT user_id, value,
               CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts))
                    - epoch_us(ts) AS DOUBLE) AS dt
        FROM events
    )
    SELECT user_id,
           round(sum(value * dt) / sum(dt), 4) AS twap,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM s WHERE dt IS NOT NULL GROUP BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP —
    operators/windows.py:time_weighted_avg): each observation weighs
    by its holding interval via one lead() window, then a map-side-
    combined rollup. Single-event users surface as absent, not as a
    fabricated plain mean."""
    from .operators.windows import time_weighted_avg

    t = load_testdata(spark, sf_dir)
    return time_weighted_avg(t["events"])


@register(
    "events_cumulative_unique_users",
    """
    WITH f AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS day FROM events
        GROUP BY user_id
    ), d AS (
        SELECT day, CAST(count(*) AS BIGINT) AS new_keys FROM f GROUP BY day
    )
    SELECT day, new_keys,
           CAST(sum(new_keys) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_keys
    FROM d
    """,
)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-unique-users growth curve
    (operators/windows.py:cumulative_unique). The quadratic
    count(DISTINCT) OVER (ORDER BY day) never appears: each user
    collapses to a first appearance, days to first-appearance counts,
    and the only unpartitioned window runs over the ~30-row day
    series — tiny by construction, same class as the global-index
    offset table."""
    from .operators.windows import cumulative_unique

    t = load_testdata(spark, sf_dir)
    return cumulative_unique(t["events"])


@register(
    "events_attribution_models",
    """
    WITH touches AS (
        SELECT user_id AS u, event_id AS touch_id, ts AS t_ts
        FROM events WHERE event_type = 'view'
    ), convs AS (
        SELECT user_id AS u, event_id AS conv_id, ts AS c_ts, value AS v
        FROM events WHERE event_type = 'purchase'
    ), j AS (
        SELECT t.touch_id, c.conv_id, c.v,
               row_number() OVER (PARTITION BY c.conv_id
                   ORDER BY t.t_ts, t.touch_id) AS rn_first,
               row_number() OVER (PARTITION BY c.conv_id
                   ORDER BY t.t_ts DESC, t.touch_id DESC) AS rn_last,
               count(*) OVER (PARTITION BY c.conv_id) AS n_touches
        FROM touches t JOIN convs c
          ON t.u = c.u AND t.t_ts <= c.c_ts
         AND t.t_ts >= c.c_ts - INTERVAL 30 MINUTE
    )
    SELECT touch_id,
           round(sum(CASE WHEN rn_first = 1 THEN v ELSE 0 END), 2)
               AS first_credit,
           round(sum(CASE WHEN rn_last = 1 THEN v ELSE 0 END), 2)
               AS last_credit,
           round(sum(v / n_touches), 2) AS linear_credit
    FROM j GROUP BY touch_id
    """,
)
def events_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch / linear attribution side by side over
    a 30-minute conversion window
    (operators/windows.py:attribution_models): one user-keyed interval
    join, per-conversion rank windows (state bounded by the window's
    touch count), one per-touch rollup."""
    from .operators.windows import attribution_models

    t = load_testdata(spark, sf_dir)
    return attribution_models(t["events"])


@register(
    "text_source_vocab_overlap",
    f"""
    WITH d AS (
        SELECT source, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), sw AS (
        SELECT DISTINCT source, unnest(string_split(nt, ' ')) AS word FROM d
    ), sizes AS (
        SELECT source, CAST(count(*) AS DOUBLE) AS n FROM sw GROUP BY 1
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM sw a JOIN sw b
          ON a.word = b.word AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_shared,
           round(i.n_shared / (sa.n + sb.n - i.n_shared), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-comparison matrix: vocabulary Jaccard between every pair
    of sources — the quick diagnostic for 'are these two crawls the
    same corpus?'. Distinct (source, word) collapse (map-side), a
    word-keyed self-join bounded by per-word source counts (<=
    n_sources per word), and a broadcast of the n_sources-row size
    table."""
    from .functions.text import normalized_text

    t = load_testdata(spark, sf_dir)
    sw = t["documents"].select(
        "source",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("word"),
    ).distinct()
    sizes = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    a = sw.withColumnRenamed("source", "source_a")
    b = sw.withColumnRenamed("source", "source_b")
    inter = (
        a.join(b, "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = F.broadcast(sizes.withColumnRenamed("source", "source_a")
                     .withColumnRenamed("n", "na"))
    sb = F.broadcast(sizes.withColumnRenamed("source", "source_b")
                     .withColumnRenamed("n", "nb"))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a", "source_b", "n_shared",
            F.round(
                F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
    )


@register(
    "embedding_centroid_affinity",
    """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        FROM embeddings
    ), u AS (
        SELECT vec_id, label, unnest(emb) AS v,
               unnest(generate_series(1, len(emb))) AS pos
        FROM e
    ), c AS (
        SELECT label, pos, avg(v) AS cv FROM u GROUP BY 1, 2
    ), p AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.cv * b.cv) AS dot,
               sqrt(sum(a.cv * a.cv)) AS na,
               sqrt(sum(b.cv * b.cv)) AS nb
        FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT label_a, label_b, round(dot / (na * nb), 4) AS cosine
    FROM p
    """,
)
def embedding_centroid_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-confusability map: cosine between every pair of label
    centroids — near-1 pairs are candidates for merged or mislabeled
    classes. Centroids from one map-side-collapsed posexplode
    aggregation (labels x dim rows); the pairwise stage runs over that
    TINY table only, never the corpus."""
    t = load_testdata(spark, sf_dir)
    u = t["embeddings"].select(
        "label",
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))),
    ).select("label", F.col("pos"), F.col("col").alias("v"))
    c = u.groupBy("label", "pos").agg(F.avg("v").alias("cv"))
    a = c.select(F.col("label").alias("label_a"), "pos",
                 F.col("cv").alias("cva"))
    b = c.select(F.col("label").alias("label_b"), "pos",
                 F.col("cv").alias("cvb"))
    p = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("cva") * F.col("cvb")).alias("dot"),
            F.sqrt(F.sum(F.col("cva") * F.col("cva"))).alias("na"),
            F.sqrt(F.sum(F.col("cvb") * F.col("cvb"))).alias("nb"),
        )
    )
    return p.select(
        "label_a", "label_b",
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
    )


@register(
    "sql_recursive_bfs_hops",
    (_DUCK_LSH_PAIRS
     + """
    , edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ), seeds AS (
        SELECT node FROM (SELECT DISTINCT u AS node FROM edges)
        ORDER BY node LIMIT 5
    ), walk AS (
        SELECT node, 0 AS hops FROM seeds
        UNION ALL
        SELECT e.v AS node, w.hops + 1 AS hops
        FROM walk w JOIN edges e ON e.u = w.node
        WHERE w.hops < 4
    )
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """).replace("WITH d AS", "WITH RECURSIVE d AS", 1),
)
def sql_recursive_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive-CTE surface: BFS hop distance (<= 4 hops)
    from seed documents (the 5 lowest-id nodes OF THE EDGE LIST — every
    seed has a candidate-pair edge by construction, so the recursion
    executes at least one non-empty expansion at ANY scale factor)
    through the LSH candidate graph, as a
    real `WITH RECURSIVE` executed BY SPARK — the same SQL family the
    oracles use, now demonstrably portable in both directions. The
    UNION ALL recursion is bounded by the hops guard; candidate
    components are small by construction so the path expansion stays
    bounded. (The iterative-DataFrame equivalent for unbounded graphs
    is operators/dedup.py:connected_components.)"""
    from .operators.dedup import minhash_lsh_candidates

    t = load_testdata(spark, sf_dir)
    # persist() the candidate pairs: the recursive CTE references the
    # edge view once PER ITERATION, and without materialization every
    # BFS step re-runs the whole MinHash signature pipeline (measured
    # 60 s at sf0.1 vs ~6 s persisted).
    pairs = minhash_lsh_candidates(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=16, bands=4, k=3,
    ).persist()
    pairs.createOrReplaceTempView("lsh_pairs")
    return spark.sql("""
        WITH RECURSIVE edges AS (
            SELECT id_a AS u, id_b AS v FROM lsh_pairs
            UNION ALL SELECT id_b, id_a FROM lsh_pairs
        ), seeds AS (
            SELECT node FROM (SELECT DISTINCT u AS node FROM edges)
            ORDER BY node LIMIT 5
        ), walk AS (
            SELECT node, 0 AS hops FROM seeds
            UNION ALL
            SELECT e.v AS node, w.hops + 1 AS hops
            FROM walk w JOIN edges e ON e.u = w.node
            WHERE w.hops < 4
        )
        SELECT node, CAST(min(hops) AS BIGINT) AS hops
        FROM walk GROUP BY node
    """)


@register(
    "profile_psi_drift",
    """
    WITH b AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END
                   AS period,
               value
        FROM events
    ), rng AS (
        SELECT min(value) AS lo, max(value) AS hi FROM events
    ), bk AS (
        SELECT event_type, period,
               CAST(least(9, floor((value - rng.lo) * 10.0
                                   / (rng.hi - rng.lo))) AS BIGINT) AS bucket
        FROM b, rng
    ), c AS (
        SELECT event_type, period, bucket, count(*) AS n
        FROM bk GROUP BY 1, 2, 3
    ), grid AS (
        SELECT DISTINCT et.event_type, g.bucket, p.period
        FROM (SELECT DISTINCT event_type FROM events) et,
             (SELECT unnest(range(0, 10)) AS bucket) g,
             (VALUES ('a'), ('b')) p(period)
    ), f AS (
        SELECT g.event_type, g.bucket, g.period,
               coalesce(c.n, 0) + 1 AS n_s
        FROM grid g LEFT JOIN c
          ON c.event_type = g.event_type AND c.bucket = g.bucket
         AND c.period = g.period
    ), sh AS (
        SELECT event_type, bucket, period,
               n_s / CAST(sum(n_s) OVER (PARTITION BY event_type, period)
                          AS DOUBLE) AS share
        FROM f
    ), piv AS (
        SELECT a.event_type, a.bucket, a.share AS pa, b2.share AS pb
        FROM sh a JOIN sh b2
          ON a.event_type = b2.event_type AND a.bucket = b2.bucket
         AND a.period = 'a' AND b2.period = 'b'
    )
    SELECT event_type,
           floor(sum((pa - pb) * ln(pa / pb)) * 10000 + 0.5) / 10000 AS psi
    FROM piv GROUP BY event_type
    """,
)
def profile_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift of the value distribution per
    event type between the stream's two halves — the standard
    production drift monitor (PSI > 0.2 = investigate). Bucket edges
    from a 1-row min/max broadcast, add-one smoothing on a dense
    (type x bucket x period) grid so empty buckets contribute, shares
    as windows over the tiny count table, floor-quantized PSI (the
    round() half-boundary is engine-specific)."""
    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bk = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "a"
        ).otherwise("b").alias("period"),
        F.least(
            F.lit(9),
            F.floor((F.col("value") - F.col("lo")) * 10.0
                    / (F.col("hi") - F.col("lo"))),
        ).cast("long").alias("bucket"),
    )
    # ONE corpus bucket-count pass (map-side combined), checkpointed:
    # the tiny (type x period x bucket) table feeds the type list AND
    # the dense-grid join. The round-1 form filtered the SHARE table
    # per period and self-joined — duplicating the whole corpus
    # subtree (scan, range agg, distinct, window) into each branch: 6
    # corpus scans where 2 suffice (plan evidence in plans/r10).
    c = (
        bk.groupBy("event_type", "period", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # Every event type appears in the count table (each type has >= 1
    # event, whatever its bucket/period), so the grid's type list is a
    # post-aggregate distinct — no second corpus scan.
    types = c.select("event_type").distinct()
    grid = types.crossJoin(
        spark.range(0, 10).select(F.col("id").alias("bucket"))
    )
    # Pivot the two periods to columns with conditional aggregates over
    # the left join (NULL period rows — absent (type, bucket, period)
    # combinations — fall to the add-one floor via coalesce). n_s stays
    # an exact integer, so the per-(type, period) totals and shares are
    # bit-identical to the long-form window the old plan computed.
    f = (
        grid.join(c, ["event_type", "bucket"], "left")
        .groupBy("event_type", "bucket")
        .agg(
            (F.coalesce(
                F.max(F.when(F.col("period") == "a", F.col("n"))), F.lit(0)
            ) + 1).alias("na_s"),
            (F.coalesce(
                F.max(F.when(F.col("period") == "b", F.col("n"))), F.lit(0)
            ) + 1).alias("nb_s"),
        )
    )
    wt = Window.partitionBy("event_type")
    piv = f.select(
        "event_type", "bucket",
        (F.col("na_s") / F.sum("na_s").over(wt).cast("double")).alias("pa"),
        (F.col("nb_s") / F.sum("nb_s").over(wt).cast("double")).alias("pb"),
    )
    return piv.groupBy("event_type").agg(
        (
            F.floor(
                F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")))
                * 10000
                + 0.5
            )
            / 10000
        ).alias("psi")
    )


@register(
    "stream_view_attribution_outer",
    """
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id, p.ts AS purchase_ts, v.ts AS view_ts,
           round(p.value, 2) AS purchase_value
    FROM events p
    LEFT JOIN events v
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase'
    """,
)
def stream_view_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream attribution
    (streaming/jobs.py:view_purchase_attribution how='left_outer'):
    unattributed purchases survive with NULL view columns — in true
    streaming the NULL side emits only once the watermark proves no
    match can arrive, which is why both streams carry watermarks.
    Batch path here; the inner variant's streaming execution is
    covered in tests/test_streaming.py."""
    from .streaming.jobs import view_purchase_attribution

    t = load_testdata(spark, sf_dir)
    ev = t["events"]
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return view_purchase_attribution(views, purchases, how="left_outer")


@register(
    "profile_pareto_coverage",
    """
    WITH r AS (
        SELECT source, n_chars,
               sum(n_chars) OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum,
               sum(n_chars) OVER (PARTITION BY source) AS total,
               count(*) OVER (PARTITION BY source) AS n_docs
        FROM documents
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE cum - n_chars < 0.8 * total)
                AS BIGINT) AS n_docs_80pct,
           round(CAST(count(*) FILTER (WHERE cum - n_chars < 0.8 * total)
                      AS DOUBLE) / n_docs, 4) AS doc_share_80pct
    FROM r GROUP BY source, n_docs
    """,
)
def profile_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration per source: how few documents (largest
    first) cover 80% of the source's characters — the 'is this corpus
    a few giants plus dust?' diagnostic that decides chunking and
    sampling strategy. One per-source window pass; the comparison
    uses exact integer cumsums against 0.8*total, deterministic on
    both engines."""
    t = load_testdata(spark, sf_dir)
    w_ord = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("source")
    r = t["documents"].select(
        "source",
        "n_chars",
        F.sum("n_chars").over(w_ord).alias("cum"),
        F.sum("n_chars").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n_docs"),
    )
    in_head = (F.col("cum") - F.col("n_chars")) < 0.8 * F.col("total")
    return r.groupBy("source", "n_docs").agg(
        F.sum(F.when(in_head, 1).otherwise(0)).alias("n_docs_80pct"),
        F.round(
            F.sum(F.when(in_head, 1).otherwise(0)) / F.col("n_docs").cast("double"),
            4,
        ).alias("doc_share_80pct"),
    ).select("source", "n_docs", "n_docs_80pct", "doc_share_80pct")


@register(
    "ann_cosine_int8",
    """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        FROM embeddings
    ), s AS (
        SELECT vec_id, emb,
               CASE WHEN list_max(list_transform(emb, v -> abs(v))) > 0
                    THEN list_max(list_transform(emb, v -> abs(v))) / 127.0
               END AS scale
        FROM e
    ), q AS (
        SELECT vec_id,
               list_transform(emb, v -> CAST(greatest(-127, least(127,
                   CAST(sign(v) * floor(abs(v / scale) + 0.5)
                        AS INTEGER))) AS BIGINT)) AS qv
        FROM s WHERE scale IS NOT NULL
    ), n AS (
        SELECT vec_id, qv,
               sqrt(CAST(list_sum(list_transform(qv, x -> x * x))
                         AS DOUBLE)) AS nrm
        FROM q
    ), scored AS (
        SELECT a.vec_id AS query_id, b.vec_id,
               CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                    x -> x[1] * x[2])) AS DOUBLE) / (a.nrm * b.nrm) AS cosine
        FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
    )
    SELECT query_id, vec_id, round(cosine, 4) AS cosine_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
    WHERE rk <= 10
    """,
)
def ann_cosine_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval over the int8 CODES
    (operators/embeddings.py:cosine_topk_int8): cosine is
    scale-invariant so the score is pure integer dot products — the
    SIMD-serving formulation, bit-deterministic on any engine. Ranking
    differences vs the float-exact `ann_cosine_topk` measure the
    quantization recall cost directly."""
    from .operators.embeddings import cosine_topk_int8

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    return cosine_topk_int8(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "embedding_dim_stats",
    """
    WITH u AS (
        SELECT unnest(list_transform(embedding, v -> CAST(v AS DOUBLE)))
                   AS v,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
    )
    SELECT CAST(pos AS BIGINT) AS pos,
           round(avg(v), 4) AS mean_v,
           round(stddev_pop(v), 4) AS std_v,
           round(min(v), 4) AS min_v,
           round(max(v), 4) AS max_v,
           CAST(count(*) FILTER (WHERE v = 0) AS BIGINT) AS n_zero
    FROM u GROUP BY pos
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile (dead dims, collapsed
    variance, outlier ranges — the checks run before trusting a new
    encoder): one posexplode collapsed map-side to 64 rows of moment
    aggregates. stddev_pop (not sample) so both engines agree on the
    denominator."""
    t = load_testdata(spark, sf_dir)
    u = t["embeddings"].select(
        F.posexplode(F.transform("embedding", lambda v: v.cast("double")))
    ).select((F.col("pos") + 1).cast("long").alias("pos"),
             F.col("col").alias("v"))
    return u.groupBy("pos").agg(
        F.round(F.avg("v"), 4).alias("mean_v"),
        F.round(F.stddev_pop("v"), 4).alias("std_v"),
        F.round(F.min("v"), 4).alias("min_v"),
        F.round(F.max("v"), 4).alias("max_v"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_zero"),
    )


@register(
    "events_gap_quantiles",
    """
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events
    ), v AS (
        SELECT event_type, gap_us,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY gap_us) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM g WHERE gap_us IS NOT NULL
    )
    SELECT event_type, q, CAST(gap_us AS BIGINT) AS value
    FROM v, (VALUES (0.5), (0.9), (0.99)) AS t(q)
    WHERE rn = ceil(q * cnt)
    """,
)
def events_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-gap p50/p90/p99 per event type, EXACT and
    interpolation-free (operators/stats.py:grouped_quantiles_disc over
    integer-microsecond gaps): the latency-profile query, built from
    rank selection so every value is an actual observed gap and the
    result is bit-identical cross-engine."""
    from .operators.stats import grouped_quantiles_disc

    t = load_testdata(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = t["events"].select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    out = grouped_quantiles_disc(
        gaps, ["event_type"], "gap_us", [0.5, 0.9, 0.99]
    )
    return out.select("event_type", "q", F.col("value").cast("long").alias("value"))


@register(
    "events_user_top_type",
    """
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, event_type AS top_type, CAST(n AS BIGINT) AS n
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
          FROM c)
    WHERE rk = 1
    """,
)
def events_user_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC per-group mode: each user's most frequent event
    type with an explicit (count DESC, value) tie-break — the built-in
    mode() aggregate picks an arbitrary element among ties on both
    engines, so the portable form is count + rank. Map-side-combined
    count, then a window over the per-user type table (<= 5 rows per
    user)."""
    t = load_testdata(spark, sf_dir)
    c = t["events"].groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("top_type"), "n")
    )


@register(
    "dedup_rate_by_source",
    f"""
    WITH f AS (
        SELECT source, md5({_DUCK_NORM.format(c="text")}) AS fp
        FROM documents
    ), g0 AS (
        SELECT source, fp, count(*) AS n FROM f GROUP BY source, fp
    ), g AS (
        SELECT source, fp, n,
               sum(n) OVER (PARTITION BY fp) AS fp_total
        FROM g0
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN fp_total > 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_in_dup_groups,
           round(sum(CASE WHEN fp_total > 1 THEN n ELSE 0 END)
                 / CAST(sum(n) AS DOUBLE), 4) AS dup_rate
    FROM g GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication pressure per source: the share of each source's
    documents whose exact fingerprint occurs more than once CORPUS-WIDE
    (cross-source dups count for both sides) — the triage number that
    decides where dedup effort goes. One md5-keyed collapse, a
    fingerprint window over the collapsed table, one keyed rollup."""
    from .functions.text import doc_fingerprint

    t = load_testdata(spark, sf_dir)
    f = t["documents"].select(
        "source", doc_fingerprint(F.col("text")).alias("fp")
    )
    g = f.groupBy("source", "fp").agg(F.count(F.lit(1)).alias("n")).withColumn(
        "fp_total", F.sum("n").over(Window.partitionBy("fp"))
    )
    dup_n = F.sum(F.when(F.col("fp_total") > 1, F.col("n")).otherwise(0))
    return g.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        dup_n.alias("n_in_dup_groups"),
        F.round(dup_n / F.sum("n").cast("double"), 4).alias("dup_rate"),
    )


@register(
    "lineitem_delay_quantiles",
    """
    WITH g AS (
        SELECT o.o_orderpriority,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS delay_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), v AS (
        SELECT o_orderpriority, delay_days,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY delay_days) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS cnt
        FROM g
    )
    SELECT o_orderpriority, q, CAST(delay_days AS BIGINT) AS value
    FROM v, (VALUES (0.5), (0.9), (0.99)) AS t(q)
    WHERE rn = ceil(q * cnt)
    """,
)
def lineitem_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay p50/p90/p99 per order priority — the SLA
    profile via the exact interpolation-free rank-select primitive
    (operators/stats.py:grouped_quantiles_disc) over integer day
    deltas, after one keyed lineitem-orders join."""
    from .operators.stats import grouped_quantiles_disc

    t = load_testdata(spark, sf_dir)
    g = t["lineitem"].join(
        t["orders"],
        t["lineitem"]["l_orderkey"] == t["orders"]["o_orderkey"],
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("delay_days"),
    )
    out = grouped_quantiles_disc(g, ["o_orderpriority"], "delay_days",
                                 [0.5, 0.9, 0.99])
    return out.select(
        "o_orderpriority", "q", F.col("value").cast("long").alias("value")
    )


# =========================================================================
# round 6: curation-pipeline closure — substring dedup (active form),
# temperature mixing, hashed quality classifier, BPE merge statistics,
# VARIANT semi-structured extraction
# =========================================================================


@register(
    "dedup_remove_dup_segments",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), ix AS (
        SELECT doc_id, words,
               CAST(ceil(len(words) / 16.0) AS BIGINT) AS n_segments,
               unnest(range(0, CAST(ceil(len(words) / 16.0) AS BIGINT)))
                   AS seg_idx
        FROM w
    ), seg AS (
        SELECT doc_id, n_segments, seg_idx,
               array_to_string(list_slice(words,
                   CAST(seg_idx * 16 + 1 AS INT),
                   CAST(seg_idx * 16 + 16 AS INT)), ' ') AS seg_text
        FROM ix
    ), r AS (
        SELECT doc_id, n_segments, seg_idx, seg_text,
               row_number() OVER (PARTITION BY seg_text
                                  ORDER BY doc_id, seg_idx) AS rn
        FROM seg
    )
    SELECT doc_id,
           CAST(max(n_segments) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg_text END, ' '
                               ORDER BY seg_idx), '') AS kept_text
    FROM r GROUP BY doc_id
    """,
)
def dedup_remove_dup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup in its ACTIVE form (Lee et al. 2021):
    cut every document into 16-word blocks, drop each block whose
    exact text already occurred at a smaller (doc, block) position
    corpus-wide, and reassemble the documents from the survivors —
    boilerplate is removed, the documents live on
    (operators/chunking.py:remove_duplicate_segments). Linear
    shapes only — round 7: the first-occurrence election moved from a
    row_number window keyed on RAW block text to the shared packed-key
    HashAggregate + shuffle-hash join-back on the block md5
    (dedup.first_occurrence_table); plus the per-doc rebuild. The
    complement of the PASSIVE dup-fraction signal
    (dedup_segment_overlap)."""
    from .operators.chunking import remove_duplicate_segments

    t = load_testdata(spark, sf_dir)
    return remove_duplicate_segments(
        t["documents"], text_col="text", id_col="doc_id", seg_words=16
    )


@register(
    "sample_temperature_mixture",
    """
    WITH c AS (
        SELECT source, count(*) AS n_total FROM documents GROUP BY source
    ), s AS (
        SELECT source, n_total,
               CAST(floor(sqrt(n_total) * 1000 + 0.5) AS BIGINT) AS sq
        FROM c
    ), t AS (
        SELECT sum(n_total) AS nn, sum(sq) AS ss FROM s
    ), r AS (
        SELECT source, n_total,
               least(1.0, 0.5 * (CAST(nn AS DOUBLE) * sq)
                              / (CAST(ss AS DOUBLE) * n_total)) AS rate
        FROM s, t
    ), k AS (
        SELECT d.source, count(*) AS n_kept
        FROM documents d JOIN r USING (source)
        WHERE (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 10000)
              < CAST(floor(10000 * rate) AS BIGINT)
        GROUP BY d.source
    )
    SELECT r.source, CAST(r.n_total AS BIGINT) AS n_total,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(floor(rate * 1000000 + 0.5) AS BIGINT) AS rate_micro
    FROM r LEFT JOIN k USING (source)
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 temperature-flattened source mixing (operators/
    sampling.py:temperature_mixture_sample): keep-rates proportional to
    sqrt(n_source)/n_source so small sources are up-weighted, target
    half the corpus overall, membership by doc_id hash. Output is the
    achieved mix — per source: corpus count, sampled count, and the
    micro-quantized rate the hash threshold derives from. sqrt (IEEE-
    exact) + integer-quantized normalizer keep the rates bit-identical
    cross-engine; the corpus is scanned once and never shuffled."""
    from .operators.sampling import (
        temperature_mix_rates,
        temperature_mixture_sample,
    )

    t = load_testdata(spark, sf_dir)
    docs = t["documents"]
    rates = temperature_mix_rates(docs, "source", target_fraction=0.5)
    kept = (
        temperature_mixture_sample(docs, "source", "doc_id", 0.5)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        F.col("n_total").cast("long").alias("n_total"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.floor(F.col("rate") * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("rate_micro"),
    )


@register(
    "text_quality_classifier",
    f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS word FROM d
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(floor(
               (CAST(sum((CAST('0x' || substr(md5(word), 1, 8) AS BIGINT)
                          % 8192) - 4096) AS DOUBLE)
                / (count(*) * CAST(4096 AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS score_micro
    FROM w GROUP BY doc_id
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear text-classifier scoring (operators/lm.py:
    hashed_linear_score) — the execution shape of a fastText-style
    quality model: no vocabulary table, no join; each word maps to an
    integer weight in codegen, documents collapse map-side to an exact
    BIGINT sum, one division per document. The md5-derived weight table
    stands in for trained coefficients; swapping in a real model's
    vector leaves the plan untouched."""
    from .operators.lm import hashed_linear_score

    t = load_testdata(spark, sf_dir)
    return hashed_linear_score(
        t["documents"], text_col="text", id_col="doc_id", hash_dim=8192
    )


@register(
    "text_bpe_top_pairs",
    f"""
    WITH d AS (
        SELECT {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT unnest(string_split(nt, ' ')) AS word FROM d
    ), v AS (
        SELECT word, count(*) AS wf FROM w
        WHERE regexp_matches(word, '^\\w+$') GROUP BY word
    ), p0 AS (
        SELECT word, wf, unnest(range(1, length(word))) AS i
        FROM v WHERE length(word) >= 2
    ), p AS (
        SELECT substr(word, CAST(i AS INT), 2) AS pair, wf FROM p0
    )
    SELECT pair, CAST(sum(wf) AS BIGINT) AS pair_count
    FROM p GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """,
)
def text_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration (Sennrich et al. 2016) — top-20
    adjacent-character pairs weighted by word frequency, the tokenizer-
    training primitive (operators/lm.py:bpe_top_pairs). The corpus
    collapses to its (word, freq) vocabulary before any pair explodes,
    so the heavy step is vocabulary-sized, not corpus-sized; the cut is
    a TakeOrdered with a total (count DESC, pair ASC) order."""
    from .operators.lm import bpe_top_pairs

    t = load_testdata(spark, sf_dir)
    return bpe_top_pairs(t["documents"], text_col="text", k=20)


@register(
    "variant_props_rollup",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_min,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max,
           CAST(floor(
               (CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                     AS DOUBLE)
                / count(CAST(json_extract(props, '$.k') AS BIGINT)))
               * 100 + 0.5) AS BIGINT) AS k_avg_centi,
           CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_big
    FROM events GROUP BY event_type
    """,
)
def variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once per row, ``variant_get`` typed paths inside the
    aggregate — the open-schema ingestion path (no fixed struct schema
    declared anywhere) that replaces schema-on-write for event
    payloads. The oracle extracts the same paths with DuckDB's JSON
    functions; the binary VARIANT encoding is engine-internal, the
    extracted VALUES are the contract."""
    t = load_testdata(spark, sf_dir)
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    ev = t["events"].select("event_type", k.alias("k"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.floor(
            (F.sum("k").cast("double") / F.count("k")) * 100 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("k_avg_centi"),
        F.sum(F.when(F.col("k") > 50, 1).otherwise(0))
        .cast("bigint")
        .alias("n_big"),
    )


@register(
    "dedup_semantic_prune",
    None,  # rows-only: centroids are trained per call, not frozen;
    # bounded-verified by accuracy.check_semantic_dedup (planted exact
    # duplicates MUST be pruned — recall 1.0 — plus ambient-pair
    # cell-recall reported) and unit tests.
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table
    (operators/dedup.py:semantic_dedup): coarse-quantizer cells (the
    IVF quantizer, numpy Lloyd on a bounded sample) bound the pairwise
    cosine work, within-cell pairs >= 0.4 collapse to
    components, and the member least similar to its centroid survives
    per component (diversity-preserving election). n_cells=None keeps
    cell size ~constant as the corpus grows (pair work stays linear;
    a fixed cell count goes quadratic at sf3+). 0.4 matches
    dedup_embedding_pairs — the testdata plants no true semantic dups,
    so the catalog threshold is set where the operator has non-trivial
    work to do."""
    from .operators.dedup import semantic_dedup

    t = load_testdata(spark, sf_dir)
    out = semantic_dedup(
        t["embeddings"], n_cells=None, threshold=0.4
    )
    return out.select(
        "vec_id",
        "cell",
        "component",
        F.round("centroid_cos", 4).alias("centroid_cos"),
        "is_canonical",
    )


@register(
    "stream_attribution_windows",
    """
    WITH j AS (
        SELECT p.ts AS purchase_ts, round(p.value, 2) AS purchase_value
        FROM events p JOIN events v
          ON v.user_id = p.user_id
         AND v.ts <= p.ts
         AND v.ts >= p.ts - INTERVAL 30 MINUTE
        WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    )
    SELECT time_bucket(INTERVAL 60 MINUTE, purchase_ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_attributions,
           CAST(sum(CAST(floor(purchase_value * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS attributed_cents
    FROM j GROUP BY 1
    """,
)
def stream_attribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful operators (streaming/jobs.py:
    attribution_window_counts) on the batch path: the watermarked
    stream-stream attribution join feeds a tumbling 60-minute window
    rollup in ONE query — Spark 4's multi-stateful-operator support,
    live-verified by test_chained_stateful_join_then_window_agg (two
    state stores in a single checkpoint). Value sums are exact integer
    cents so the rollup is order- and engine-independent."""
    from .streaming.jobs import attribution_window_counts

    ev = load_testdata(spark, sf_dir)["events"]
    return attribution_window_counts(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon_minutes=30,
        window_minutes=60,
    ).withColumn("n_attributions", F.col("n_attributions").cast("long"))


# Chained-CTE replica of the BPE training loop: each level recounts
# adjacent symbol pairs, takes the (count DESC, pair ASC) argmax, and
# applies the merge to the space-joined symbol strings. The regex
# '\b<l> <r>\b' with a global replace scans left-to-right
# non-overlapping and resumes AFTER each replacement — exactly the
# greedy fold semantics of operators/lm.py:bpe_train_merges (symbols
# are \w+ only, so \b boundaries are unambiguous). MATERIALIZED: the
# argmax CTEs are referenced repeatedly (q15 lesson — although counts
# are exact integers here, re-evaluation is pure waste).
_DUCK_BPE_LEVEL = """
    p{n} AS MATERIALIZED (
        SELECT s[CAST(i AS INT)] AS lft, s[CAST(i AS INT) + 1] AS rgt,
               sum(wf) AS cnt
        FROM (
            SELECT string_split(sym, ' ') AS s, wf,
                   unnest(range(1, len(string_split(sym, ' ')))) AS i
            FROM v{m}
        ) t GROUP BY 1, 2
    ), t{n} AS MATERIALIZED (
        SELECT * FROM p{n} ORDER BY cnt DESC, lft, rgt LIMIT 1
    ), v{n} AS MATERIALIZED (
        SELECT regexp_replace(sym,
                   '\\b' || (SELECT lft FROM t{n}) || ' ' ||
                   (SELECT rgt FROM t{n}) || '\\b',
                   (SELECT lft || rgt FROM t{n}), 'g') AS sym, wf
        FROM v{m}
    )"""


@register(
    "text_bpe_train_merges",
    f"""
    WITH d AS (
        SELECT {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w AS (
        SELECT unnest(string_split(nt, ' ')) AS word FROM d
    ), v0 AS MATERIALIZED (
        SELECT array_to_string(list_transform(
                   range(1, length(word) + 1),
                   i -> substr(word, CAST(i AS INT), 1)), ' ') AS sym,
               count(*) AS wf
        FROM w WHERE regexp_matches(word, '^\\w+$') GROUP BY word
    ),{_DUCK_BPE_LEVEL.format(n=1, m=0)},{_DUCK_BPE_LEVEL.format(n=2, m=1)},{_DUCK_BPE_LEVEL.format(n=3, m=2)}
    SELECT 1 AS merge_rank, lft AS "left", rgt AS "right",
           CAST(cnt AS BIGINT) AS pair_count FROM t1
    UNION ALL
    SELECT 2, lft, rgt, CAST(cnt AS BIGINT) FROM t2
    UNION ALL
    SELECT 3, lft, rgt, CAST(cnt AS BIGINT) FROM t3
    """,
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL BPE training loop, 3 merge rounds (operators/lm.py:
    bpe_train_merges): per round, count adjacent symbol pairs over the
    (symbols, word-frequency) vocabulary, merge the argmax pair
    vocabulary-wide, repeat on the merged symbols. The oracle replays
    all three rounds as chained CTE levels whose regex merge has the
    identical greedy left-to-right semantics as the engine's fold —
    the iterative driver-fetch loop (PageRank discipline:
    localCheckpoint per round, vocabulary-sized work only) is checked
    end-to-end, not just its first iteration (text_bpe_top_pairs)."""
    from .operators.lm import bpe_train_merges

    t = load_testdata(spark, sf_dir)
    return bpe_train_merges(t["documents"], text_col="text", n_merges=3)


# The tokenize-apply twin reuses the merge-decision levels; the final
# segmentation applies the three learned merges to the ORIGINAL
# char-split symbols as nested regexp_replace — sequential application
# is exactly the loop's per-round rewrite.
_DUCK_BPE_APPLY = """
    regexp_replace(regexp_replace(regexp_replace(sym,
        '\\b' || (SELECT lft FROM t1) || ' ' || (SELECT rgt FROM t1) || '\\b',
        (SELECT lft || rgt FROM t1), 'g'),
        '\\b' || (SELECT lft FROM t2) || ' ' || (SELECT rgt FROM t2) || '\\b',
        (SELECT lft || rgt FROM t2), 'g'),
        '\\b' || (SELECT lft FROM t3) || ' ' || (SELECT rgt FROM t3) || '\\b',
        (SELECT lft || rgt FROM t3), 'g')"""


@register(
    "text_bpe_tokenize_stats",
    f"""
    WITH d AS (
        SELECT lang, {_DUCK_NORM.format(c="text")} AS nt FROM documents
    ), w0 AS (
        SELECT lang, unnest(string_split(nt, ' ')) AS word FROM d
    ), w AS (
        SELECT lang, word FROM w0 WHERE regexp_matches(word, '^\\w+$')
    ), v0 AS MATERIALIZED (
        SELECT word,
               array_to_string(list_transform(
                   range(1, length(word) + 1),
                   i -> substr(word, CAST(i AS INT), 1)), ' ') AS sym,
               count(*) AS wf
        FROM w GROUP BY word
    ),{_DUCK_BPE_LEVEL.format(n=1, m=0)},{_DUCK_BPE_LEVEL.format(n=2, m=1)},{_DUCK_BPE_LEVEL.format(n=3, m=2)}, fin AS (
        SELECT word,
               len(string_split({_DUCK_BPE_APPLY}, ' ')) AS n_tok
        FROM v0
    ), c AS (
        SELECT lang, word, count(*) AS n FROM w GROUP BY 1, 2
    )
    SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
           CAST(sum(n * n_tok) AS BIGINT) AS n_tokens,
           CAST(floor((CAST(sum(n * n_tok) AS DOUBLE) / sum(n))
                      * 1000000 + 0.5) AS BIGINT) AS tokens_per_word_micro
    FROM c JOIN fin USING (word) GROUP BY lang
    """,
)
def text_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE back to the corpus (operators/lm.py:
    bpe_tokenize_stats): per language, word occurrences vs total BPE
    tokens under the 3-merge corpus-wide tokenizer — the compression
    report that closes the train -> tokenize loop. The apply step is a
    vocabulary JOIN (word -> learned segmentation), never a corpus
    re-fold; the oracle applies the same three merges as nested greedy
    regex replaces to the original char symbols."""
    from .operators.lm import bpe_tokenize_stats

    t = load_testdata(spark, sf_dir)
    return bpe_tokenize_stats(
        t["documents"], text_col="text", group_col="lang", n_merges=3
    )


@register(
    "dedup_duplicate_spans",
    """
    WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
        FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), pos AS (
        SELECT doc_id, len(words) AS n_words, CAST(i AS BIGINT) AS i,
               md5(array_to_string(words[i:i+7], ' ')) AS fp
        FROM w, LATERAL unnest(range(1, len(words) - 6)) AS t(i)
        WHERE len(words) >= 8
    ), cnt AS (
        SELECT *, count(*) OVER (PARTITION BY fp) AS c FROM pos
    ), dup AS (
        SELECT doc_id, n_words, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM cnt WHERE c >= 2
    ), isl AS (
        SELECT doc_id, n_words, i,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM dup
    ), sp AS (
        SELECT doc_id, n_words, island,
               min(i) AS s, max(i) + 7 AS e
        FROM isl GROUP BY 1, 2, 3
    )
    SELECT doc_id, n_words,
           count(*) AS n_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_words,
           CAST(max(e - s + 1) AS BIGINT) AS max_span
    FROM sp GROUP BY 1, 2
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (operators/dedup.py:
    duplicate_spans) — the distributed stand-in for the Lee et al.
    2022 suffix-array dedup pass: every 8-word window with corpus
    count >= 2 is duplicated text; overlapping/touching windows merge
    gaps-and-islands into maximal per-document spans. Two shuffles
    (fingerprint-count HashAggregate + shuffle-hash join-back — round
    7, replacing the count-over-window whose whole-stream sort
    measured 10.7x for 3.3x data at sf100 — then the per-doc island
    merge); raw text never shuffles. Oracle replays the identical md5
    window fingerprints and island merge in SQL."""
    from .operators.dedup import duplicate_spans

    t = load_testdata(spark, sf_dir)
    return duplicate_spans(t["documents"], k=8)


@register(
    "sample_dsir_weights",
    """
    WITH d AS (
        SELECT doc_id, lang = 'en' AS tgt,
               string_split(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
               ) AS words
        FROM documents
    ), f AS (
        SELECT doc_id, tgt, unnest(words) AS feat FROM d
        UNION ALL
        SELECT doc_id, tgt, words[i] || ' ' || words[i + 1] AS feat
        FROM d, LATERAL unnest(range(1, len(words))) AS t(i)
        WHERE len(words) >= 2
    ), pb AS (
        SELECT doc_id, tgt,
               CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT) % 1024 AS bkt,
               count(*) AS n
        FROM f GROUP BY 1, 2, 3
    ), s AS (
        SELECT bkt, sum(n) AS raw_n,
               coalesce(sum(n) FILTER (tgt), 0) AS tgt_n
        FROM pb GROUP BY 1
    ), tot AS (
        SELECT sum(raw_n) AS t_raw, sum(tgt_n) AS t_tgt FROM s
    ), lr AS (
        SELECT bkt,
               ln((tgt_n + 1.0) / (t_tgt + 1024.0))
             - ln((raw_n + 1.0) / (t_raw + 1024.0)) AS lr
        FROM s, tot
    )
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
           round(sum(n * lr), 4) AS log_weight
    FROM pb JOIN lr USING (bkt) GROUP BY 1
    """,
)
def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/sampling.py:
    dsir_importance_weights; Xie et al. 2023): per-document log ratio
    of hashed unigram+bigram feature likelihood under the target
    distribution (lang='en' documents) vs the raw corpus, add-1
    smoothed over 1024 md5 buckets. Positive = looks like target;
    compose with weighted_hash_sample for the paper's resampling step.
    Two shuffle-free map passes over the feature explode (bucket
    stats collapse map-side to bucket-sized; ratio broadcasts onto
    the per-doc pass) — no persist, no corpus-sized shuffle."""
    from pyspark.sql import functions as F

    from .operators.sampling import dsir_importance_weights

    t = load_testdata(spark, sf_dir)
    return dsir_importance_weights(
        t["documents"], F.col("lang") == "en", n_buckets=1024
    )


@register(
    "dedup_remove_duplicate_spans",
    """
    WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
        FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
    ), pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               md5(array_to_string(words[i:i+7], ' ')) AS fp
        FROM w, LATERAL unnest(range(1, len(words) - 6)) AS t(i)
        WHERE len(words) >= 8
    ), red AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   count(*) OVER (PARTITION BY fp) AS c,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id, i) AS rk
            FROM pos
        ) WHERE c >= 2 AND rk > 1
    ), brk AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM red
    ), isl AS (
        SELECT doc_id, i,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM brk
    ), sp AS (
        SELECT doc_id, island, min(i) AS s, max(i) + 7 AS e
        FROM isl GROUP BY 1, 2
    ), sl AS (
        SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM sp GROUP BY 1
    ), fin AS (
        SELECT w.doc_id, len(words) AS n_words,
               CASE WHEN spans IS NULL THEN words
                    ELSE list_filter(words, (x, i) ->
                        len(list_filter(spans,
                            s2 -> s2.s <= i AND i <= s2.e)) = 0)
               END AS kept
        FROM w LEFT JOIN sl ON w.doc_id = sl.doc_id
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           CAST(len(kept) AS INT) AS kept_words,
           CAST(n_words - len(kept) AS INT) AS removed_words,
           md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
    FROM fin
    """,
)
def dedup_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active Lee et al. 2022 span dedup (operators/dedup.py:
    remove_duplicate_spans): cut every duplicated 8-word run beyond its
    corpus-canonical first occurrence (lowest (doc_id, position) per
    fingerprint) and value-check the exact surviving words per doc via
    kept_md5 — one row per document, narrow at any scale. Oracle
    replays fingerprints, canonical pick, island merge, and the index
    filter in SQL. Round 7: canonical election moved from the
    row_number window sort to a packed-key HashAggregate +
    shuffle-hash join-back (same results, sort-free plan — the touch
    here surfaces the operator change to the driver's drift
    sampler)."""
    from .operators.dedup import remove_duplicate_spans

    t = load_testdata(spark, sf_dir)
    return remove_duplicate_spans(t["documents"], k=8)


@register(
    "dedup_winnow_pairs",
    """
    WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
        FROM documents
    ), w AS (
        SELECT doc_id, string_split(nt, ' ') AS words FROM d
        WHERE len(string_split(nt, ' ')) >= 3
    ), g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               md5(array_to_string(words[i:i+2], ' ')) AS h
        FROM w, LATERAL unnest(range(1, len(words) - 1)) AS t(i)
    ), sel AS (
        SELECT DISTINCT doc_id, h FROM (
            SELECT doc_id, i, h,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                       AS mn
            FROM g
        ) WHERE h = mn
    ), keep AS (
        SELECT doc_id, h FROM sel
        QUALIFY count(*) OVER (PARTITION BY h) <= 50
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared_fps
    FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/dedup.py:
    winnow_fingerprint_pairs; Schleimer et al. 2003 / MOSS): 3-word
    gram hashes, window-4 minimum selection (~2/(w+1) kept), document
    pairs sharing >= 3 selected fingerprints after a 50-doc frequency
    cap. Guarantees detection of any shared run >= w+k-1 = 6 words.
    Oracle replays the identical window-min selection with QUALIFY."""
    from .operators.dedup import winnow_fingerprint_pairs

    t = load_testdata(spark, sf_dir)
    return winnow_fingerprint_pairs(
        t["documents"], k=3, w=4, min_shared=3, max_df=50
    )


@register(
    "text_doc_signals",
    f"""
    SELECT doc_id, lang, source,
           length(trim(text)) AS n_chars,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
           CAST({_DUCK_BPE.format(c="text")} AS BIGINT) AS n_tokens,
           round((least(1.0, len(regexp_split_to_array(trim(text), '\\s+')) / 50.0)
                + greatest(0.0, 1.0 - (length(regexp_replace(trim(text),
                      '[^!-/:-@\\[-`{{-~]', '', 'g')) * 1.0
                      / greatest(length(trim(text)), 1)) * 4)
                + least(1.0, len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                      w -> lower(w) IN ('the','and','of','to','a','in','is',
                                        'it','that','for')))
                      / greatest(len(regexp_split_to_array(trim(text), '\\s+'))
                                 * 0.05, 1.0))) / 3, 4) AS quality,
           CASE
               WHEN best = 0 THEN 'und'
               WHEN s_en = best THEN 'en'
               WHEN s_de = best THEN 'de'
               WHEN s_es = best THEN 'es'
               WHEN s_fr = best THEN 'fr'
               ELSE 'und' END AS lang_pred,
           (len(words) BETWEEN 5 AND 1000)
               AND (length(regexp_replace(txt, '\\s+', '', 'g')) * 1.0
                    / len(words) BETWEEN 3 AND 10)
               AND (length(regexp_replace(txt, '[a-z0-9\\s]', '', 'g')) * 1.0
                    / greatest(length(txt), 1) < 0.1)
               AND (len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
                    * 1.0 / len(words) >= 0.8) AS gopher_ok,
           md5({_DUCK_NORM.format(c="text")}) AS fingerprint
    FROM (
        SELECT *, greatest(s_en, s_de, s_es, s_fr) AS best
        FROM (
            SELECT doc_id, lang, source, text, txt, words,
                   len(list_filter(words, w -> w IN ('the','and','of','to','a',
                       'in','is','it','that','for'))) AS s_en,
                   len(list_filter(words, w -> w IN ('der','die','das','und',
                       'ist','nicht','ein','mit','auf','von'))) AS s_de,
                   len(list_filter(words, w -> w IN ('el','la','de','que','y',
                       'en','un','por','con','una'))) AS s_es,
                   len(list_filter(words, w -> w IN ('le','la','de','et','les',
                       'des','est','un','une','dans'))) AS s_fr
            FROM (SELECT doc_id, lang, source, text,
                         lower(trim(text)) AS txt,
                         regexp_split_to_array(lower(trim(text)), '\\s+')
                             AS words
                  FROM documents)))
    """,
)
def text_doc_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Dolma-style per-document signals export: every cheap
    quality/identity signal the curation pipeline consumes — sizes,
    token estimate, quality score, language ID, Gopher gate,
    content fingerprint — computed as ONE scan-side projection with
    ZERO shuffles (no explode, no aggregate; the repetition signals
    that need an explode live in `text_repetition_ratio`). At 100 TB
    this is the signals table written next to the corpus that every
    downstream filter/mixer reads instead of re-touching raw text.
    Composes the already-oracled functions (quality_score, lang_id,
    gopher_pass, bpe_token_count, doc_fingerprint) and their proven
    SQL twins into one row per document."""
    from .functions.text import (
        bpe_token_count,
        doc_fingerprint,
        gopher_pass,
        lang_id,
        quality_score,
    )

    t = load_testdata(spark, sf_dir)
    c = F.col("text")
    return t["documents"].select(
        "doc_id",
        "lang",
        "source",
        F.length(F.trim(c)).alias("n_chars"),
        F.size(F.split(F.trim(c), r"\s+")).alias("n_words"),
        bpe_token_count(c).cast("bigint").alias("n_tokens"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        gopher_pass(c).alias("gopher_ok"),
        doc_fingerprint(c).alias("fingerprint"),
    )


@register(
    "embedding_pca_recon",
    """
    WITH per_dim AS (
        SELECT i, var_pop(v) AS vv FROM (
            SELECT unnest(list_zip(list_transform(embedding,
                                                  x -> CAST(x AS DOUBLE)),
                                   range(1, len(embedding) + 1)),
                          recursive := true)
            FROM embeddings
        ) t(v, i) GROUP BY i
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           (SELECT round(sum(vv), 4) FROM per_dim) AS total_variance_r,
           TRUE AS full_rank_exact_ok,
           TRUE AS recon_identity_ok,
           TRUE AS expl_ordered_ok
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_pca_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction for the embedding column
    (operators/embeddings.py:pca_fit / pca_reconstruction_report) —
    the standard step in front of IVF/PQ (OPQ's first move) and the
    storage lever past int8. One distributed pass builds the d x d
    scatter from per-Arrow-batch numpy GEMM partials (corpus never
    collected, never shuffled); the 64x64 eigendecomposition runs on
    the driver; projection is a broadcast matmul.

    Promoted from rows-only to a BOUNDED-ERROR oracle (round-8
    verdict #9, the CMS/HLL pattern): eigenvectors are not
    SQL-expressible, but PCA's CONTRACT is. The genuine value columns
    are the per-label counts and the corpus total variance — the
    trace identity: sum of eigenvalues of the population covariance
    == sum over dims of var_pop, which DuckDB recomputes exactly from
    the raw table (both sides rounded to 4; the float paths differ
    only in summation order, ~1e-8 absolute on a tv of ~64). The
    booleans pin the reconstruction math to the eigen math, TRUE by
    construction in SQL and a hard hash-red if the engine breaks
    them:

    - ``full_rank_exact_ok``: ACTUAL k=d reconstruction MSE < 1e-9
      (the projection round-trip is the identity at full rank);
    - ``recon_identity_ok``: ACTUAL k=8 reconstruction MSE equals
      tv * (1 - explained_8) / d within 1e-5 — the discarded-
      eigenvalue identity, which fails if either the scatter pass,
      eigh ordering, or the broadcast-matmul projection is wrong;
    - ``expl_ordered_ok``: cumulative explained fractions ordered in
      (0, 1].

    The per-label MSE detail remains available via the
    ``pca_reconstruction_report`` API; the in-sweep accuracy hook
    (accuracy.py:check_pca_recon) keeps the monotone-in-k bound."""
    from .operators.embeddings import pca_fit, pca_reconstruction_multi

    t = load_testdata(spark, sf_dir)
    emb = t["embeddings"]
    # Round 10 (guide §1.2 "don't compute things you throw away"): the
    # round-9 form ran the d x d scatter fit THREE times (once here,
    # once inside each weighted_mse's pca_reconstruction_report), two
    # separate full reconstruction passes, and a dedicated posexplode/
    # var_pop pass for tv — 7 corpus passes. Now: ONE scatter fit
    # (with_total=True hands back tv as the covariance trace — equal to
    # the var_pop sum by the same trace identity the oracle checks;
    # measured equal after round-4 at all committed SFs with >= 1e-5
    # rounding margin vs ~1e-16 float-path difference), ONE fused
    # two-rank reconstruction pass (bit-identical per-row math, see
    # pca_reconstruction_multi), and the final per-label count — 3
    # corpus passes total.
    mean, comps, explained, tv = pca_fit(
        emb, vec_col="embedding", k=64, with_total=True
    )
    d = len(mean)
    e8 = float(explained[:8].sum())
    e32 = float(explained[:32].sum())
    efull = float(explained.sum())

    rep = pca_reconstruction_multi(
        emb, (mean, comps), ks=(8, d), vec_col="embedding",
        group_col="label", ndigits=9,
    )
    row = rep.agg(
        (F.sum(F.col("mse_k8") * F.col("n_vecs")) / F.sum("n_vecs")).alias("m8"),
        (F.sum(F.col(f"mse_k{d}") * F.col("n_vecs")) / F.sum("n_vecs")).alias(
            "mf"
        ),
    ).first()
    m8, mfull = row["m8"], row["mf"]
    return (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .select(
            "label",
            "n_vecs",
            F.round(F.lit(tv), 4).alias("total_variance_r"),
            F.lit(bool(mfull < 1e-9)).alias("full_rank_exact_ok"),
            F.lit(bool(abs(m8 - tv * (1.0 - e8) / d) <= 1e-5)).alias(
                "recon_identity_ok"
            ),
            F.lit(
                bool(0.0 < e8 <= e32 <= efull <= 1.0 + 1e-9)
            ).alias("expl_ordered_ok"),
        )
    )


@register(
    "basket_brand_lift",
    """
    WITH bl AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), tot AS (
        SELECT count(DISTINCT l_orderkey) AS n_orders FROM bl
    ), sup AS (
        SELECT p_brand, count(*) AS n FROM bl GROUP BY 1
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               count(*) AS n_pairs
        FROM bl a JOIN bl b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_pairs,
           round(n_pairs * n_orders * 1.0 / (sa.n * sb.n), 4) AS lift
    FROM pairs
    JOIN sup sa ON sa.p_brand = brand_a
    JOIN sup sb ON sb.p_brand = brand_b
    CROSS JOIN tot
    WHERE n_pairs >= 10
    """,
)
def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over order baskets: for every brand
    pair co-occurring in >= 10 orders, the co-occurrence count and
    lift = P(a,b) / (P(a) P(b)). The scale contrast to the dedup pair
    streams: this self-join is keyed on the ORDER (baskets are <= 13
    lines by data contract), so pair work is C(basket,2) per order —
    strictly linear in orders at any corpus size — and the brand
    dimension broadcasts (25 rows). One distinct, one bounded
    self-join, two tiny broadcast enrichments."""
    t = load_testdata(spark, sf_dir)
    bl = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
    )
    # Round 10 (guide §2.4 / §8 "decide with small rows"): the old form
    # shuffled the basket table THREE times (the distinct, then both
    # sides of a basket-keyed self-join — the cached layout could not
    # be reused because a persisted/checkpointed plan reports unknown
    # partitioning under AQE). Baskets are <= 13 lines by data
    # contract, so the pair work fits in a ROW: collapse each order to
    # its sorted distinct-brand array in ONE map-side-combined
    # exchange (collect_set dedups exactly like the old distinct), and
    # every consumer — ordered pairs, per-brand supports, order total —
    # derives map-side from the tiny persisted basket table. The
    # self-join is gone entirely.
    # EAGER localCheckpoint, not a lazy persist: tot and sup feed
    # BROADCAST subtrees, and broadcast-build jobs race the pairs
    # stage at first action — with a lazy cache each racer re-ran the
    # lineitem join + collect_set shuffle before the cache landed
    # (the triangle_counts trap; measured BIMODAL 5.9 vs 44.8 s at
    # sf1, calm both times). One blocking basket materialization
    # (one narrow row per order) pins every consumer to the same
    # bytes.
    baskets = (
        bl.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        .localCheckpoint()
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    sup = (
        baskets.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # (brand_a, brand_b) with brand_a < brand_b: positions j > i of the
    # sorted array — generated inside the row, no join, no second
    # shuffle of basket rows.
    pair_arr = F.expr(
        "flatten(transform(brands, (x, i) -> "
        "transform(slice(brands, i + 2, size(brands)), y -> "
        "struct(x AS brand_a, y AS brand_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("__p"))
        .select("__p.brand_a", "__p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= 10)
    )
    return (
        pairs.join(
            F.broadcast(sup.select(F.col("p_brand").alias("brand_a"),
                                   F.col("n").alias("__na"))), "brand_a"
        )
        .join(
            F.broadcast(sup.select(F.col("p_brand").alias("brand_b"),
                                   F.col("n").alias("__nb"))), "brand_b"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_pairs",
            F.round(
                F.col("n_pairs") * F.col("n_orders") * 1.0
                / (F.col("__na") * F.col("__nb")),
                4,
            ).alias("lift"),
        )
    )
