"""Full-text keyword search: inverted postings + BM25 top-k ranking.

The reference pipeline selects work by exact predicates only; a corpus
engine additionally needs keyword retrieval over the document store
(finding training documents by content, auditing what a filter kept).
The distributable form of that is the classic inverted index: the
corpus collapses once to (term, doc, tf) postings, corpus statistics
(document frequency, document length) attach to the CANDIDATE postings
only, and a query is a BROADCAST of its handful of terms joined
against the postings — never a scan of the corpus per query.

Scale shape (round 10 — the round-1 form paid two corpus-wide window
SORTS, one per statistic; see the git history for the before plan):
- One corpus scan, word-exploded and immediately collapsed map-side to
  (word, doc_id, tf) — the same discipline as operators/lm.py. The
  document length dl RIDES that same explode (it is a per-doc scalar,
  size(split(text)), computed at scan time), so it needs NO second
  shuffle: the old ``sum(tf) OVER (PARTITION BY doc_id)`` was a full
  shuffle + sort of the postings by doc_id for a value the scan already
  knows.
- df(word) is a count over the word partition AFTER the broadcast
  query-term join: every posting of a surviving word survives the
  join, so the count is identical — but it now runs over the candidate
  subset (a few terms' postings), not the corpus. The old form sorted
  the WHOLE postings table by word first and filtered after.
- N and avgdl are a 1-row NARROW aggregate over the document table
  itself (count + sum of token counts — no explode, no shuffle),
  broadcast back in-plan. Every document contributes >= 1 token (empty
  text normalizes to one empty-string token), so these equal the old
  postings-side countDistinct/sum exactly.
- The query set is tiny by contract and broadcast; top-k per query is
  a window partitioned BY QUERY — bounded state.
At 100 TB the postings themselves would persist as a bucketed-by-word
table (the "index build"); ``build_postings`` is that seam — the
scoring path below it is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_text
from ..sources import local_frame


def build_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, doc_id, tf) postings from one corpus scan.

    Normalization matches the dedup/LM family (lowercase, collapsed
    whitespace) so index terms and query terms agree. An empty document
    normalizes to a single empty-string token, identically on the
    DuckDB oracle side.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("word"),
    )
    return words.groupBy("word", "doc_id").agg(F.count(F.lit(1)).alias("tf"))


def bm25_candidates(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate postings with every BM25 statistic attached:
    ``(query_id, word, doc_id, tf, df, dl, n_docs, total_tokens)`` —
    one row per (query term x containing document).

    This is the shared, k1-independent part of BM25: callers score it
    with :func:`bm25_score_topk` once per parameterization, so a hybrid
    (``rrf_fuse`` over several k1/b settings) pays ONE corpus pass
    total. The table is candidate-sized (a handful of terms' postings),
    so materializing it between consumers is cheap at any corpus size.

    Statistics contract (identical to classic corpus-wide BM25):
    - ``dl`` = total tokens of the document = size of its normalized
      token split, computed at scan time and carried THROUGH the
      postings aggregate (``first(dl)`` — constant within a doc group);
    - ``df`` = number of documents containing the word, counted over
      the (query_id, word) partition after the query-term join: all of
      a surviving word's postings survive the join, once per query
      referencing the word, so the per-query count equals the
      corpus-wide df (partitioning by word alone would double-count
      when two queries share a term);
    - ``n_docs`` / ``total_tokens`` from one narrow 1-row aggregate
      over the document table (every doc yields >= 1 token).
    """
    norm = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalized_text(F.col(text_col)), " ").alias("__toks"),
    )
    words = norm.select(
        "doc_id",
        F.size("__toks").alias("__dl"),
        F.explode("__toks").alias("word"),
    )
    postings = words.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.first("__dl").alias("__dl"),
    )
    corpus = norm.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.size("__toks")).cast("double").alias("total_tokens"),
    )
    qdf = local_frame(spark, queries, "query_id long, qtext string")
    qterms = qdf.select(
        "query_id",
        F.explode(F.split(normalized_text(F.col("qtext")), " ")).alias("word"),
    ).distinct()
    cand = postings.join(F.broadcast(qterms), "word")
    return (
        cand.withColumn(
            "df",
            F.count(F.lit(1))
            .over(Window.partitionBy("query_id", "word"))
            .cast("double"),
        )
        .withColumn("dl", F.col("__dl").cast("double"))
        .drop("__dl")
        .crossJoin(F.broadcast(corpus))
    )


def bm25_score_topk(
    cand: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    ndigits: int = 4,
) -> DataFrame:
    """Score a :func:`bm25_candidates` table and keep the top-k docs
    per query (row_number by rounded score DESC, doc_id — deterministic
    and engine-portable).

    score(q, d) = sum over distinct terms t of q present in d of
      idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
      idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))
    """
    avgdl = F.col("total_tokens") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    scored = cand.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(idf * tf_part), ndigits).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 4,
) -> DataFrame:
    """BM25 top-k documents per query — the single-parameterization
    composition of :func:`bm25_candidates` + :func:`bm25_score_topk`.

    Output: (query_id, doc_id, score), identical values to the classic
    corpus-wide-window formulation (see ``bm25_candidates`` for the
    statistics-equivalence argument).
    """
    cand = bm25_candidates(
        spark, docs, queries, text_col=text_col, id_col=id_col
    )
    return bm25_score_topk(cand, k=k, k1=k1, b=b, ndigits=ndigits)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    topk: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval rankings (Cormack et al.):
    rrf(d) = sum over systems of 1 / (k + rank_d). The standard hybrid
    of lexical (BM25) and vector (ANN) retrieval — rank-based, so
    incomparable score scales fuse without calibration.

    Each input must carry (query_id, doc_id, rank) with rank 1-based
    and deterministic. The union is a per-query rollup: shuffle keys
    are (query_id, doc_id), per-query state is bounded by the fused
    candidate pool, and the final top-k is a per-query window —
    nothing corpus-wide anywhere.

    Returns (query_id, doc_id, rrf_score, fused_rank), fused_rank
    row_numbered by (rounded score DESC, doc_id) for engine-portable
    determinism.
    """
    from functools import reduce

    contribs = [
        r.select(
            "query_id",
            "doc_id",
            (F.lit(1.0) / (F.lit(k) + F.col("rank"))).alias("__c"),
        )
        for r in rankings
    ]
    unioned = reduce(lambda a, b: a.unionAll(b), contribs)
    scored = unioned.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("__c"), ndigits).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= topk)
    )
