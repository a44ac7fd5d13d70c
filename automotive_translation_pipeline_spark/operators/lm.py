"""Corpus language-model scoring for quality filtering.

CCNet (Wenzek et al. 2019) ranks web documents by LM perplexity and
keeps the low-perplexity head; at corpus scale the cheap, fully
distributable stand-in is a unigram model trained on the corpus itself:
score each document by the mean negative log-probability of its words
under the corpus unigram distribution. Low surprisal = common/
boilerplate text, high surprisal = rare vocabulary (or noise) — both
tails are useful gates, and the score is a pure function of the corpus
so it replays deterministically.

Scale shape (same discipline as segment_dup_stats): the corpus is
scanned and word-exploded exactly ONCE, immediately collapsed to
(word, doc, count) pairs by a partially-aggregated groupBy (map-side
combine), and every downstream step — per-word corpus frequency
(window over the pairs), the global total (1-row aggregate broadcast
back in-plan), and the per-doc weighted rollup — runs over those
pre-aggregated pairs. No vocabulary-sized join against the exploded
stream, no driver-side collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_text
from ..sources import local_frame
from .staging import stage


# Same row gate as BIGRAM_BROADCAST_MAX_VOCAB, for the word
# vocabulary — which Heaps' law keeps orders of magnitude smaller
# still (the sf100 corpus has 8.0M distinct bigrams but far fewer
# distinct words), so real corpora sit under it at any scale this
# engine will ever see; the fallback keeps the fp-keyed shuffle-hash
# join for pathological vocabularies.
UNIGRAM_BROADCAST_MAX_VOCAB = 16_000_000
# Byte gate beside the row gate (ADVICE r9): unlike the bigram table's
# fixed 16-byte (bigint,bigint) rows, the wc build side carries
# variable-length word STRINGS — a noisy web corpus near the row gate
# could broadcast 1 GB+ per executor. Estimated bytes = rows ×
# (2 × avg word chars + ~48 B row overhead), both observed on the
# pass that checkpoints wc; 512 MB keeps the relation comfortably
# inside executor memory.
UNIGRAM_BROADCAST_MAX_BYTES = 512 * 1024 * 1024


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 4,
    broadcast_max_vocab: int | None = None,
) -> DataFrame:
    """Per-document mean unigram surprisal, -mean(ln p(word)), under
    the corpus's own unigram distribution.

    Output: (id, n_words, avg_surprisal). A uniform-vocabulary corpus
    scores exactly ln(V) everywhere; documents of corpus-rare words
    score higher. Empty documents normalize to a single empty-string
    token and participate like any other word (identical on the oracle
    side).

    SIDE EFFECT — eager, frozen counts (round 9): CONSTRUCTING this
    DataFrame runs the corpus word-count aggregate (``localCheckpoint``
    at build time, vocabulary-sized result) so the join strategy can
    be picked from the known vocabulary size. The gate's row and
    character counts are an ``Observation`` on that same pass, so the
    build runs no other job. The counts are FROZEN —
    rebuild the DataFrame to re-count (same contract as
    :func:`bigram_surprisal` and DSIR). The freeze is stronger than
    stale probabilities: the pairs side re-reads the LIVE source at
    execution while wc stays frozen, and the inner pairs⋈wc join
    silently DROPS any word absent from the frozen vocabulary — so a
    source mutated between build and execution changes ``n_words`` and
    the per-doc mean, not just p(word). Rebuild after any source
    change.
    """
    if broadcast_max_vocab is None:
        broadcast_max_vocab = UNIGRAM_BROADCAST_MAX_VOCAB
    base = df.select(F.col(id_col), F.col(text_col))
    exploded = F.explode(
        F.split(normalized_text(F.col(text_col)), " ")
    ).alias("word")
    words = base.repartition(F.col(id_col)).select(F.col(id_col), exploded)
    pairs = words.groupBy("word", id_col).agg(F.count(F.lit(1)).alias("__n"))
    # Corpus word counts as a hash aggregate + join, NOT
    # sum().over(Window.partitionBy(word)): the window sorts the whole
    # (word, doc) pair stream by word — the span family measured that
    # exact shape super-linear by sf100, and this one was the
    # dominant cost of text_perplexity_buckets (surprisal is ~93% of
    # that query). The count branch re-explodes the corpus FROM THE RAW
    # SCAN — deliberately not from `words`, whose repartition(id) would
    # make this branch replay a corpus-wide raw-text exchange that a
    # groupBy(word) cannot use (AQE's stage cache does not dedupe a
    # shared repartition; SCALE.md round-7 continuation). From the scan,
    # map-side partial aggregation collapses to vocabulary size before
    # the only exchange — a genuinely shuffle-free second map pass.
    # Round 9: the vocab table is checkpointed (vocabulary-sized, so
    # the checkpoint is bucket-table-cheap) and BROADCAST into the
    # pairs join under the size gate — the same shape that made
    # bigram_surprisal sublinear. Under broadcast the pairs stream
    # keeps the hashpartitioning(id) it got from the explicit
    # repartition, so groupBy(word,id), the wc probe, AND the final
    # groupBy(id) all run exchange-free: the per-doc side pays exactly
    # ONE exchange end-to-end (the raw-doc repartition). The old
    # shuffle_hash probe re-exchanged the pairs stream BY WORD — the
    # Zipf-hot key — and then exchanged again for the doc rollup.
    # Above the gate it falls back to that shuffle-hash join, which is
    # the scale-safe shape for a pathological vocabulary.
    # Both gate legs are observed on the checkpoint's own pass over wc,
    # so they cost no job of their own: the row gate bounds
    # driver/executor hash-table entries, the byte gate bounds the
    # actual relation size for variable-length words (ADVICE r9 — a
    # 16M-row vocabulary of long tokens is not 16M × 16 B).
    gate = Observation("unigram_gate")
    wc = stage(
        base.select(exploded)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__wc"))
        .observe(
            gate,
            F.count(F.lit(1)).alias("__rows"),
            F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("__chars"),
        )
    )
    stats = gate.get
    est_bytes = stats["__chars"] * 2 + stats["__rows"] * 48
    if (
        stats["__rows"] <= broadcast_max_vocab
        and est_bytes <= UNIGRAM_BROADCAST_MAX_BYTES
    ):
        with_wc = pairs.join(F.broadcast(wc), "word")
    else:
        with_wc = pairs.join(wc.hint("shuffle_hash"), "word")
    # -mean(ln(wc/total)) = ln(total) - mean(ln(wc)): factoring the
    # global total OUT of the per-word term lets the whole corpus-side
    # computation finish in one pass, leaving total as a 1-row reduce
    # over the PER-DOC aggregate (one row per document — the cheap
    # thing to persist; deriving total from the pairs directly would
    # either re-run the scan+explode branch or cache the pairs, both
    # corpus-sized costs).
    per_doc = stage(with_wc.groupBy(id_col).agg(
        F.sum("__n").alias("n_words"),
        (F.sum(F.col("__n") * F.log(F.col("__wc"))) / F.sum("__n")).alias(
            "__mean_ln_wc"
        ),
    ), "cache")
    total = per_doc.agg(F.sum("n_words").alias("__total"))
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        F.col("n_words"),
        F.round(
            F.log(F.col("__total")) - F.col("__mean_ln_wc"), ndigits
        ).alias("avg_surprisal"),
    )


def split_word_drift(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_fraction: float = 0.1,
    top_k: int = 20,
    ndigits: int = 6,
) -> DataFrame:
    """Distribution drift between the train and eval splits: the top-k
    words by contribution to the Jensen-Shannon divergence between the
    splits' add-one-smoothed unigram distributions (smoothing over the
    joint vocabulary keeps split-exclusive words finite). JS rather
    than KL(train||eval) because KL weights each word's term by its
    TRAIN mass — a word that exists only in eval gets almost no weight,
    which is exactly the word the diagnostic must surface; the JS term
    0.5*(p*ln(p/m) + q*ln(q/m)) with m=(p+q)/2 is symmetric and
    pointwise non-negative, so one ranking flags drift in either
    direction. A well-mixed hash split shows uniformly tiny terms; a
    spike names the word — the cheap standing diagnostic for split
    skew and contamination-shaped drift between corpus snapshots.

    Scale shape: one corpus scan; the split label is a pure expression
    of the id (the same md5 bucket as the samplers — no join against a
    membership table); the per-word split counts collapse map-side into
    one vocabulary-sized table, which the totals (1-row aggregate) and
    the scored top-k both read (caching it measured two jobs more and
    no less CPU); the top-k is a TakeOrdered, never a global sort.
    """
    from .sampling import split_of

    words = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(F.col(id_col))
        .select(
            split_of(F.col(id_col), eval_fraction).alias("__split"),
            F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("word"),
        )
    )
    vocab = words.groupBy("word").agg(
        F.count(F.when(F.col("__split") == "train", F.lit(1))).alias("n_train"),
        F.count(F.when(F.col("__split") == "eval", F.lit(1))).alias("n_eval"),
    )
    totals = vocab.agg(
        F.sum("n_train").cast("double").alias("__t_tr"),
        F.sum("n_eval").cast("double").alias("__t_ev"),
        F.count(F.lit(1)).cast("double").alias("__v"),
    )
    p_tr = (F.col("n_train") + 1) / (F.col("__t_tr") + F.col("__v"))
    p_ev = (F.col("n_eval") + 1) / (F.col("__t_ev") + F.col("__v"))
    m = (p_tr + p_ev) / 2
    scored = vocab.crossJoin(F.broadcast(totals)).withColumn(
        "__js", (p_tr * F.log(p_tr / m) + p_ev * F.log(p_ev / m)) / 2
    )
    return (
        scored.orderBy(F.col("__js").desc(), F.col("word"))
        .limit(top_k)
        .select(
            "word",
            "n_train",
            "n_eval",
            F.round(F.col("__js"), ndigits).alias("js_term"),
        )
    )


# Broadcast the vocabulary's ln-p table into the corpus-stream join
# when the (checkpointed, so cheaply countable) distinct-bigram table
# is at most this many rows: 16M rows x ~16 B is a ~0.25-0.5 GB build
# side — comfortably inside a 4 GB+ executor, and it deletes the
# corpus-sized stream exchange entirely (the measured single-disk
# spill residual at sf100). Heaps' law keeps real corpora under it for
# a long time (sf100 = 270M-word corpus = 8.0M distinct bigrams); a
# true 100 TB vocabulary (~10^10) blows the gate and falls back to the
# fingerprint-keyed shuffle-hash join, which stays skew-free.
BIGRAM_BROADCAST_MAX_VOCAB = 16_000_000


def _bigram_fp_check_enabled() -> bool:
    """xxhash64 keys are non-injective in theory; this opt-in guard
    (``SPARK_GRAFT_BIGRAM_FP_CHECK=1``, read per call so tests can
    toggle it) pays one extra corpus pass to verify the hashed
    vocabulary is collision-free on THIS corpus — outside the flag,
    an oracle hash-red is the only detection path (ADVICE r9)."""
    return os.environ.get("SPARK_GRAFT_BIGRAM_FP_CHECK", "") in (
        "1", "true", "yes",
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 4,
    broadcast_max_vocab: int | None = None,
) -> DataFrame:
    """Per-document mean CONDITIONAL surprisal -mean(ln p(w2|w1)) under
    the corpus bigram model, p(w2|w1) = c(w1 w2) / c(w1 as bigram
    head). One step up the LM ladder from unigram_surprisal: boilerplate
    with common words in UNUSUAL orders (shuffled spam, template
    stitching) scores high here while passing the unigram gate.

    Same scale discipline as unigram, hardened after sf100 measured
    the original three-explode / two-stream-join form super-linear
    (7.2x per 3.33x data):

    - The per-doc stream is ``(doc, fp)`` where ``fp`` is
      ``xxhash64(w1, w2)`` — a primitive BIGINT key, computed once at
      the map side and the ONLY thing the corpus stream ever carries
      besides the doc id. The round-8 key was 16 md5 bytes, round 9's
      first cut 8 md5 bytes; xxhash64 keeps the 8-byte width but (a)
      swaps a cryptographic hash + hex substring + unhex chain for
      one non-crypto JVM intrinsic on the 2x270M-row hot path and
      (b) rides Tungsten as an inline primitive instead of a
      length-prefixed binary. 64 bits is not injective IN THEORY
      (P[collision] ≈ n²/2⁶⁵ ≈ 2e-6 at the sf100 vocabulary of 8M
      bigrams; a collision merges two bigrams' counts in this scorer
      but NOT in the word-exact SQL oracle) — verified collision-free
      on the committed corpora at sf0.001..sf0.1 (oracle hash-green)
      and sf100 (distinct fp == distinct bigram count, SCALE.md
      round 9); at a true 100 TB vocabulary (~10¹⁰ bigrams) the
      expected handful of collisions is statistically irrelevant to
      a per-doc mean over thousands of occurrences. The stream is
      deliberately NOT pre-collapsed to (doc, fp, n): the collapse
      costs its own full exchange, and in natural text within-doc
      repeat bigrams are few — one Z-row exchange beats two X-row
      exchanges with Z/X ≈ 1.
    - Both log-count terms are folded into ``ln p = ln c12 − ln c1``
      ON the bigram-vocabulary table before it ever meets the
      per-doc stream, so the corpus-sized stream joins exactly ONCE,
      on the uniformly-distributed fingerprint. The old second join
      partitioned the stream by w1 — the head word — and Zipf makes
      the hottest head a constant fraction of the whole corpus: a
      skewed exchange that grows super-linearly with data. The w1
      join now happens between two sub-corpus vocabulary tables,
      where AQE's skew handling can still split the hot heads.
    - The stream⋈lnp join BROADCASTS the vocabulary side whenever the
      checkpointed c12 table is small enough
      (``broadcast_max_vocab``, default
      :data:`BIGRAM_BROADCAST_MAX_VOCAB` = 16M rows ≈ 0.25-0.5 GB):
      Heaps' law saturates the distinct-bigram table (8.0M rows
      against a 270M-word corpus at sf100), and broadcasting it
      deletes the corpus-sized fp exchange — the measured
      single-disk shuffle-spill residual that kept this operator
      super-linear (4.6-4.9x per 3.33x at sf100, VERDICT r8 #4). The
      corpus stream then pays exactly ONE exchange end-to-end: the
      per-doc rollup, which partial-aggregates to doc-count size
      map-side first. Above the gate (a true 100 TB vocabulary) it
      falls back to the fingerprint-keyed shuffle-hash join, which
      is uniform by construction.
    - TWO corpus passes total: the stream, and the c12 aggregate.
      c(w1) is derived from the c12 table, which is eager-
      checkpointed first — so the checkpoint is bucket-table-cheap
      and saves the third explode+aggregate pass a recomputed c1
      would cost. The head key rides as ``xxhash64(w1)`` (``__h1``),
      never the string: the hot 270M-row partial aggregate and the
      c12⋈c1 join both stay on fixed-width primitive keys.

    Hash aggregates + hash joins throughout, never windows over the
    pair stream. Raw text never shuffles. Documents under 2 words
    have no bigrams and drop out — identically in the SQL oracle.

    SIDE EFFECT — eager, frozen counts: CONSTRUCTING this DataFrame
    runs the full c12 corpus aggregate (``localCheckpoint`` at
    build time; the gate's vocabulary size is an ``Observation`` on
    that pass), unlike the module's lazy operators, and the
    checkpointed bigram counts are FROZEN — a plan built once and
    executed later against changed source data keeps the counts from
    construction time. Rebuild the DataFrame to re-count.
    """
    if broadcast_max_vocab is None:
        broadcast_max_vocab = BIGRAM_BROADCAST_MAX_VOCAB
    words = F.split(normalized_text(F.col(text_col)), " ")
    n = F.size(words)
    base = df.select(F.col(id_col), words.alias("__w")).filter(n >= 2)
    bg_cols = F.explode(
        F.arrays_zip(
            F.slice("__w", 1, F.size("__w") - 1).alias("w1"),
            F.slice("__w", 2, F.size("__w") - 1).alias("w2"),
        )
    ).alias("bg")
    fp = F.xxhash64(F.col("bg.w1"), F.col("bg.w2")).alias("__fp")
    stream = base.select(id_col, bg_cols).select(id_col, fp)
    h1 = F.xxhash64(F.col("bg.w1")).alias("__h1")
    # The vocabulary size is observed on the checkpoint's own pass, so
    # the broadcast gate below costs no job of its own.
    vocab = Observation("bigram_vocab")
    c12 = stage(
        base.select(bg_cols)
        .select(h1, fp)
        .groupBy("__h1", "__fp")
        .agg(F.count(F.lit(1)).alias("__c12"))
        .observe(vocab, F.count(F.lit(1)).alias("__rows"))
    )
    n_bigrams = vocab.get["__rows"]
    if _bigram_fp_check_enabled():
        # One extra corpus pass: exact distinct (w1,w2) and w1 counts
        # must equal the hashed table's — an __fp collision merges two
        # bigram rows (count shortfall), an __h1 collision merges two
        # heads.
        exact = base.select(bg_cols).agg(
            F.countDistinct("bg.w1", "bg.w2").alias("__nbg"),
            F.countDistinct("bg.w1").alias("__nw1"),
        ).first()
        got_w1 = c12.select("__h1").distinct().count()
        if n_bigrams != exact["__nbg"] or got_w1 != exact["__nw1"]:
            raise ValueError(
                "bigram_surprisal: xxhash64 collision on this corpus "
                f"(distinct bigrams exact={exact['__nbg']} "
                f"hashed={n_bigrams}; heads exact={exact['__nw1']} "
                f"hashed={got_w1}) — counts would silently merge; "
                "use a wider key for this corpus"
            )
    c1 = c12.groupBy("__h1").agg(F.sum("__c12").alias("__c1"))
    # Expression mirrors the SQL oracle ulp-for-ulp: ln(c12/c1) with a
    # double division, NOT ln(c12)-ln(c1).
    lnp = (
        c12.join(c1.hint("shuffle_hash"), "__h1")
        .select(
            "__fp",
            F.log(
                F.col("__c12").cast("double") / F.col("__c1").cast("double")
            ).alias("__lnp"),
        )
    )
    if n_bigrams <= broadcast_max_vocab:
        joined = stream.join(F.broadcast(lnp), "__fp")
    else:
        joined = stream.join(lnp.hint("shuffle_hash"), "__fp")
    return (
        joined
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(-F.col("__lnp")) / F.count(F.lit(1)), ndigits).alias(
                "avg_surprisal"
            ),
        )
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_dim: int = 8192,
) -> DataFrame:
    """Per-document score from a hashing-trick linear text classifier —
    the execution shape of a fastText-style quality model (a linear
    layer over hashed bag-of-words features, the architecture behind
    CCNet's and DataComp's cheap quality classifiers) with a
    deterministic md5-derived weight table standing in for trained
    coefficients (no training happens here; swap ``hash_dim``-bucket
    md5 weights for a real model's vector and the plan is unchanged).

    The hashing trick is what makes this a 100 TB operator: there is NO
    vocabulary table and NO join — each word occurrence maps to
    ``w = bucket(md5(word)) - hash_dim/2`` (an integer in
    [-hash_dim/2, hash_dim/2)) inside whole-stage codegen, documents
    collapse map-side to an exact integer sum, and the mean score is a
    single division per document. One keyed shuffle (the per-doc
    rollup); integer domain throughout so the score is bit-identical
    cross-engine (float sums are order-dependent; BIGINT sums are not).

    Output: (id, n_words, score_micro) with ``score_micro =
    round(mean(w) / (hash_dim/2) * 1e6)`` — a [-1e6, 1e6) integer.
    """
    from .sampling import hash_bucket

    half = hash_dim // 2
    words = df.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias(
            "word"
        ),
    )
    w_int = hash_bucket(F.col("word"), hash_dim) - F.lit(half)
    return words.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.floor(
            (F.sum(w_int).cast("double") / (F.count(F.lit(1)) * float(half)))
            * 1e6
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("score_micro"),
    )


def bpe_top_pairs(
    df: DataFrame, text_col: str = "text", k: int = 20
) -> DataFrame:
    """Top-k adjacent-character-pair frequencies — the first merge
    iteration of BPE tokenizer training (Sennrich et al. 2016: count
    symbol pairs over the word-frequency dictionary, merge the most
    frequent). Selecting merge #1 is the primitive; a full tokenizer
    loops it over a shrinking vocab with the previous merges applied.

    Scale shape: the corpus explodes to words ONCE and collapses
    map-side to the (word, freq) vocabulary — every later step runs
    over the vocab, which is orders of magnitude smaller than the
    corpus (pair explosion is per DISTINCT word, weighted by its
    frequency, never per occurrence). Top-k is a TakeOrdered, not a
    global sort; ties break on the pair text so the cut is total.

    Output: (pair, pair_count), ``pair`` the 2-char substring.
    """
    words = df.select(
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias(
            "word"
        )
    )
    # Same \w+ vocabulary as bpe_train_merges, so this IS its round-1
    # candidate list on any corpus, not just punctuation-free ones.
    vocab = (
        words.filter(F.col("word").rlike("^\\w+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__wf"))
    )
    # sequence(1, 0) would DESCEND in Spark — guard short words first.
    pairs = (
        vocab.filter(F.length("word") >= 2)
        .select(
            "__wf",
            "word",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("__i"),
        )
        .select(
            F.col("word").substr(F.col("__i"), F.lit(2)).alias("pair"),
            "__wf",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("__wf").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(k)
    )


def char_stats_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 4,
) -> DataFrame:
    """Per-document character stats — (id, n_chars_norm,
    n_distinct_chars, char_entropy) — on the Arrow fast path.

    Same contract and values as the column-expression form
    (functions/text.py:char_entropy + the array_distinct count), but
    the per-char work runs as one numpy histogram per document instead
    of an interpreted higher-order aggregate: ArrayAggregate/ArraySort
    are CodegenFallback expressions, so the "codegen" sorted-run form
    actually walks a per-element interpreter (13.8 s at sf1); here each
    document is utf-32-decoded to a uint32 codepoint vector and
    np.unique(return_counts) bincounts it at C speed. Normalization
    stays NATIVE (the same normalized_text expression), so Java/Python
    regex and lowercasing semantics never diverge — Python only ever
    sees the already-normalized string.

    Entropy accumulates in the same order as the sorted-run form
    (np.unique sorts by codepoint; UTF-8 binary order == codepoint
    order), H = log2(n) - sum(c*log2 c)/n. Empty docs pin to
    (0, 1, 0.0) exactly like the column form (split('','') -> ['']);
    NULL text propagates NULL for all three stats, also like the
    column form (masked Arrow arrays, not a ''-coercion). Rounding
    happens Spark-side (HALF_UP, same as every oracle-facing float
    here).
    """
    import math

    import numpy as np
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    work = df.select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("__nt")
    )

    def kernel(batches):
        for pdf in batches:
            ns = np.zeros(len(pdf), dtype=np.int64)
            ds = np.zeros(len(pdf), dtype=np.int64)
            hs = np.zeros(len(pdf), dtype=np.float64)
            null = np.zeros(len(pdf), dtype=bool)
            for i, s in enumerate(pdf["__nt"]):
                if s is None:
                    null[i] = True
                    continue
                codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                n = codes.size
                if n == 0:
                    ns[i], ds[i], hs[i] = 0, 1, 0.0
                    continue
                counts = np.unique(codes, return_counts=True)[1].astype(
                    np.float64
                )
                ns[i] = n
                ds[i] = counts.size
                hs[i] = math.log2(n) - float(
                    (counts * np.log2(counts)).sum()
                ) / n
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_chars_norm": pd.arrays.IntegerArray(ns, mask=null),
                    "n_distinct_chars": pd.arrays.IntegerArray(ds, mask=null),
                    "__h": pd.arrays.FloatingArray(hs, mask=null),
                }
            )

    out = work.mapInPandas(
        kernel,
        f"{id_col} {id_type}, n_chars_norm long, "
        "n_distinct_chars long, __h double",
    )
    return out.select(
        id_col,
        "n_chars_norm",
        "n_distinct_chars",
        F.round(F.col("__h"), ndigits).alias("char_entropy"),
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> "DataFrame":
    """Iterative BPE tokenizer training (Sennrich et al. 2016), the
    full loop: start from the char-split word-frequency vocabulary;
    each round counts adjacent symbol pairs weighted by word frequency,
    merges the single most frequent pair (ties: lexicographic) across
    the whole vocabulary, and repeats on the merged symbols. Returns
    the learned merge table (merge_rank, left, right, pair_count) —
    ``bpe_top_pairs`` is exactly round 1's candidate list.

    Iterative-algorithm shape (same discipline as PageRank): the corpus
    collapses ONCE to the (symbols, freq) vocabulary; every round runs
    over the vocabulary only, the argmax merge is a 1-row driver fetch
    (the decision is inherently sequential), and the rewritten vocab is
    localCheckpoint-fenced so lineage stays flat across rounds. The
    merge rewrite is a left-to-right greedy fold over each word's
    symbol array — non-overlapping, and a token created by this
    round's merge never re-merges within the round (l+r is strictly
    longer than l, so the fold's last-element test cannot re-fire).

    Symbols must stay word-characters-only (true for the normalized
    corpus); enforced so merge tokens remain unambiguous.
    """
    words = df.select(
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias(
            "word"
        )
    )
    _, merges = _bpe_loop(words, n_merges)
    return local_frame(
        df.sparkSession,
        merges,
        "merge_rank int, left string, right string, pair_count long",
    )


def _bpe_loop(
    words: DataFrame, n_merges: int, counted: bool = False
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """The BPE training loop body: returns the FINAL (word, symbols,
    wf) vocabulary after ``n_merges`` rounds plus the merge list. The
    word column rides along untouched so callers can map corpus words
    to their learned segmentation (``bpe_tokenize_stats``).

    ``counted=True`` means ``words`` is already the aggregated
    (word, wf) table — callers that need per-group counts anyway
    (``bpe_tokenize_stats``) derive the training frequencies from
    their own rollup instead of paying a second corpus explode."""
    counts = (
        words
        if counted
        else words.groupBy("word").agg(F.count(F.lit(1)).alias("wf"))
    )
    vocab = stage(
        counts.filter(F.col("word").rlike("^\\w+$")).select(
            "word",
            # Spark's split keeps a trailing "" (the (?!^) lookahead
            # also matches at end-of-string under Java's limit=-1);
            # drop empties so no phantom symbol enters the pair counts.
            F.filter(
                F.split(F.col("word"), "(?!^)"), lambda x: x != ""
            ).alias("symbols"),
            F.col("wf"),
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.filter(F.size("symbols") >= 2)
            .select(
                "wf",
                F.explode(
                    F.sequence(F.lit(1), F.size("symbols") - 1)
                ).alias("__i"),
                "symbols",
            )
            .select(
                F.element_at("symbols", F.col("__i")).alias("left"),
                F.element_at("symbols", F.col("__i") + 1).alias("right"),
                "wf",
            )
            .groupBy("left", "right")
            .agg(F.sum("wf").alias("pair_count"))
        )
        top = pairs.orderBy(
            F.desc("pair_count"), F.asc("left"), F.asc("right")
        ).first()
        if top is None:
            break
        lft, rgt = top["left"], top["right"]
        merges.append((rank, lft, rgt, int(top["pair_count"])))
        merged_lit = F.lit(lft + rgt)
        l_lit, r_lit = F.lit(lft), F.lit(rgt)
        folded = F.aggregate(
            F.col("symbols"),
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == l_lit)
                & (x == r_lit),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(merged_lit),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = stage(vocab.select("word", folded.alias("symbols"), "wf"))
    return vocab, merges


def bpe_tokenize_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    n_merges: int = 3,
) -> DataFrame:
    """Apply the learned BPE segmentation back to the corpus: train
    ``n_merges`` merges corpus-wide (``_bpe_loop``), then report the
    compression the tokenizer achieves per ``group_col`` — word
    occurrences, total BPE tokens, and tokens-per-word (micro-quantized
    integer so the ratio is engine-exact). The apply step is a join
    against the (word -> final symbols) vocabulary, not a re-fold:
    tokenizing is vocabulary-lookup-shaped at any corpus size (the
    vocab is orders of magnitude smaller than the corpus; Spark/AQE
    picks broadcast when it fits).

    Words outside the trained ``\\w+`` vocabulary are excluded on both
    sides (identically in the oracle).

    Round 10 (guide §1.2): ONE corpus explode, not two — the corpus
    collapses once to the per-group (group, word, n) table (map-side
    combined, checkpointed at vocabulary size), and the training
    frequencies are its word-level rollup (sum of per-group counts ==
    the old direct count, exact integers), fed to ``_bpe_loop`` as a
    pre-counted vocabulary. SIDE EFFECT: like every _bpe_loop caller,
    the corpus pass runs at construction and the counts are frozen.
    """
    words = df.select(
        F.col(group_col),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias(
            "word"
        ),
    ).filter(F.col("word").rlike("^\\w+$"))
    counts = stage(
        words.groupBy(group_col, "word").agg(F.count(F.lit(1)).alias("__n"))
    )
    wordfreq = counts.groupBy("word").agg(F.sum("__n").alias("wf"))
    vocab, _ = _bpe_loop(wordfreq, n_merges, counted=True)
    joined = counts.join(
        vocab.select("word", F.size("symbols").alias("__n_tok")), "word"
    )
    return joined.groupBy(group_col).agg(
        F.sum("__n").alias("n_words"),
        F.sum(F.col("__n") * F.col("__n_tok")).alias("n_tokens"),
        F.floor(
            (
                F.sum(F.col("__n") * F.col("__n_tok")).cast("double")
                / F.sum("__n")
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("tokens_per_word_micro"),
    )


def gopher_repetition_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Gopher duplicate n-gram char fractions (Rae et al. 2021) on the
    Arrow fast path: per document and n, the fraction of characters in
    n-gram instances that occur more than once within the document,
    quantized to integer 1e-4 (floor(x*1e4 + 0.5)).

    Duplicate counting is within-document by definition, so the right
    plan has ZERO shuffles. Two shuffle-free forms were measured at
    sf10 (500k docs) before this one: explode + (doc, n, gram) hash
    aggregate exchanges ~80M string rows for a per-row computation;
    a pure column form (array_sort + sorted-adjacency higher-order
    lambdas) avoids the exchange but ArrayAggregate/ArrayFilter/
    ArraySort are CodegenFallback — an interpreted per-element walk,
    159 s at sf10. Here each document is one Counter pass per n at
    C-dict speed inside mapInPandas (~6 s at sf10, 26x). Normalization
    stays NATIVE (the same normalized_text expression), so Java/Python
    regex semantics never diverge — Python only sees the normalized
    string. NULL text yields no rows (the column/SQL form's inner-join
    shape); docs shorter than n words yield no row for that n.
    """
    from collections import Counter

    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    work = df.select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("__nt")
    )
    schema = (
        f"{id_col} {id_type}, n int, n_grams bigint, dup_char_frac_e4 bigint"
    )

    def kernel(batches):
        for pdf in batches:
            ids, out_n, cnts, fracs = [], [], [], []
            for did, s in zip(pdf[id_col], pdf["__nt"]):
                if s is None:
                    continue
                words = s.split(" ")
                m = len(words)
                for n in ns:
                    if m < n:
                        continue
                    grams = [
                        " ".join(words[i:i + n]) for i in range(m - n + 1)
                    ]
                    counts = Counter(grams)
                    total = dup = 0
                    for gram, c in counts.items():
                        chars = len(gram) * c
                        total += chars
                        if c > 1:
                            dup += chars
                    ids.append(did)
                    out_n.append(n)
                    cnts.append(len(grams))
                    fracs.append(int(dup * 10000.0 / total + 0.5))
            yield pd.DataFrame({
                id_col: ids, "n": out_n,
                "n_grams": cnts, "dup_char_frac_e4": fracs,
            })

    return work.mapInPandas(kernel, schema=schema)
