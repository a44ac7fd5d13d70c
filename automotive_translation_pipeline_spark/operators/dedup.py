"""Deduplication operators — R-12 from the reference plus the
training-data-pipeline dedup family (exact, MinHash/LSH, SimHash,
n-gram Jaccard, embedding near-dup) mandated by BASELINE.json.

Scale notes: every variant here is shuffle-bounded by design —
exact dedup shuffles once on the fingerprint; MinHash/LSH shuffles on
band buckets (candidate pairs only, never the n² cross join); embedding
near-dup blocks by LSH bucket before the pairwise check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import (
    doc_fingerprint,
    normalized_text,
    word_shingles,
    word_shingles_of,
)


def anti_join_dedup(
    full: DataFrame, done: DataFrame, key: str = "description_id"
) -> DataFrame:
    """R-12: drop rows whose key already appears in the done table
    (reference ``preprocessing/duplicate_remove.py:11-21`` — pandas
    ``~isin``). Broadcast-anti-join when `done` is small; shuffles on
    the key otherwise."""
    return full.join(done.select(key).distinct(), key, "left_anti")


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup by content fingerprint: keep the lowest-id row per
    normalized-text hash. One shuffle on the 128-bit fingerprint —
    uniformly distributed, no skew, scales linearly."""
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        df.withColumn("fingerprint", doc_fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


_MERSENNE31 = 2_147_483_647  # 2^31 - 1, the affine family's modulus


def affine_minhash_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """Multipliers/offsets for the ``affine`` min-wise family:
    h_i(x) = (a_i * x + b_i) mod (2^31 - 1) over x = the first 60 md5
    bits of the shingle reduced mod the same prime. The constants are
    md5-derived 28-bit integers so both engines can embed the SAME
    literals (the oracle SQL inlines them via this function)."""
    import hashlib

    def c(prefix: str, i: int) -> int:
        return int(hashlib.md5(f"{prefix}:{i}".encode()).hexdigest()[:7], 16)

    a = [c("a", i) + 1 for i in range(num_hashes)]
    b = [c("b", i) for i in range(num_hashes)]
    return a, b


def lsh_banded_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band, bucket) LSH banding table — the shared index shape
    behind ``minhash_lsh_candidates`` (self-join) and
    ``minhash_lsh_probe`` (incremental batch-vs-index join). At scale
    this IS the persistable dedup index: write it partitioned by band
    and new batches probe it without re-hashing the corpus.

    Min-wise hash family: ONE md5+conv per shingle instance, then
    h_i = (a_i * base + b_i) mod 2^31-1 derives every seed in
    codegen-cheap integer ops (Carter-Wegman universal hashing — the
    standard practical MinHash construction; constants from
    ``affine_minhash_constants`` so the oracle embeds identical
    literals). The per-seed minima are fixed-width BIGINTs, so the
    signature is a HashAggregate, never a sort of the
    num_hashes-wide exploded stream.

    Formulated as explode → per-row hashes → groupBy-min: each shingle
    is materialized and hashed exactly once.
    Docs shorter than k words produce no shingles and drop out naturally.
    """
    rows_per_band = num_hashes // bands
    # Repartition by id BEFORE the shingle explode: the md5 ladder is
    # compute-bound (num_hashes digests per shingle instance), and
    # without this it inherits the SCAN's split count — a single-file
    # corpus ran the whole signature computation on 1-2 tasks (measured
    # at sf0.3/sf1: the stage pinned one core while 31 idled). The
    # shuffle moves only (id, text) — smaller than the hashed rows —
    # and the groupBy(id) below reuses the partitioning, so the plan's
    # total exchange count does not grow.
    # Round 10 (guide §4.2 — per-task work): stage the split word array
    # as a real column before the shingle expression. The inline
    # word_shingles(text) form re-evaluates split(regexp_replace(...))
    # once per reference (k slices + size() uses) per row, because the
    # zip/transform higher-order functions are CodegenFallback and the
    # interpreted path has no common-subexpression elimination —
    # measured 6x slower than the staged form on the sf0.1 corpus with
    # bit-identical output (same shingle count + crc checksum).
    shingled = df.select(F.col(id_col), F.col(text_col)).repartition(
        F.col(id_col)
    ).select(
        F.col(id_col),
        F.split(normalized_text(F.col(text_col)), " ").alias("__wrds"),
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles_of(F.col("__wrds"), k))
        ).alias("__sh"),
    )
    # One digest per instance; the per-seed values are cheap integer ops
    # over the staged __b column (a real column, so the md5+conv run
    # once — CollapseProject keeps non-cheap aliases referenced many
    # times staged).
    a_c, b_c = affine_minhash_constants(num_hashes)
    based = shingled.select(
        F.col(id_col),
        (
            F.conv(
                F.substring(F.md5(F.col("__sh").cast("binary")), 1, 15),
                16,
                10,
            ).cast("bigint")
            % F.lit(_MERSENNE31)
        ).alias("__b"),
    )
    hashed = based.select(
        id_col,
        *[
            (
                (F.lit(a_c[i]) * F.col("__b") + F.lit(b_c[i]))
                % F.lit(_MERSENNE31)
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sig = hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def _drop_over_cap_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Stop-bucket cap as a hash aggregate + anti-join, never a
    count-over-window: ``count(*) OVER (PARTITION BY band, bucket)`` on
    a corpus-sized banded stream is a whole-stream SORT (the same shape
    the span family purged — see first_occurrence_table). Instead the
    over-cap bucket SET is a tiny ``groupBy(band, bucket).count()``
    (bounded by n·bands/cap rows, in practice the handful of hot
    boilerplate buckets) and the stream takes one sort-free LEFT ANTI
    against it. ``hint("shuffle_hash")`` keeps the planner off
    SortMergeJoin (a grouped aggregate's static estimate can exceed the
    broadcast threshold); the resulting (band, bucket) hash
    partitioning is exactly what the downstream bucket join needs, so
    the exchange is reused, not added. AQE may still demote it to a
    runtime broadcast when the over-cap set proves tiny — either way,
    no sort touches the stream."""
    over = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .filter(F.col("__occ") > max_bucket)
        .select("band", "bucket")
    )
    return banded.join(over.hint("shuffle_hash"), ["band", "bucket"], "left_anti")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding: docs sharing any band bucket become
    candidate pairs (id_a < id_b). The self-join is on the band bucket —
    cost scales with bucket occupancy, not n².

    ``max_bucket`` (optional) is the standard LSH stop-bucket cap:
    buckets holding more than this many documents are dropped BEFORE
    the self-join, bounding the join's intermediate at
    O(max_bucket²) per bucket regardless of corpus geometry. Without
    it, a low-selectivity banding (few rows per band) on a
    small-vocabulary corpus grows hot buckets linearly with n and the
    join intermediate quadratically — measured at sf30 (1.5M docs),
    the 8x2 banding's self-join spilled past 60 GB of local disk.
    A pair is lost only if EVERY band it collides in is over-cap —
    over-cap buckets are near-universal boilerplate collisions, the
    weakest similarity evidence. Callers that need the cap must
    mirror it in any SQL oracle (QUALIFY on the bucket count).

    ``df`` may already BE a banded (id, band, bucket) table (e.g. the
    persisted index from ``lsh_banded_table``) — detected by columns,
    used as-is.
    """
    if {"band", "bucket", id_col} <= set(df.columns):
        banded = df
    else:
        banded = lsh_banded_table(df, text_col, id_col, num_hashes, bands, k)
    # Eager checkpoint before the self-join: banded is TINY (bands
    # rows per doc) but sits on top of the whole scan→shingle→md5→min
    # chain, and the self-join's two sides otherwise each recompute it
    # (lazy persist doesn't help — the two join inputs materialize as
    # racing concurrent stages, same trap as triangle_counts). One
    # bounded materialization ≈ the index-build step; measured sf1:
    # 11.8 → 10.4 s cold and ~10 → 5.8 s warm for the candidate query.
    banded = banded.localCheckpoint()
    if max_bucket is not None:
        banded = _drop_over_cap_buckets(banded, max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_lsh_probe(
    index_df: DataFrame,
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental dedup probe: near-dup candidates between a NEW batch
    and an already-indexed corpus — the daily-increment shape of a
    production pipeline, where re-running the O(corpus²-ish) self-join
    on every crawl drop is unaffordable.

    The corpus side reduces to its ``lsh_banded_table`` (at 100 TB
    this is a persisted artifact, written once, partitioned by band —
    pass it pre-computed via ``index_df`` having columns (id, band,
    bucket) and it is used as-is). The batch side is banded fresh and,
    being increment-sized, broadcast — the corpus-side
    table is then probed WITHOUT a shuffle: the only corpus-sized work
    is the banded-table scan. Output: (new_id, index_id) distinct
    candidate pairs, verify with exact Jaccard downstream exactly like
    the self-join path.

    ``max_bucket`` mirrors the stop-bucket cap on the INDEX side (hot
    boilerplate buckets would otherwise multiply every probe row).
    """
    cols = set(index_df.columns)
    if {"band", "bucket", id_col} <= cols:
        idx = index_df  # pre-built index, used as-is
    else:
        idx = lsh_banded_table(index_df, text_col, id_col, num_hashes, bands, k)
        if max_bucket is not None:
            # The cap consumes its input twice (over-cap aggregate +
            # anti-join probe): checkpoint the freshly-built banding so
            # the scan→shingle→md5→min chain runs ONCE, mirroring the
            # candidates path. A pre-built index is already a cheap
            # re-scannable artifact (parquet), so it is not checkpointed.
            idx = idx.localCheckpoint()
    if max_bucket is not None:
        idx = _drop_over_cap_buckets(idx, max_bucket)
    if {"band", "bucket", id_col} <= set(batch_df.columns):
        probe = batch_df  # already banded (e.g. shared with a self-join)
    else:
        probe = lsh_banded_table(batch_df, text_col, id_col, num_hashes, bands, k)
    return (
        F.broadcast(probe).alias("n")
        .join(
            idx.alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"i.{id_col}").alias("index_id"),
        )
        .filter(F.col("new_id") != F.col("index_id"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the candidate-pair graph: collapse
    near-dup PAIRS into dedup CLUSTERS, labeling every node with the
    minimum doc id reachable from it. This is the step after any
    pair-producing dedup (MinHash/LSH, Jaccard, embedding) — without
    it, A~B and B~C dedup to two overlapping pairs instead of one
    {A,B,C} cluster with one keeper.

    Min-label propagation: each round every node adopts the smallest
    label among itself and its neighbors, converging in O(cluster
    diameter) rounds. Near-dup clusters are dense and shallow
    (diameter ≤ ~4), so this beats the O(log n) large-star/small-star
    algorithm (Kiveris et al.) in practice; swap that in if the edge
    graph ever grows long chains. Each round is ``localCheckpoint``-ed:
    iterative self-joins otherwise stack lineage until planning
    dominates.

    Round 10 (guide §2.4): SELF-LOOP rows (node, node) union into the
    cached symmetric edge table, so the per-node grouped MIN covers
    the node's own label and each round is exactly ONE shuffle join + one
    keyed min — the old second join (labels left-joined against the
    neighbor mins) is gone. Convergence detection no longer joins new
    vs old labels either: the self-loop row carries the node's OLD
    label into the same aggregate (min over rows where nbr == node),
    so "changed" is a count observed on the round's checkpoint pass
    (an ``Observation``) — no join and no job of its own per round,
    and the detector stays type-generic (ids may be strings).
    min-over-{self ∪ neighbors} of exact values is the identical
    recurrence, so labels (and round count) are bit-identical to the
    two-join form.
    """
    # ONE pass over the (possibly expensive) upstream edge pipeline:
    # both directions explode out of a single scan, and the symmetric
    # table is cached — the old two-select union re-ran the upstream
    # per leg. The self-loop rows union in from the labels CHECKPOINT,
    # so materializing `looped` costs no extra upstream run.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("node"), F.col(dst).alias("nbr")),
                F.struct(F.col(dst).alias("node"), F.col(src).alias("nbr")),
            )
        ).alias("__e")
    ).select("__e.node", "__e.nbr").persist()
    labels = sym.select("node").distinct().withColumn("label", F.col("node"))
    labels = labels.localCheckpoint()
    looped = sym.union(labels.select("node", F.col("node").alias("nbr")))
    for _ in range(max_iter):
        changed = Observation("cc_changed")
        labels = (
            looped.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label").alias("nbr_label")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(
                F.min("nbr_label").alias("label"),
                F.min(
                    F.when(F.col("nbr") == F.col("node"), F.col("nbr_label"))
                ).alias("__old"),
            )
            .observe(
                changed,
                F.count(F.when(F.col("label") != F.col("__old"), 1)).alias("n"),
            )
            .localCheckpoint()
        )
        if changed.get["n"] == 0:
            break
    sym.unpersist()
    return labels.select("node", F.col("label").alias("component"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs >= threshold, LSH-blocked.

    Generate candidate pairs with ``minhash_lsh_candidates`` (banded
    buckets — cost scales with bucket occupancy, never n², and the
    banded table is checkpointed once), then compute the EXACT
    distinct-shingle Jaccard only on candidate pairs and keep those
    >= threshold. The verification join is two hash joins keyed on id
    over the candidate stream, so total cost is LSH-bounded — this is
    the composition the 100 TB mandate requires (an exhaustive
    shingle self-join grows with the sum of squared shingle
    frequencies: the sf3 sweep measured it at 4.8x cost for 3x data;
    this form rides the linear LSH path).

    Banding operating point — 32 hashes, 8 bands x 4 rows. Recall is
    the banding curve, not 1.0: a true pair at similarity s is missed
    with probability (1 - s^r)^b — here ~1.5e-2 at s = 0.8, ~2e-4 at
    s = 0.9; every SURVIVING pair carries its exact Jaccard. The rows
    r control FALSE-POSITIVE candidates: two random documents with
    baseline Jaccard j collide in a band with probability ~j^r, and
    the candidate intermediate is ~n² · b · j^r. The original
    recall-tuned r=2 (8x2, miss 3e-4 at 0.8) has FP ~j² — measured
    quadratic on the Zipf corpus, whose short i.i.d. documents carry
    baseline pair Jaccard ~1e-2 (31 s at sf10 → 265 s at sf30, 8.5x
    for 3x); r=4 drops FP to ~1e-8 and restores linear growth. This
    is why production MinHash dedup runs many bands of r >= 4 (e.g.
    RefinedWeb: 450 bands x 20 rows) rather than few high-recall
    short bands. ``max_bucket`` (the stop-bucket cap, see
    ``minhash_lsh_candidates``) stays as the backstop that bounds any
    residual hot bucket at O(max_bucket²).
    """
    # Checkpoint the candidate pairs: they feed the id prune AND the
    # verification join, and they are tiny (LSH-bounded) next to the
    # chain that produced them.
    cand = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands, k=k,
        max_bucket=max_bucket,
    ).localCheckpoint()
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Build shingle ARRAYS only for docs that appear in a candidate
    # pair (semi-join prune BEFORE the shingle projection): the arrays
    # are the expensive payload of the verify join, and without the
    # prune every document's array is computed and shuffled — measured
    # 20 s vs ~8 s warm at sf1.
    sets = (
        df.join(ids, id_col, "left_semi")
        .select(
            F.col(id_col),
            F.split(normalized_text(F.col(text_col)), " ").alias("__wrds"),
        )
        .select(
            F.col(id_col),
            F.array_distinct(word_shingles_of(F.col("__wrds"), k)).alias(
                "__sh"
            ),
        )
        .filter(F.size("__sh") > 0)
    )
    joined = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb")
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    # Filter the RAW value (the oracle's WHERE is raw), round only the
    # reported column — same boundary discipline as embedding_near_dup.
    jac_raw = inter.cast("double") / (F.size("__sa") + F.size("__sb") - inter)
    return (
        joined.filter(jac_raw >= threshold)
        .select("id_a", "id_b", F.round(jac_raw, 4).alias("jaccard"))
    )


def simhash64(text: Column, k: int = 1) -> Column:
    """63-bit SimHash over word (k=1) shingles as a scalar expression:
    per-bit majority vote of xxhash64(shingle) bits. Fine for ad-hoc /
    test use on short texts; for table-scale SimHash use
    ``simhash_table`` (aggregation form — this expression walks the
    shingle array once per bit). xxhash64 is Spark-side only (not
    oracle-portable; verified by unit tests instead)."""
    shingles = word_shingles(text, k)
    h = F.transform(shingles, lambda s: F.xxhash64(s))
    bits = [
        F.when(
            F.size(F.filter(h, lambda v: v.bitwiseAND(F.lit(1 << b)) != 0))  # noqa: B023
            * 2
            > F.size(h),
            F.lit(1 << b),
        ).otherwise(F.lit(0))
        for b in range(63)
    ]
    out = F.lit(0)
    for b in bits:
        out = out.bitwiseOR(b)
    return out


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
    portable: bool = False,
) -> DataFrame:
    """Table-scale SimHash: explode shingles → one hash per row →
    per-bit conditional-sum aggregates (map-side partial) → bit
    assembly. Each shingle is hashed exactly once; the shuffle carries
    one row of small ints per doc. Same output contract as
    ``simhash64``: (id, simhash long).

    ``portable=False`` (default): 63 bits of xxhash64 — the fast
    JVM-native path. ``portable=True``: 60 bits from the first 15 hex
    chars of md5 — the ENGINE-PORTABLE bit source (Spark
    conv(md5) == DuckDB CAST('0x'||md5), same identity as the MinHash
    family), so the whole simhash is DuckDB-oracle-checkable."""
    # No distinct: SimHash is frequency-weighted (a word appearing twice
    # votes twice), matching the scalar form and the classic definition.
    nbits = 60 if portable else 63
    shingled = df.select(
        F.col(id_col),
        F.split(normalized_text(F.col(text_col)), " ").alias("__wrds"),
    ).select(
        F.col(id_col),
        F.explode(word_shingles_of(F.col("__wrds"), k)).alias("__sh"),
    )
    if portable:
        h = F.conv(F.substring(F.md5(F.col("__sh")), 1, 15), 16, 10).cast(
            "long"
        )
    else:
        h = F.xxhash64(F.col("__sh"))
    shingled = shingled.select(id_col, h.alias("__h"))
    counts = shingled.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(
                F.when(F.col("__h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(0)
            ).alias(f"b{b}")
            for b in range(nbits)
        ],
    )
    sim = F.lit(0)
    for b in range(nbits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") * 2 > F.col("__n"), F.lit(1 << b)).otherwise(F.lit(0))
        )
    return counts.select(F.col(id_col), sim.alias("simhash"))


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above a similarity threshold.

    Brute-force within optional blocks; see ``similarity.py`` for the
    LSH-bucketed scale path that bounds the pairwise work.
    """
    norm = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("norm"),
        *([F.col(block_col)] if block_col else []),
    )
    a, b = norm.alias("a"), norm.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    dot = F.aggregate(
        F.zip_with(
            F.col(f"a.{vec_col}"),
            F.col(f"b.{vec_col}"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (dot / (F.col("a.norm") * F.col("b.norm"))).alias("__raw"),
        )
        # Threshold the RAW cosine, round only for output: filtering the
        # rounded value silently admits pairs up to 5e-5 below the
        # threshold (caught by the sf1 oracle sweep: 4 boundary pairs).
        .filter(F.col("__raw") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("__raw"), 4).alias("cosine")
        )
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    len_col: str = "n_chars",
    len_band: int = 10,
    max_dist: int = 20,
) -> DataFrame:
    """Fuzzy near-dup pairs by true edit distance, with banded blocking.

    Levenshtein is O(len²) per pair — the all-pairs version is the
    classic scale killer. Blocking makes it tractable: candidates must
    share ``block_cols`` AND sit within ``len_band`` characters of each
    other (a necessary condition: edit distance ≥ length difference).
    The length band is implemented as a band JOIN — one side explodes to
    its own and both neighboring ``len_band``-wide buckets, the other
    keeps its exact bucket — so the match is pure equi-join (one
    shuffle, AQE-splittable), never a cross product. Each unordered pair
    is produced exactly once (id <) because a ≤``len_band`` difference
    never spans more than one bucket boundary. The distance itself is
    the native JVM ``levenshtein`` — no Python in the hot path.
    """
    bucket = F.floor(F.col(len_col) / len_band)
    left = docs.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
        F.col(len_col).alias("len_a"),
        *[F.col(c) for c in block_cols],
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("__bucket"),
    )
    right = docs.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
        F.col(len_col).alias("len_b"),
        *[F.col(c) for c in block_cols],
        bucket.alias("__bucket"),
    )
    return (
        left.join(right, [*block_cols, "__bucket"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= len_band)
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("text_a", "text_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least ``min_overlap`` distinct k-word shingles with ANY eval
    document — the n-gram overlap check LLM training corpora run against
    held-out benchmarks before training.

    Scale shape: the eval side (benchmark suites — thousands of docs,
    not billions) collapses to a DISTINCT shingle set and broadcasts, so
    the train side is scan → explode → broadcast-hash semi join →
    partial-agg count per doc: the 100 TB corpus never shuffles on
    shingles.

    Returns (id_col, n_shared_shingles) for contaminated train docs.
    """
    ev = (
        eval_df.select(
            F.split(normalized_text(F.col(text_col)), " ").alias("__wrds")
        )
        .select(
            F.explode(
                F.array_distinct(word_shingles_of(F.col("__wrds"), k))
            ).alias("__s")
        )
        .distinct()
    )
    tr = train.select(
        id_col,
        F.split(normalized_text(F.col(text_col)), " ").alias("__wrds"),
    ).select(
        id_col,
        F.explode(
            F.array_distinct(word_shingles_of(F.col("__wrds"), k))
        ).alias("__s"),
    )
    hits = (
        tr.join(F.broadcast(ev), "__s")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_shared_shingles"))
    )
    return hits.filter(F.col("n_shared_shingles") >= min_overlap)


def canonical_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    prefer_col: str = "n_chars",
) -> DataFrame:
    """Survivorship after near-dup clustering: collapse candidate pairs
    to connected components, label every document (docs in no pair form
    their own singleton component), and elect ONE canonical winner per
    component by (``prefer_col`` DESC, id ASC) — the keep-the-most-
    complete-duplicate policy of corpus curation.

    Scale shape: the component map covers only docs that appear in a
    pair (tiny next to the corpus); the corpus joins it once on id and
    the winner election windows per component — components are small by
    construction, so the window never sees a skewed partition.

    Returns (id_col, component, is_canonical) for every document.
    """
    comp = connected_components(pairs).withColumnRenamed("node", id_col)
    labeled = (
        docs.select(id_col, prefer_col)
        .join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    w = Window.partitionBy("component").orderBy(
        F.col(prefer_col).desc(), F.col(id_col)
    )
    return labeled.select(
        id_col,
        "component",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def sorted_neighbor_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    block_chars: int = 2,
    key_chars: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 4,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernandez & Stolfo's
    SNM): sort documents by a normalized prefix key and compare each
    row only to its immediate predecessor in sort order, blocked by the
    first ``block_chars`` of the key so the sort is a keyed window, not
    a global single-task ordering.

    The complementary shape to MinHash banding: zero shingling cost,
    one shuffle on the block key, O(n) comparisons — it catches the
    "same document, edited tail" family (shared prefixes sort
    adjacent), and misses prefix-divergent dups, which is exactly what
    the LSH family is for. At 100 TB you run 2-3 passes with different
    key orderings (prefix, reversed, mid-content) and union the pairs;
    each pass stays one keyed shuffle.

    Returns (id_a, id_b, jaccard) for adjacent pairs whose distinct
    word-set Jaccard >= threshold, id_a < id_b ordering within the
    sort, deterministic tie-break by id.
    """
    nt = normalized_text(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.substring(nt, 1, block_chars).alias("__block"),
        F.substring(nt, 1, key_chars).alias("__key"),
        F.array_distinct(F.split(nt, " ")).alias("__words"),
    )
    w = Window.partitionBy("__block").orderBy("__key", id_col)
    with_prev = base.select(
        F.col(id_col).alias("id_b"),
        "__words",
        F.lag(id_col).over(w).alias("id_a"),
        F.lag("__words").over(w).alias("__prev_words"),
    ).filter(F.col("id_a").isNotNull())
    inter = F.size(F.array_intersect("__words", "__prev_words"))
    union = F.size(F.array_union("__words", "__prev_words"))
    jac = inter.cast("double") / union
    return (
        with_prev.withColumn("jaccard", F.round(jac, ndigits))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int | None = 3,
    ndigits: int = 4,
) -> DataFrame:
    """EXACT set-similarity join: all pairs with word-set Jaccard >=
    threshold, found via prefix filtering (the PPJoin family) instead
    of all-pairs comparison.

    The lossless blocking fact: order each doc's distinct tokens by
    GLOBAL rarity (frequency asc, word tie-break) and keep only its
    first |s| - ceil(t*|s|) + 1 tokens; two sets with Jaccard >= t
    MUST share at least one prefix token, so joining on prefix tokens
    loses no true pair — unlike MinHash this is exact, and unlike
    sorted-neighborhood it has a completeness guarantee. Rarest-first
    ordering makes prefix buckets as selective as possible.

    Scale shape: distinct (doc, word) once; global frequency and
    per-doc rank as windows over that collapsed table; the candidate
    join is keyed on prefix tokens (bucket sizes are token
    frequencies of RARE tokens); verification joins each candidate id
    against the per-doc sorted word arrays and evaluates Jaccard as
    native array expressions. Nothing is ever all-pairs.

    Returns (id_a, id_b, jaccard) with the filter applied to the
    ROUNDED value for engine-portable boundaries.
    """
    # Token sets default to k-word SHINGLES, not single words: over a
    # small vocabulary word sets are degenerate (most docs share most
    # words — measured 7M pairs >= 0.6 on the sf1 corpus), while the
    # shingle space is |V|^k so sets are distinctive and the rare-first
    # prefixes actually prune. shingle_k=None falls back to words for
    # large-vocabulary corpora. Docs shorter than k words have no
    # tokens and drop out (identically in the oracle).
    # Round 10 (guide §4.2): the word array is staged as a real column
    # (__wrds) so the interpreted higher-order shingle expression reads
    # an attribute instead of re-running split(regexp) per reference
    # per row — same staging as lsh_banded_table, output-identical.
    staged = docs.select(
        F.col(id_col).alias("doc"),
        F.split(normalized_text(F.col(text_col)), " ").alias("__wrds"),
    )
    if shingle_k:
        toks = F.array_distinct(word_shingles_of(F.col("__wrds"), shingle_k))
    else:
        toks = F.array_distinct(F.col("__wrds"))
    # Round 10: examined, deliberately left in the 3-window form. The
    # "sort-free" rewrites that won elsewhere all LOSE here, measured
    # at sf1 against this form (2.8-3.6 s): (a) global frequency as
    # groupBy(word)+join-back — 3.7-4.6 s, because shingle keys are
    # mostly unique so the joined-back table is stream-sized (the
    # agg+join trick only pays when the joined-back set is filtered
    # small, as in dup_fps / segment stats); (b) a localCheckpoint of
    # the prefix table — another +30-40% (a blocking materialization
    # of ~40% of the shingle stream, vs the self-join's two duplicated
    # subtrees whose exchanges ReuseExchange dedups and whose sorts
    # overlap as concurrent stages); (c) even moving __size out of its
    # window onto the un-exploded array measured slower in the same
    # A/B. The windows here ride ReuseExchange-deduped exchanges and
    # per-doc/per-token sorts that stay sub-dominant through sf1.
    dw = staged.select(
        "doc",
        F.explode(toks).alias("word"),
    )
    ranked = (
        dw.withColumn("__freq", F.count(F.lit(1)).over(Window.partitionBy("word")))
        .withColumn("__size", F.count(F.lit(1)).over(Window.partitionBy("doc")))
        .withColumn(
            "__rank",
            F.row_number().over(
                Window.partitionBy("doc").orderBy("__freq", "word")
            ),
        )
    )
    prefix = ranked.filter(
        F.col("__rank")
        <= F.col("__size") - F.ceil(F.lit(threshold) * F.col("__size")) + 1
    ).select("doc", "word")

    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "word")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b")
        )
        .distinct()
    )

    sets = staged.select(
        "doc", F.array_sort(toks).alias("words")
    ).filter(F.size("words") > 0)
    verified = (
        cand.join(sets.withColumnRenamed("words", "__wa"), cand["id_a"] == sets["doc"])
        .drop("doc")
        .join(
            sets.withColumnRenamed("words", "__wb"),
            cand["id_b"] == sets["doc"],
        )
        .drop("doc")
    )
    jac = F.round(
        F.size(F.array_intersect("__wa", "__wb")).cast("double")
        / F.size(F.array_union("__wa", "__wb")),
        ndigits,
    )
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _cell_pairs(x, threshold: float):
    """Cosine pairs >= ``threshold`` among the rows of one cell's
    vector matrix ``x``, as (row i, row j, cosine) with i < j: one numpy
    GEMM per cell instead of per-pair zip_with/aggregate lambdas —
    ArrayAggregate is CodegenFallback (interpreted), and at ~16 us/pair
    it dominated SemDeDup's runtime (measured 80 of 89 s at sf1); a
    500x64 cell is one ~microseconds matmul. Cosines differ from the
    column form (``embedding_near_dup``) only in float summation order
    (SIMD vs sequential) — parity-tested in test_curation_round6."""
    import numpy as np

    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0.0] = 1.0
    sim = (x @ x.T) / np.outer(norms, norms)
    iu, ju = np.triu_indices(len(x), k=1)
    cos = sim[iu, ju]
    keep = cos >= threshold
    return iu[keep], ju[keep], cos[keep]


def _min_labels(n: int, i, j):
    """Connected components of the edges ``(i[k], j[k])`` over nodes
    ``0..n-1``, every node labeled with the smallest node of its
    component: the min-label recurrence of :func:`connected_components`,
    in numpy, with pointer jumping after each round so a long chain
    collapses in O(log length) rounds."""
    import numpy as np

    label = np.arange(n)
    while True:
        nxt = label.copy()
        lo = np.minimum(label[i], label[j])
        np.minimum.at(nxt, i, lo)
        np.minimum.at(nxt, j, lo)
        # A label is always a node of the same component, so following
        # it to that node's own label never leaves the component.
        while not np.array_equal(nxt[nxt], nxt):
            nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            return label
        label = nxt


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    threshold: float = 0.95,
    seed: int = 42,
    target_cell_size: int = 500,
    fit_cap: int = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning
    over an embedding column — coarse-quantizer cells bound the
    pairwise work, exact cosine pairs above ``threshold`` form dedup
    clusters WITHIN each cell, and one representative survives per
    cluster.

    Representative election follows the paper: keep the member LEAST
    similar to its cell centroid (the most "interesting" example,
    preserving diversity at the cluster edge), ties broken by id.

    Scale shape: within-cell pairwise cosine is quadratic in CELL
    size, so total pair work is ``n x cell_size`` — linear in the
    corpus ONLY if cells stay constant-sized. The default
    ``n_cells=None`` derives that automatically (``ceil(n / target_cell_size)``;
    the one count action is cheap here — the quantizer fit collects
    its training set anyway, laziness is spent). A FIXED n_cells grows
    cells with the corpus and goes quadratic — fine for a known size,
    wrong as a scaling default. The quantizer is the IVF one
    (similarity._coarse_quantize): numpy Lloyd on a deterministic
    md5-hash sample capped at ``fit_cap`` vectors, then the FULL corpus
    assigned in one pass.

    Pairs are only made inside a cell, so every dedup cluster lies
    inside one cell (the Odyssey shape: partition by a learned
    quantizer, then work within each partition). Everything after the
    assignment is therefore ONE grouped Arrow pass, a single shuffle
    on the cell carrying (id, vector): per cell, rows sorted by id, a
    GEMM gives the pairs (:func:`_cell_pairs`), numpy min-label
    propagation gives components labeled by their min id
    (:func:`_min_labels`), each row's cosine to its cell centroid is
    scored against the codebook the kernel closes over (at most
    ``fit_cap / 2`` rows, so no per-row centroid column rides the
    shuffle), and the election runs in the same frame. The kernel's
    state is one cell (cell size x dim plus its pair matrix), bounded
    by ``target_cell_size``. Like SemDeDup itself, cross-cell
    near-dups are invisible by design — that recall loss is measured
    by the sweep's accuracy hook rather than assumed.

    Returns (id, cell, component, centroid_cos, is_canonical) for
    every input vector; ``is_canonical=False`` rows are the prune set.
    The result is lazy: each action re-runs the assignment and the
    grouped pass (the quantizer fit is already done).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .similarity import _coarse_quantize

    n = emb.count()
    if n_cells is None:
        n_cells = max(4, -(-n // target_cell_size))  # ceil division
    assigned, cent_df = _coarse_quantize(
        emb, n_cells, seed, id_col, vec_col, n=n, fit_cap=fit_cap
    )
    # A local relation: collecting it runs no Spark job.
    cents = np.array([c for _, c in sorted(cent_df.collect())], dtype=np.float64)
    id_type = emb.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("cell", T.IntegerType()),
            T.StructField("component", id_type),
            T.StructField("centroid_cos", T.DoubleType()),
            T.StructField("is_canonical", T.BooleanType()),
        ]
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        x = np.vstack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        cell = int(pdf["__cell"].iloc[0])
        i, j, _ = _cell_pairs(x, threshold)
        label = _min_labels(len(ids), i, j)
        # Left-to-right sums, the order the column form's aggregate()
        # adds in, so centroid_cos is bit-identical to it.
        c = cents[cell]
        with np.errstate(divide="ignore", invalid="ignore"):
            ccos = np.cumsum(x * c, axis=1)[:, -1] / (
                np.sqrt(np.cumsum(x * x, axis=1)[:, -1])
                * np.sqrt(np.cumsum(c * c)[-1])
            )
        # Per component: lowest centroid_cos first, then lowest id.
        rank = np.lexsort((ids, ccos, label))
        first = np.ones(len(ids), dtype=bool)
        first[1:] = label[rank][1:] != label[rank][:-1]
        canonical = np.empty(len(ids), dtype=bool)
        canonical[rank] = first
        return pd.DataFrame(
            {
                id_col: ids,
                "cell": np.full(len(ids), cell, dtype=np.int32),
                "component": ids[label],
                "centroid_cos": ccos,
                "is_canonical": canonical,
            }
        )

    return assigned.groupBy("__cell").applyInPandas(dedup_cell, schema)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring detection, the distributed stand-in
    for the suffix-array pass of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): any word span that
    appears ``min_count``-plus times corpus-wide (including repeats
    inside one document) is duplicated text, and overlapping duplicated
    windows merge into MAXIMAL spans per document.

    Mechanics: every k-word window gets an md5 fingerprint; a window
    is duplicated iff its fingerprint's corpus count >= ``min_count``
    (a window count over the fingerprint, same single-pass trick as
    ``lm.unigram_surprisal`` — the corpus explodes exactly once);
    within a document, duplicated window STARTS sorted ascending merge
    by gaps-and-islands (a new span starts when the next start exceeds
    the previous start by more than k, i.e. the windows no longer
    overlap or touch).

    Scale shape: two shuffles total — one on the 128-bit fingerprint
    (window count), one on the document id (island merge); both key
    sets are corpus-window-sized rows of three narrow columns, never
    raw text. No suffix array, no sort of the corpus: at 100 TB this
    is a pair of hash exchanges.

    Output, one row per document that contains at least one duplicated
    span (documents shorter than k words or with no duplicated window
    drop out — identically in the SQL oracle): ``(id, n_words,
    n_spans, dup_words, max_span)`` where ``dup_words`` is the total
    word count covered by merged spans and ``max_span`` the longest
    single span.
    """
    words = F.split(normalized_text(F.col(text_col)), " ")
    base = df.select(
        F.col(id_col), words.alias("__w"), F.size(words).alias("n_words")
    ).filter(F.col("n_words") >= k)
    pos = base.select(
        id_col,
        "n_words",
        F.explode(
            F.sequence(F.lit(1), F.col("n_words") - F.lit(k - 1))
        ).alias("__i"),
        "__w",
    ).select(
        id_col,
        "n_words",
        "__i",
        # Raw md5 bytes, not hex: the fingerprint is internal — half
        # the exchange/key width (same as the removal form).
        F.unhex(
            F.md5(
                F.concat_ws(
                    " ", F.slice("__w", F.col("__i"), F.lit(k))
                ).cast("binary")
            )
        ).alias("__fp"),
    )
    # Corpus window count as a HASH aggregate + shuffle-hash join-back,
    # not count().over(Window.partitionBy(fp)): an unordered window
    # still SORTS the whole exploded stream by the partition key, and
    # at sf100 that sort went super-linear (122 s, 10.7x for 3.3x
    # data) while the aggregate+join slope stayed ~3x. The two
    # consumers recompute the window stream deliberately — the full
    # design notes (persist measured slower; AQE stage cache will not
    # dedupe an explicitly shared repartition) live in
    # `_span_kept_words`.
    dup_fps = (
        pos.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
    )
    dup = pos.join(dup_fps.hint("shuffle_hash"), "__fp")
    w_doc = Window.partitionBy(id_col).orderBy("__i")
    islands = dup.withColumn(
        "__new",
        F.when(
            F.col("__i") - F.lag("__i").over(w_doc) > k, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("__island", F.sum("__new").over(w_doc))
    spans = islands.groupBy(id_col, "n_words", "__island").agg(
        F.min("__i").alias("__s"),
        (F.max("__i") + F.lit(k - 1)).alias("__e"),
    )
    return spans.groupBy(id_col, "n_words").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("__e") - F.col("__s") + F.lit(1)).alias("dup_words"),
        F.max(F.col("__e") - F.col("__s") + F.lit(1)).alias("max_span"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    packed_ids: bool | None = None,
) -> DataFrame:
    """The ACTIVE form of ``duplicate_spans`` — the full Lee et al.
    2022 dedup step: every duplicated k-word window occurrence beyond
    the corpus-canonical FIRST one (lowest ``(doc id, position)`` per
    fingerprint — deterministic on every engine) is redundant text;
    redundant windows merge into maximal spans per document and the
    covered words are cut, keeping exactly one copy of each duplicated
    run corpus-wide.

    Returns one row per input document (a corpus transformation, not
    a report): ``(id, n_words, kept_words, removed_words, kept_md5)``
    with ``kept_md5`` the md5 of the reconstructed text, so results
    stay narrow at any scale while still value-checking the exact
    surviving words.

    Scale shape: same two narrow shuffles as ``duplicate_spans``
    (fingerprint window, per-doc islands) plus one per-doc join of the
    span list back to the word arrays; span lists are tiny relative
    to documents. The row_number that picks the canonical occurrence
    rides the same fingerprint partitioning as the count.

    Id-domain contract: documents with a NULL id never participate in
    the election or the cutting — their text passes through whole.
    Integral ids ride a packed-BIGINT HashAggregate election that
    requires ``0 <= id < 2^42`` and ``< 2^21`` word positions per
    document (raises in-plan otherwise); for id domains outside that
    (snowflake-style 64-bit ids, multi-million-word documents) pass
    ``packed_ids=False`` for the min(struct) election — identical
    results at a documented SortAggregate cost.
    """
    joined, kept = _span_kept_words(
        df, text_col, id_col, k, min_count, packed_ids
    )
    return joined.select(
        id_col,
        "n_words",
        F.size(kept).alias("kept_words"),
        (F.col("n_words") - F.size(kept)).alias("removed_words"),
        F.md5(F.concat_ws(" ", kept).cast("binary")).alias("kept_md5"),
    )


def remove_duplicate_spans_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    out_col: str = "clean_text",
    packed_ids: bool | None = None,
) -> DataFrame:
    """``remove_duplicate_spans`` that RETURNS the cleaned text — the
    composable form the curation pipeline chains into downstream
    stages (decontamination shingles, DSIR features, packing costs all
    consume the post-cut words). Output: every input column except
    ``text_col``, plus ``out_col`` (surviving words re-joined, already
    normalized) and ``kept_words`` (its token count). Same plan as the
    report form — including the id-domain contract documented there
    (NULL ids pass through whole; ``packed_ids=False`` for un-packable
    id domains); the only difference is which projection rides the
    final join."""
    joined, kept = _span_kept_words(
        df, text_col, id_col, k, min_count, packed_ids
    )
    carry = [c for c in df.columns if c not in (text_col, id_col)]
    return joined.select(
        id_col,
        *carry,
        F.concat_ws(" ", kept).alias(out_col),
        F.size(kept).alias("kept_words"),
    )


def first_occurrence_table(
    pos: DataFrame,
    id_col: str,
    idx_col: str,
    key_col: str,
    min_count: int | None = None,
    packed_ids: bool | None = None,
) -> DataFrame:
    """Corpus-canonical first occurrence per key as a HASH aggregate:
    ``(key_col, __d, __p)`` where ``(__d, __p)`` is the
    lexicographically-lowest ``(id, index)`` holding the key; with
    ``min_count`` the table is pre-filtered to keys occurring at least
    that often (the duplicated subset). Callers join it back with
    ``.hint("shuffle_hash")`` — see the design notes in
    ``_span_kept_words``: the window/row_number formulation sorts the
    whole stream (measured super-linear by sf100), min(struct)/
    min(string) silently fall back to SortAggregate, and without the
    hint the planner broadcasts the STREAM side (a scan pipeline
    estimates smaller than an aggregate, and AQE cannot fix a
    broadcast with no shuffle under it).

    The aggregate buffer must be fixed-width to stay in HashAggregate:
    for non-negative integral ids the election key packs into one
    BIGINT (``id * 2^21 + idx``, exact lexicographic order,
    shift/mask decode, in-plan raise_error guards on both packing
    preconditions); other id types take a min(struct) fallback —
    correct, documented SortAggregate cost.

    ``packed_ids`` is the escape hatch for integral id domains the
    packing cannot hold (snowflake-style ids >= 2^42, or documents
    with >= 2^21 positions): ``None`` (default) auto-selects the
    packed path for integral ids, ``False`` forces the min(struct)
    SortAggregate path — same results, no in-plan raise — and
    ``True`` asserts the packed path (raises on non-integral ids)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    max_pos = 1 << 21  # 2M positions/doc; beyond this raises in-plan
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    integral = isinstance(
        pos.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    if packed_ids is True and not integral:
        raise TypeError(
            f"first_occurrence_table: packed_ids=True requires an "
            f"integral id column; {id_col} is "
            f"{pos.schema[id_col].dataType.simpleString()}"
        )
    if integral and packed_ids is not False:
        packed = F.when(
            (F.col(idx_col) >= max_pos)
            | (F.col(idx_col) < 0)
            | (F.col(id_col) < 0)
            | (F.col(id_col) >= F.lit(1 << 42)),
            F.raise_error(
                "first_occurrence_table: packed canonical key needs "
                "0 <= id < 2^42 and 0 <= index < 2^21"
            ).cast("long"),
        ).otherwise(
            F.col(id_col).cast("long") * F.lit(max_pos)
            + F.col(idx_col).cast("long")
        )
        firsts = pos.groupBy(key_col).agg(
            *aggs, F.min(packed).alias("__k")
        )
        if min_count is not None:
            firsts = firsts.filter(F.col("__cnt") >= min_count)
        return firsts.select(
            key_col,
            # Power-of-two packing decodes with exact long shift/mask
            # ('/' would round-trip through double).
            F.shiftright(F.col("__k"), 21).alias("__d"),
            F.col("__k").bitwiseAND(F.lit(max_pos - 1)).alias("__p"),
        )
    firsts = pos.groupBy(key_col).agg(
        *aggs,
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col(idx_col).alias("p"))
        ).alias("__first"),
    )
    if min_count is not None:
        firsts = firsts.filter(F.col("__cnt") >= min_count)
    return firsts.select(
        key_col,
        F.col("__first.d").alias("__d"),
        F.col("__first.p").alias("__p"),
    )


def _span_kept_words(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    min_count: int,
    packed_ids: bool | None = None,
):
    """Shared Lee-et-al span-cut plan: returns ``(joined, kept)`` —
    the word-array frame (every non-text input column carried through)
    left-joined to its merged redundant-span list, and the surviving-
    words array expression to project from it."""
    words = F.split(normalized_text(F.col(text_col)), " ")
    carry = [c for c in df.columns if c not in (text_col, id_col)]
    base = df.select(
        F.col(id_col),
        *carry,
        words.alias("__w"),
        F.size(words).alias("n_words"),
    )
    pos = (
        # The explicit isNotNull matters twice over: a null id can
        # never be elected canonical (the packed key nulls out and
        # min() skips it), and — load-bearing — the join-back infers
        # IsNotNull(id) on the PROBE branch only, which would make the
        # two REPARTITION exchanges canonicalize differently and stop
        # ReuseExchange from deduplicating them (measured: the whole
        # explode+md5+exchange pipeline ran twice).
        base.filter((F.col("n_words") >= k) & F.col(id_col).isNotNull())
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(1), F.col("n_words") - F.lit(k - 1))
            ).alias("__i"),
            "__w",
        )
        .select(
            id_col,
            "__i",
            # unhex: the fingerprint is internal (never output), so
            # carry the raw 16 md5 bytes, not the 32-char hex string —
            # half the exchange width and a cheaper agg/join key.
            F.unhex(
                F.md5(
                    F.concat_ws(
                        " ", F.slice("__w", F.col("__i"), F.lit(k))
                    ).cast("binary")
                )
            ).alias("__fp"),
        )
    )
    # Canonical-first election as a HASH aggregate + join-back, not a
    # row_number window: the window form sorts the ENTIRE exploded
    # window stream inside each WindowExec (and count/row_number need
    # DIFFERENT sort orders, so Spark plans two of them) — measured
    # super-linear by sf100 (the detection twin: 10.7x for 3.3x data)
    # while the aggregate+join plan's slope stayed ~3x (2.7x for 3.3x
    # cold-isolated). The two consumers (election aggregate +
    # join-back probe) deliberately RECOMPUTE the explode+md5
    # pipeline: persisting it measured slower (79 s vs 59 s cold sf30
    # — caching 72M rows costs more than a shuffle-free recompute),
    # and an explicit repartition("__fp") shared by both consumers —
    # the single-pass ideal, proven by ReuseExchange with AQE
    # disabled (ONE Generate in the plan) — is not deduplicated by
    # AQE's stage cache (identical canonical subtrees, still two
    # stages; SCALE.md round-7 continuation), so it just doubles the
    # exchange. AQE's skew/coalesce wins elsewhere outweigh this
    # operator's 2x map pass. See first_occurrence_table for why the
    # aggregation buffer must be a packed BIGINT, never
    # min(struct)/min(string).
    firsts = first_occurrence_table(
        pos, id_col=id_col, idx_col="__i", key_col="__fp",
        min_count=min_count, packed_ids=packed_ids,
    )
    redundant = pos.join(firsts.hint("shuffle_hash"), "__fp").filter(
        (F.col(id_col) != F.col("__d")) | (F.col("__i") != F.col("__p"))
    )
    w_doc = Window.partitionBy(id_col).orderBy("__i")
    spans = (
        redundant.withColumn(
            "__new",
            F.when(
                F.col("__i") - F.lag("__i").over(w_doc) > k, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("__island", F.sum("__new").over(w_doc))
        .groupBy(id_col, "__island")
        .agg(
            F.min("__i").alias("s"),
            (F.max("__i") + F.lit(k - 1)).alias("e"),
        )
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("__spans"))
    )
    joined = base.join(spans, id_col, "left")
    kept = F.when(F.col("__spans").isNull(), F.col("__w")).otherwise(
        F.filter(
            F.col("__w"),
            lambda w, i: ~F.exists(
                F.col("__spans"),
                lambda sp: (sp["s"] <= i + 1) & (i + 1 <= sp["e"]),
            ),
        )
    )
    return joined, kept


def winnow_fingerprint_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every k-word gram, slide a
    w-position window over the hash sequence, and SELECT the window
    minimum — guaranteeing any shared run of at least w+k-1 words
    leaves at least one common selected fingerprint while keeping only
    ~2/(w+1) of all grams. Documents sharing >= ``min_shared``
    selected fingerprints are reported as candidate pairs with the
    shared count.

    Portability/selection details: ties select EVERY position holding
    the window minimum (the per-doc fingerprint set dedups them — set
    semantics make the tiebreak irrelevant, identically in SQL); the
    first w-1 partial windows also select their running minimum (a
    harmless superset, same on both engines). Fingerprints appearing
    in more than ``max_df`` documents are dropped before pairing —
    boilerplate grams carry no discriminative signal and their groups
    are the quadratic-pair risk at scale (same reasoning as the
    hot-shingle cap in ``ngram_jaccard_pairs``).

    Scale shape: the corpus explodes to (doc, pos, hash) once; the
    window min is a per-doc sort of narrow rows; the pair join runs on
    the winnowed ~2/(w+1) subset with frequency-capped groups, so the
    pair stream is bounded by ``max_df`` per fingerprint. Raw text
    never shuffles.

    Cache lifetime: the selected-fingerprint set is eagerly
    ``localCheckpoint``-ed (round 10 — was a lazy persist, which the
    concurrent broadcast-build consumers raced, replaying the gram
    explode + window-min per racer) because two consumers (the
    frequency count and the pair join) need it. SIDE EFFECT: the
    winnowing pass runs at CONSTRUCTION time and the fingerprint set is
    frozen — rebuild the DataFrame to re-fingerprint changed source
    data. TWO near-identical copies are pinned (``fps`` and its
    frequency-filtered subset ``kept`` — the second checkpoint buys
    the pair join one fewer frequency-join replay at the cost of a
    doubled footprint, both bounded by the ~2/(w+1) winnowed set), and
    localCheckpoint RDD blocks are NOT released by
    ``spark.catalog.clearCache()`` (that clears only the SQL relation
    cache): they are freed when the DataFrame is garbage-collected or
    its underlying RDD is unpersisted. Long-lived sessions should drop
    references to the returned DataFrame when done; fresh-session
    callers (as bench.py uses) are unaffected.
    """
    words = F.split(normalized_text(F.col(text_col)), " ")
    base = df.select(
        F.col(id_col), words.alias("__w"), F.size(words).alias("__n")
    ).filter(F.col("__n") >= k)
    grams = base.select(
        id_col,
        F.explode(
            F.sequence(F.lit(1), F.col("__n") - F.lit(k - 1))
        ).alias("__i"),
        "__w",
    ).select(
        id_col,
        "__i",
        F.md5(
            F.concat_ws(" ", F.slice("__w", F.col("__i"), F.lit(k))).cast(
                "binary"
            )
        ).alias("__h"),
    )
    wsel = (
        Window.partitionBy(id_col)
        .orderBy("__i")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    fps = (
        grams.withColumn("__min", F.min("__h").over(wsel))
        .filter(F.col("__h") == F.col("__min"))
        .select(id_col, "__h")
        .distinct()
        # The winnowed set feeds the frequency count AND the pair
        # join. Round 10: EAGER localCheckpoint, not lazy persist —
        # the downstream consumers materialize as broadcast-build
        # jobs (df_count and the whole b-side each broadcast), and
        # concurrent build jobs racing a lazy cache each re-ran the
        # gram explode + window-min before the cache landed (the same
        # bimodal trap basket_brand_lift measured). One blocking
        # materialization of the ~2/(w+1)-winnowed narrow set removes
        # the race entirely.
        .localCheckpoint()
    )
    df_count = fps.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    # kept feeds BOTH sides of the pair self-join; checkpoint it too
    # (bounded by the fps set) so the frequency join runs once, not
    # once per side.
    kept = fps.join(
        df_count.filter(F.col("__df") <= max_df).select("__h"), "__h"
    ).localCheckpoint()
    a = kept.select(F.col(id_col).alias("id_a"), "__h")
    b = kept.select(F.col(id_col).alias("id_b"), "__h")
    return (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
