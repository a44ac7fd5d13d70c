"""Graph analytics over candidate-pair graphs: PageRank and triangle
counting.

The dedup family already produces graphs (LSH candidate pairs,
connected components in operators/dedup.py); these operators answer
the next questions a curation pipeline asks of that graph: which
documents are HUBS of near-duplication (PageRank — a high-rank node is
copied by many things that are themselves copied), and how CLIQUEY is
a neighborhood (triangle count — template families triangulate,
chain-of-edits do not).

Scale shapes:
- PageRank is the classic iterate-until-k loop: each iteration is one
  join of the rank vector against the edge list keyed on source plus
  one keyed rollup on destination — identical partitioning every
  round, so a real cluster co-partitions edges once and reuses the
  exchange. Iterations build ONE deterministic plan (no driver data);
  pass checkpoint=True to truncate lineage per round like
  connected_components does.
- Triangle counting is the two-hop join on ordered edges
  (id_a < id_b): join (a,b)x(b,c) then close against (a,c). Ordering
  edges by id caps each triangle to exactly one counting and bounds
  the join fan-out by forward-degree; the classic further refinement
  (order by degree, not id) drops the bound to O(m^1.5) and slots in
  by swapping the ordering key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import stage


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint: bool = True,
    ndigits: int = 4,
) -> DataFrame:
    """Power-iteration PageRank over a SYMMETRIC edge list (u, v) —
    every node must appear as a source, which symmetrized undirected
    graphs guarantee, so there is no dangling mass to redistribute.

    ``checkpoint`` (default ON) truncates the rank vector's lineage
    with a lazy localCheckpoint each round — the same trap
    connected_components guards against: iterate-without-truncation
    stacks one join+agg subtree PER ROUND into a single plan, and
    past a handful of iterations Catalyst re-analysis dominates the
    actual compute (each checkpoint is one |nodes|-row materialization,
    noise next to the per-round edge join). Pass ``checkpoint=False``
    only for 1-3 iteration runs where plan size cannot accumulate.

    Returns (node, pr_rel) where pr_rel = rank * n_nodes — the
    scale-invariant form (1.0 == the uniform-rank baseline), stable to
    report at any corpus size.
    """
    # Round 10 (guide §2.4): the degree table and the edge list are
    # loop INVARIANTS — the old form re-joined deg into the contrib
    # stream EVERY round (two shuffle joins per iteration) and re-ran
    # the upstream edge pipeline per consumer. Both are now staged
    # once behind lazy localCheckpoints (materialized by the first
    # action, reused by every round), and __outdeg rides the edge row,
    # so each iteration is ONE join + one keyed rollup — the minimal
    # power-iteration step. r/__outdeg stays a division (not a
    # precomputed reciprocal) so per-edge float math is unchanged.
    deg = stage(
        edges.groupBy("u").agg(F.count(F.lit(1)).alias("__outdeg")), "lazy"
    )
    n = deg.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    ew = stage(edges.join(deg, "u").select("u", "v", "__outdeg"), "lazy")
    ranks = (
        deg.select(F.col("u").alias("node"))
        .crossJoin(F.broadcast(n))
        .select("node", (F.lit(1.0) / F.col("__n")).alias("r"))
    )
    for _ in range(iterations):
        contrib = ew.join(ranks, ew["u"] == ranks["node"]).select(
            F.col("v").alias("node"),
            (F.col("r") / F.col("__outdeg")).alias("__c"),
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("__c").alias("__sum"))
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("__n")
                    + damping * F.col("__sum")
                ).alias("r"),
            )
        )
        if checkpoint:
            ranks = stage(ranks, "lazy")
    return ranks.crossJoin(F.broadcast(n)).select(
        "node", F.round(F.col("r") * F.col("__n"), ndigits).alias("pr_rel")
    )


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation over an edge list (id_a < id_b,
    one row per undirected edge), DEGREE-ORDERED (Schank & Wagner's
    forward / compact-forward family).

    Edges are re-oriented low-degree → high-degree endpoint (ties by
    id): under any strict total order each triangle x<y<z is found
    exactly once as the wedge x→y, y→z closed by x→z, and with the
    DEGREE order every node's forward fan-out is O(sqrt(m)) — the
    wedge join generates O(m^1.5) rows worst-case instead of the
    O(sum of per-node forward-degree²) an id order leaves unbounded
    (one high-degree hub with small-id neighbors turns the id-ordered
    wedge join quadratic; degree ordering points those edges INTO the
    hub instead). The count set is orientation-invariant, so results
    are identical to the id-ordered form.

    Returns (node, n_triangles) for nodes in >= 1 triangle.
    """
    # Eager checkpoint: the edge list fans out to SIX consumers (two
    # degree unions, the orientation join, three wedge-join aliases).
    # A lazy persist upstream doesn't help — the first action launches
    # those consumers as CONCURRENT stages and each recomputes the
    # (possibly expensive — LSH ladder) pair pipeline before the cache
    # lands (measured 2x wall at sf1). One blocking edge-list
    # materialization is the standard graph-engine move and is bounded
    # by the candidate-pair count, never the corpus.
    e = stage(pairs.select("id_a", "id_b"))
    deg = (
        e.select(F.col("id_a").alias("node"))
        .unionAll(e.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("id_a"),
                          F.col("__deg").alias("__da")), "id_a")
        .join(deg.select(F.col("node").alias("id_b"),
                         F.col("__deg").alias("__db")), "id_b")
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("id_a") < F.col("id_b"))
    )
    # Round 10 (guide §2.4 — duplicated subtrees): the oriented edge
    # list feeds the THREE wedge-join aliases; left as a plain
    # projection each alias re-ran the deg aggregate + both degree
    # joins (the before plan carried the deg Union x18 and the
    # orientation joins x9 — 86 Exchange prints for one triangle
    # count). One more edge-sized eager checkpoint makes e1/e2/e3
    # cheap scans. Same bound as `e` itself: |edges| narrow rows.
    fwd = stage(ed.select(
        F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("u"),
        F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("v"),
    ))
    e1 = fwd.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = fwd.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = fwd.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # Per-corner counts via ONE explode pass over the wedge-join
    # output — the union-of-three-projections form re-ran the whole
    # tri join once per corner (3x the O(m^1.5) wedge work). Same
    # multiset of (node) rows, so counts are identical.
    per_corner = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return per_corner.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
