"""Graph analytics over pair graphs (the LSH candidate graph, entity
co-mention graphs, or any (a, b) edge table): degree statistics and
fixed-iteration PageRank.

These sit next to the connected-components operators in ``dedup.py``
as the iterative-analytics family: CC labels duplicate clusters,
degrees profile the graph (hub documents = template spam), PageRank
ranks centrality (which near-duplicate is the "canonical" one by
connectivity).

Scale shape: both PageRank verbs run one power iteration
(``_power_iteration``; the unweighted one with every weight 1.0).
Edges shuffle once per round keyed by node (map-side-combined sum of
contributions); ranks localCheckpoint per round (lineage truncation —
same requirement as ``dup_clusters``); weighted out-degrees are
computed once and reused every round.  Fixed iteration count (not
convergence-driven) keeps the operator deterministic AND exactly
SQL-mirrorable: the oracle unrolls the same K rounds as chained CTEs.
The one convergence-driven verb here, ``bfs_levels``, runs the shared
closure step :func:`serd_spark.operators.util.frontier_fixpoint`
(visited set and checkpoints) on the one convergence loop
:func:`serd_spark.operators.util.fixpoint` (the ``max_iters``
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from serd_spark.operators.util import frontier_fixpoint


def _rank_e4(r):
    """Engine-portable e-4-grain quantization for ITERATIVELY
    accumulated doubles: round to 6 dp first (the grain both engines
    produce bit-identically — four rounds of hash-green evidence),
    scale to an exact near-integer (k/1e6 · 1e6 ≈ k, never near a .5
    boundary, so HALF_UP-on-shortest-repr vs C-float rounding cannot
    disagree), then integer FLOOR-divide down to the e-4 grain and
    rescale.  A direct ``round(r, 4)`` is NOT safe here: ranks from
    small rational graphs land exactly on 4-dp half-boundaries
    (0.01255), where Spark's BigDecimal HALF_UP and DuckDB's float
    rounding resolve the unrepresentable .5 differently — a
    deterministic cross-engine mismatch, not even a drift flip.  With
    this path a flip needs a 6-dp drift flip AND that boundary to be a
    multiple of 100 ppm: ~100× the old 6-dp margin."""
    ppm = F.round(F.round(r, 6) * F.lit(1e6), 0)
    return (F.floor(ppm / F.lit(100)) / F.lit(1e4)).alias("rank")


def _sym_edges(pairs: DataFrame) -> DataFrame:
    return pairs.select(F.col("doc_a").alias("u"),
                        F.col("doc_b").alias("v")).union(
        pairs.select(F.col("doc_b").alias("u"),
                     F.col("doc_a").alias("v"))).distinct()


def degree_stats(pairs: DataFrame) -> DataFrame:
    """Degree distribution of the undirected pair graph:
    (degree, n_nodes) — the profile pass that flags template-spam
    hubs before clustering.  Two map-side-combined aggregations."""
    deg = _sym_edges(pairs).groupBy("u").agg(
        F.count("*").cast("long").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_nodes"))


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over the undirected
    pair graph: (doc_id, n_triangles) for every node in ≥1 triangle —
    the local-clustering signal that separates genuine near-dup
    cliques (triangle-dense) from chains of borderline LSH pairs
    (triangle-free), deciding which components are safe to collapse.

    Compact-forward orientation: every edge points from its lower
    (degree, id) endpoint to the higher one, so each triangle is
    enumerated exactly once from its minimum-rank vertex and the wedge
    join fans out by the ORIENTED out-degree — O(sqrt(|E|)) per node
    for any graph, the classic bound that keeps hub nodes (template
    spam with millions of LSH neighbors) from generating degree²
    wedge candidates.  Three shuffles (degree agg, wedge join,
    closing-edge join); the triangle set is orientation-invariant, so
    the SQL oracle counts with the simple id-orientation instead."""
    e = (pairs.select(
            F.least(F.col("doc_a"), F.col("doc_b")).alias("a"),
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    deg = (e.select(F.col("a").alias("nd"))
           .union(e.select(F.col("b").alias("nd")))
           .groupBy("nd").agg(F.count("*").alias("d")))
    # node-sized degree table: broadcast both attach joins so the
    # edge table is not shuffled twice (guide §3.1)
    ed = (e.join(F.broadcast(deg.select(F.col("nd").alias("a"),
                                        F.col("d").alias("da"))), "a")
          .join(F.broadcast(deg.select(F.col("nd").alias("b"),
                                       F.col("d").alias("db"))), "b"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oe = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    left = oe.select("u", "v", "dv")
    right = oe.select(F.col("u").alias("u2"), F.col("v").alias("w"),
                      F.col("dv").alias("dw"))
    wedges = (
        left.join(right, left.u == right.u2)
        .where((F.col("dv") < F.col("dw"))
               | ((F.col("dv") == F.col("dw"))
                  & (F.col("v") < F.col("w"))))
        .select("u", "v", "w")
    )
    closing = oe.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def kcore_peel(
    pairs: DataFrame, k: int = 2, n_rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peeling over the undirected pair graph:
    each round recomputes degrees within the surviving subgraph and
    removes nodes with degree < ``k``; after exactly ``n_rounds``
    rounds, output (doc_id, degree) of the survivors.  At convergence
    this is the k-core — the density filter that separates genuine
    near-dup communities (which survive peeling) from chains and
    stragglers (which unravel).

    Fixed round count (not convergence-driven) keeps the operator
    deterministic and exactly SQL-mirrorable — the oracle unrolls the
    same rounds as chained CTEs, like ``pagerank``.  Per round: one
    map-side-combined degree aggregation + a semi join on each
    endpoint (the keep-set is node-sized, far smaller than edges);
    edges localCheckpoint per round (lineage truncation — the same
    iterative-plan requirement as ``dup_clusters``/``pagerank``)."""
    edges = _sym_edges(pairs).localCheckpoint()
    for _ in range(n_rounds):
        # keep-set is node-sized; materialize once per round and
        # broadcast BOTH semi joins (see _power_iteration's stats
        # note) so the edge table is never re-shuffled
        keep = (edges.groupBy("u").agg(F.count("*").alias("_d"))
                .where(F.col("_d") >= k).select("u")).localCheckpoint()
        edges = (
            edges.join(F.broadcast(keep), "u", "leftsemi")
            .join(F.broadcast(keep.select(F.col("u").alias("v"))),
                  "v", "leftsemi")
            .localCheckpoint()
        )
    return (edges.groupBy("u")
            .agg(F.count("*").cast("long").alias("degree"))
            .select(F.col("u").alias("doc_id"), "degree"))


def label_propagation(
    pairs: DataFrame, n_rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    undirected pair graph: labels start as node ids; each round every
    node adopts its neighbors' most frequent label, ties broken to
    the SMALLEST label — the deterministic LPA variant, so the result
    is a pure function of the graph (no RNG, no visit order) and
    exactly SQL-mirrorable as ``n_rounds`` unrolled CTEs.  After a
    few rounds labels coalesce inside dense near-dup communities
    while bridges keep their own labels — the soft-clustering
    complement of the hard connected components in ``dup_clusters``
    (CC merges everything reachable; LPA resists merging through a
    single weak bridge).

    Output: (doc_id, label) — all integer, nothing to round.

    Scale shape per round: one join of edges against the node-sized
    label table (keyed by node), one map-side-combined (node, label)
    count, and the literal-bound ``rank <= 1`` WindowGroupLimit for
    the per-node argmax (partial limit below the exchange — the
    stratified_take idiom); labels localCheckpoint per round (the
    iterative lineage discipline).  Fixed rounds, like
    ``pagerank``/``kcore``."""
    edges = _sym_edges(pairs).localCheckpoint()
    labels = edges.select("u").distinct() \
        .select(F.col("u").alias("node"), F.col("u").alias("lbl"))
    from pyspark.sql import Window

    for _ in range(n_rounds):
        # broadcast the node-sized label table — see
        # _power_iteration's stats note
        nl = edges.join(
            F.broadcast(labels.select(F.col("node").alias("v"),
                                      "lbl")), "v")
        counts = nl.groupBy("u", "lbl").agg(F.count("*").alias("_c"))
        w = Window.partitionBy("u").orderBy(
            F.col("_c").desc(), F.col("lbl").asc())
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= F.lit(1))
            .select(F.col("u").alias("node"), "lbl")
            .localCheckpoint()
        )
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("lbl").alias("label"))


def _power_iteration(sym: DataFrame, n_iter: int,
                     damping: float) -> DataFrame:
    """The PageRank power iteration shared by :func:`pagerank` and
    :func:`pagerank_weighted`: ``n_iter`` rounds from a uniform start
    over the symmetric weighted edge table ``sym`` (u, v, w), splitting
    each node's rank over its edges in proportion to weight,

    rank_{k+1}(v) = (1-d)/n + d · Σ_{u~v} rank_k(u) · w_uv / W_u

    with W_u = Σ_v w_uv.  Nodes are those with ≥1 edge (every node then
    has W_u > 0: no dangling-mass term needed).  Returns (u, r)."""
    sym = sym.localCheckpoint()
    nodes = sym.select("u").distinct().localCheckpoint()
    n = nodes.count()
    wdeg = sym.groupBy("u").agg(F.sum("w").alias("wd")).localCheckpoint()
    ranks = nodes.withColumn("r", F.lit(1.0 / n))
    # Node-sized tables (ranks, wdeg, contrib) carry UNKNOWN size
    # stats after localCheckpoint, so the planner falls back to
    # shuffle joins — re-shuffling the EDGE table twice per round.
    # The explicit broadcast hints (guide §3.1: hint when estimates
    # are wrong) keep the edges unshuffled: one edge scan + map-side
    # partial sums + one node-sized exchange per round.
    for _ in range(n_iter):
        contrib = (
            sym.join(F.broadcast(ranks), "u")
            .join(F.broadcast(wdeg), "u")
            .select(F.col("v").alias("u"),
                    (F.col("r") * F.col("w") / F.col("wd")).alias("c"))
            .groupBy("u")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), "u", "left")
            .select("u",
                    (F.lit((1.0 - damping) / n)
                     + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0)))
                    .alias("r"))
            .localCheckpoint()
        )
    return ranks


def pagerank(
    pairs: DataFrame, n_iter: int = 5, damping: float = 0.85,
) -> DataFrame:
    """PageRank on the symmetrized pair graph, exactly ``n_iter``
    power-iteration rounds from a uniform start — (doc_id, rank).

    rank_{k+1}(v) = (1-d)/n + d * Σ_{u→v} rank_k(u) / outdeg(u)

    This is :func:`_power_iteration` with every weight 1.0, which is
    the same double bit for bit: r·1.0/Σ1.0 = r/outdeg exactly.

    Float grain: the output quantizes to the e-4 grain via
    :func:`_rank_e4` (round-6-then-floor-divide) rather than the 6 dp
    the non-iterative operators use, because the rank is an
    ITERATIVELY accumulated double — engines that sum contributions
    in a different order (the DuckDB oracle, a different
    partitioning) agree only to ~1e-12 absolute, and an exact-hash
    gate needs the quantization boundary far from that drift; see
    ``test_pagerank_rounding_survives_summation_order``."""
    ranks = _power_iteration(
        _sym_edges(pairs).withColumn("w", F.lit(1.0)), n_iter, damping)
    return ranks.select(F.col("u").alias("doc_id"),
                        _rank_e4(F.col("r")))


def pagerank_weighted(
    edges: DataFrame, n_iter: int = 3, damping: float = 0.85,
    src: str = "iri_a", dst: str = "iri_b", weight: str = "n_turns",
) -> DataFrame:
    """Weighted PageRank over an undirected weighted edge list (one
    row per unordered pair, e.g. ``comention_edges`` output):
    contributions split proportionally to edge weight
    (:func:`_power_iteration`) — entity importance over the co-mention
    graph (which entities anchor the KG), where the unweighted variant
    would let one chatty conversation count as much as a thousand.

    Same scale/determinism contract as :func:`pagerank`: one exchange
    per round keyed by destination with map-side-combined sums,
    weighted degrees computed once, localCheckpoint lineage
    truncation, fixed rounds → exact unrolled-CTE SQL mirror.
    Output: (node, rank) at the e-4 iterative-accumulation grain —
    see :func:`pagerank`'s float-grain note and :func:`_rank_e4`."""
    w = F.col(weight).cast("double").alias("w")
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), w) \
        .union(edges.select(F.col(dst).alias("u"),
                            F.col(src).alias("v"), w))
    ranks = _power_iteration(sym, n_iter, damping)
    return ranks.select(F.col("u").alias("node"),
                        _rank_e4(F.col("r")))


def bfs_levels(
    edges: DataFrame, roots: DataFrame, max_iters: int = 30,
    src: str = "src", dst: str = "dst", id_col: str = "node",
) -> DataFrame:
    """Multi-source BFS reachability with hop counts: the SPARQL
    property-path query ``?root p+ ?x`` (transitive closure from a
    root set) as iterative frontier expansion — the KG shape behind
    "everything derivable from these seed entities" (ontology
    subclass closure, provenance chains, dependency cones).

    Output: (node, level) — every node reachable from ``roots``
    (which appear at level 0), with level = MINIMUM hop count.
    Integer-exact, so the fixpoint needs no float grain: the oracle
    is a recursive CTE and the gate is exact equality.

    Scale shape (Pregel-style): per round, ONE shuffle join of the
    edge table against the current frontier (frontier-sized, not
    graph-sized), run by :func:`serd_spark.operators.util.
    frontier_fixpoint` keyed on ``node`` — see it for the visited-set,
    checkpoint and ``max_iters`` contract (a graph deeper than the
    backstop raises).  Works on cyclic graphs: a cycle's nodes enter
    the visited set on first touch (the recursive-CTE oracle, by
    contrast, needs an acyclic input to terminate)."""
    seed = roots.select(F.col(id_col).alias("node")).distinct() \
        .withColumn("level", F.lit(0)).localCheckpoint()
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))

    def expand(frontier):
        return (e.join(frontier, e["_s"] == frontier["node"])
                .select(F.col("_d").alias("node"),
                        (F.col("level") + 1).alias("level")))

    visited = frontier_fixpoint(seed, expand, ["node"], max_iters,
                                "bfs_levels")
    return visited.select("node", F.col("level").cast("int").alias("level"))
