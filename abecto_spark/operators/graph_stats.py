"""Graph analytics over the materialized knowledge graph — the
post-construction statistics a KG pipeline needs once triples exist
(reference scope: ABECTO stops at measures over *aspect* populations;
these operators extend the same measure idea to the emitted graph
itself, the natural next consumer in a kg_construct deployment).

  * degree_stats         — per-node in/out/total degree over a directed
                           edge table (one groupBy per direction,
                           map-side partial aggregation; a full-outer
                           join on the node key merges the two).
  * pagerank, pagerank_weighted, personalized_pagerank
                         — fixed-iteration PageRank (damping d, k
                           iterations), uniform, edge-weighted and
                           seed-personalized.  All three run the one
                           lazy round ``pagerank_round`` on
                           ``rules.iterate``; they
                           differ only in the contribution expression
                           (rank/od or rank·w/od) and in the restart and
                           teleport terms.  Per round one shuffle on the
                           destination key.  Dangling mass is an in-plan
                           1-row aggregate broadcast-crossed back into
                           the update, so the loop never collects to the
                           driver; ``localCheckpoint`` (or a snapshot
                           stage, for ``pagerank(store=...)``) truncates
                           lineage each round.  Hot destination nodes
                           (in-degree skew) are handled by Spark's
                           partial aggregation: contributions combine
                           map-side before the shuffle.
  * triangle_counts      — per-node triangle participation via the
                           degree-ordered orientation (each undirected
                           edge points from the (degree, id)-smaller to
                           the larger endpoint), so every triangle is
                           enumerated exactly once at its lowest-degree
                           apex and the heaviest join fan-out is bounded
                           by sqrt(|E|)-ish oriented out-degrees — the
                           standard scalable formulation, not the naive
                           3-cycle join.
  * characteristic_sets  — Neumann/Moerkotte characteristic sets over a
                           triple table: the distinct sorted predicate
                           set per subject, with subject and triple
                           counts per set.  (The classic RDF cardinality
                           summary; also what a KG QA pass reads to spot
                           malformed entities.)  Two groupBys, both on
                           high-cardinality keys first (subject), then
                           on the set fingerprint.
  * void_stats           — W3C VoID-style per-predicate partition
                           statistics: triples, distinct subjects,
                           distinct objects per predicate.  Exact
                           distincts here because the oracle needs
                           determinism; at 100 TB swap in
                           ``approx_count_distinct`` (documented, same
                           shape).

  * bfs_distances        — multi-source BFS (node, min-hop dist) via
                           frontier joins with a settled-set anti-join;
                           bounded by max_depth rounds, early exit when
                           the frontier drains.

Round loops: BFS runs on ``rules.fixpoint`` (rule ``frontier_rule``);
PageRank, label propagation, k-core and weighted distances run their
lazy rounds (``*_round``) on ``rules.iterate``. HITS, harmonic
centrality and the walks keep their own loops (comments say why).

The undirected operators (triangle_counts, kcore, link_prediction_scores,
clustering_coefficient, degree_assortativity, label_propagation) read
one simple-graph builder (``_simple_graph``: least/greatest, no
self-loops, distinct) and one degree builder (``_degrees``).

Scale notes: every operator is groupBy/join-shaped with no driver-side
iteration over data (pagerank's only scalar is |V|, one count).  Degree
skew concentrates in partial aggregation, not in any single reducer;
triangle_counts' orientation bounds the candidate-pair fan-out the way
the dedup family's banded LSH bounds candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .rules import fixpoint, iterate, min_relax_round, relaxed


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node (out_deg, in_deg, total_deg) over a directed edge table.

    Nodes appearing only as sources (or only as destinations) are kept
    with a zero for the missing direction.
    """
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    in_deg = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        out_deg.join(in_deg, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            (F.coalesce("out_deg", F.lit(0)) + F.coalesce("in_deg", F.lit(0)))
            .alias("total_deg"),
        )
    )


def pagerank_round(
    ranks: DataFrame,
    e: DataFrame,
    od: DataFrame,
    nodes: DataFrame,
    damping: float,
    contrib,
    restart,
    teleport,
) -> DataFrame:
    """One PageRank round, lazily: (node, rank) for every row of ``nodes``

        rank'(v) = restart + d * (sum_{u->v} contrib + teleport)

    ``e`` is the edge table (src, dst[, w]); ``od`` holds (node, od), the
    out-degree or total out-weight of every node with an out-edge.
    ``contrib`` is a column over the edge joined to its source's (rank,
    od); ``restart`` and ``teleport`` are columns over ``nodes`` crossed
    with the 1-row ``dangling`` aggregate, the total rank on nodes
    without out-edges.
    """
    with_od = ranks.join(od, "node", "left")
    dangling = (
        with_od.where(F.col("od").isNull())
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
    )
    contribs = (
        e.join(
            with_od.where(F.col("od").isNotNull()).withColumnRenamed(
                "node", "src"
            ),
            "src",
        )
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(contrib).alias("inflow"))
    )
    return (
        nodes.join(contribs, "node", "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            (
                restart
                + F.lit(damping)
                * (F.coalesce("inflow", F.lit(0.0)) + teleport)
            ).alias("rank"),
        )
    )


def _edge_graph(edges: DataFrame, src: str, dst: str, weight=None):
    """(e, nodes): the checkpointed (src, dst[, w]) edge table and its
    checkpointed node set, read by every round of an iterative scorer;
    the edge table carries ``w`` only when ``weight`` is given."""
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight is not None:
        cols.append(F.col(weight).cast("double").alias("w"))
    e = edges.select(*cols).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    return e, nodes


def _pagerank_graph(edges: DataFrame, src: str, dst: str, weight=None):
    """(e, nodes, od) for ``pagerank_round``: ``_edge_graph`` plus the
    per-source out-degree (or, with ``weight``, the summed out-weight
    ``od``), materialized once because every round reads it."""
    e, nodes = _edge_graph(edges, src, dst, weight)
    out = F.count("*").cast("double") if weight is None else F.sum("w")
    od = (
        e.groupBy(F.col("src").alias("node"))
        .agg(out.alias("od"))
        .localCheckpoint()
    )
    return e, nodes, od


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    store=None,
    resume: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank with dangling-mass redistribution.

    rank_{i+1}(v) = (1-d)/N + d * (sum_{u->v} rank_i(u)/outdeg(u)
                                   + dangling_i / N)

    where dangling_i is the total rank_i mass on nodes with no outgoing
    edge.  Returns (node, rank) with rank unrounded — callers that need
    engine portability round (the driver oracle rounds to 6 dp).

    The dangling term is computed as a 1-row aggregate and broadcast
    cross-joined back in, keeping the whole loop in-plan (no
    ``.collect()`` inside the iteration).  Each iteration ends with a
    ``localCheckpoint`` so lineage stays flat over k rounds.

    With a ``store`` (a ``sources.checkpoint.SnapshotStore``) the ranks
    after iteration i persist as stage ``pagerank_iter_{i}`` instead,
    keyed by a token of (damping, |V|); with ``resume`` a killed job
    reuses the completed iterations instead of restarting the loop.
    Each resumed iteration reads the snapshot parquet, so the arithmetic
    sequence is unchanged.  Scale note: a snapshot is |V| rows per
    iteration — at 10⁹ nodes and k=20 this is the cheap insurance
    against losing 20 corpus-scale shuffle rounds to one executor
    failure past Spark's lineage-replay horizon.
    """
    e, nodes, od = _pagerank_graph(edges, src, dst)
    n = nodes.count()  # the one driver scalar: |V|
    # scope-by-store contract (same as the docs pipeline): one store root
    # per graph; the token guards damping/|V| config drift within it
    return iterate(
        nodes.withColumn("rank", F.lit(1.0 / n)),
        lambda r, _i: pagerank_round(
            r, e, od, nodes, damping, F.col("rank") / F.col("od"),
            F.lit((1.0 - damping) / n), F.col("dangling") / F.lit(float(n)),
        ),
        iterations, store=store, name="pagerank",
        token=f"d={damping!r};n={n}", resume=resume,
    )[0]


def _simple_graph(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """The undirected simple graph of ``edges`` as (u, v) rows, u < v:
    direction dropped, self-loops and multi-edges removed."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(node, deg) for every node of the simple graph ``und``; both
    endpoints come from one pass (a union of two would plan ``und``
    twice)."""
    return (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _arcs(und: DataFrame, a: str, b: str) -> DataFrame:
    """Both orientations of every edge of ``und`` as (a, b) rows."""
    return und.select(F.col("u").alias(a), F.col("v").alias(b)).unionByName(
        und.select(F.col("v").alias(a), F.col("u").alias(b))
    )


def _triangles(und: DataFrame) -> DataFrame:
    """(node, deg, n_triangles) for every node of the simple graph
    ``und``, by the degree-ordered orientation of ``triangle_counts``."""
    deg = _degrees(und)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    e1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    e2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = e1.join(e2, "a").where(F.col("x") != F.col("y"))
    closing = oriented.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"])  # one row per triangle (a,x,y)
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return deg.join(corners, "node", "left").select(
        "node", "deg", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts, (node, n_triangles).

    The input is treated as an undirected simple graph (direction
    dropped, self-loops and multi-edges removed).  Edges are oriented by
    the total order (degree, node) ascending; a triangle {a,b,c} is then
    found exactly once as oriented edges a->b, a->c, b->c.  Nodes in no
    triangle are kept with n_triangles = 0.
    """
    return _triangles(_simple_graph(edges, src, dst)).select(
        "node", "n_triangles"
    )


class GraphStatsError(ValueError):
    pass


def kcore_round(g: DataFrame, deg: DataFrame, k: int) -> DataFrame:
    """One k-core peel round, lazily: the degrees of the edges of ``g``
    whose endpoints both have degree >= k in ``deg``. A peeled node keeps
    no edge, so every round may filter the same ``g``."""
    keep = deg.where(F.col("deg") >= k).select("node")
    return _degrees(
        g.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 12,
          src: str = "src", dst: str = "dst") -> DataFrame:
    """Nodes of the k-core of the undirected simple graph, with their
    degree inside the core: rows (node, core_deg), core_deg >= k.

    Iterative peeling on ``rules.iterate``, whose state (and result) is
    the degree table: drop nodes with degree < k, recompute degrees on
    the surviving subgraph, repeat until a round removes no edge (an
    empty core too needs that round).  Each round is two semi-joins
    (both broadcast-able once the survivor set shrinks) plus one degree
    aggregation.  The loop raises loudly after ``max_rounds``
    non-converged rounds rather than running unbounded — callers pick
    the bound, and the driver oracle unrolls exactly that many rounds
    (extra unrolled rounds past the fixpoint are no-ops, so equality is
    exact whenever the loop converges within the bound).

    Scale: the first rounds dominate (full |E| degree agg); each
    subsequent round aggregates only surviving edges (the semi-joins
    filter all |E| map-side), and real-world peel sequences collapse
    geometrically.  The convergence probe is a node count per round — a
    1-long scalar, no data to the driver.
    """
    g = _simple_graph(edges, src, dst).localCheckpoint()
    deg = _degrees(g).localCheckpoint()
    sizes = [deg.count()]

    def until(_prev: DataFrame, new: DataFrame) -> bool:
        # a round that removes an edge removes a whole node below k with
        # it, so the node count holds exactly when no edge was removed
        sizes.append(new.count())
        return sizes[-1] == sizes[-2]

    core, converged = iterate(deg, lambda d, _i: kcore_round(g, d, k), max_rounds, until)
    if not converged:
        raise GraphStatsError(
            f"k-core peeling did not converge within {max_rounds} rounds"
        )
    return core.withColumnRenamed("deg", "core_deg")


def link_prediction_scores(
    edges: DataFrame,
    max_center_degree: int | None = None,
    min_common: int = 2,
    exclude_existing: bool = True,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Structural link-prediction scores over the undirected simple
    graph: for every non-adjacent 2-hop pair (x, y) sharing at least
    ``min_common`` neighbors, emit

      (x, y, common_neighbors, jaccard, adamic_adar)

    with x < y, jaccard = |N(x) ∩ N(y)| / |N(x) ∪ N(y)| and
    adamic_adar = Σ_{c ∈ N(x) ∩ N(y)} 1/ln(deg(c)).

    This is the graph-side complement of JaroWinkler string linking:
    entities whose neighborhoods overlap are correspondence candidates
    even when their labels diverge.

    Scale: the wedge join fans out Σ_c C(deg(c), 2) rows — quadratic in
    hub degrees — so ``max_center_degree`` drops super-hub *centers*
    (the standard truncation; hubs contribute near-zero Adamic-Adar
    weight anyway since 1/ln(deg) → 0).  The cap bounds the fan-out at
    |V|·C(cap, 2) and is applied identically by the oracle.  deg(x) /
    deg(y) in the Jaccard denominator always use the *uncapped* degree.
    Centers in a wedge have deg ≥ 2, so ln(deg) > 0 — no zero division.
    """
    und = _simple_graph(edges, src, dst)
    adj = _arcs(und, "center", "leaf")
    deg = adj.groupBy("center").agg(F.count("*").alias("deg"))
    centers = deg if max_center_degree is None else deg.where(
        F.col("deg") <= max_center_degree
    )
    adjc = adj.join(centers, "center")
    w1 = adjc.select("center", F.col("leaf").alias("x"), "deg")
    w2 = adjc.select("center", F.col("leaf").alias("y"))
    wedges = w1.join(w2, "center").where(F.col("x") < F.col("y"))
    scored = wedges.groupBy("x", "y").agg(
        F.count("*").alias("common_neighbors"),
        F.sum(F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("adamic_adar"),
    )
    if exclude_existing:
        scored = scored.join(
            und,
            (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
            "left_anti",
        )
    dx = deg.select(F.col("center").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("center").alias("y"), F.col("deg").alias("deg_y"))
    return (
        scored.where(F.col("common_neighbors") >= min_common)
        .join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "common_neighbors",
            (
                F.col("common_neighbors")
                / (F.col("deg_x") + F.col("deg_y") - F.col("common_neighbors"))
                .cast("double")
            ).alias("jaccard"),
            "adamic_adar",
        )
    )


def characteristic_sets(
    triples: DataFrame, s: str = "s", p: str = "p"
) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011) of a triple
    table: rows (cs, n_subjects, n_triples) where ``cs`` is the
    comma-joined sorted set of distinct predicates a subject carries.

    Both groupBys key on high-cardinality columns first (subject), so
    the plan is two map-side-combining aggregations; the set string is
    built with ``array_sort(collect_set(...))`` — binary string order,
    matching SQL ``ORDER BY`` on ASCII IRIs.
    """
    per_subject = triples.groupBy(F.col(s).alias("subject")).agg(
        F.concat_ws(",", F.array_sort(F.collect_set(F.col(p)))).alias("cs"),
        F.count("*").alias("nt"),
    )
    return per_subject.groupBy("cs").agg(
        F.count("*").alias("n_subjects"),
        F.sum("nt").alias("n_triples"),
    )


def void_stats(
    triples: DataFrame, s: str = "s", p: str = "p", o: str = "o_value"
) -> DataFrame:
    """VoID-style per-predicate partition statistics:
    (predicate, n_triples, n_subjects, n_objects) with exact distinct
    counts (the oracle needs determinism; at 100 TB substitute
    ``approx_count_distinct`` — identical plan shape, no extra shuffle).
    """
    return triples.groupBy(F.col(p).alias("predicate")).agg(
        F.count("*").alias("n_triples"),
        F.countDistinct(F.col(s)).alias("n_subjects"),
        F.countDistinct(F.col(o)).alias("n_objects"),
    )


def clustering_coefficient(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node local clustering coefficient over the undirected simple
    graph: c(v) = triangles(v) / C(deg(v), 2), 0 where deg < 2.
    Reads deg and the triangle counts off the one degree-oriented
    enumeration ``triangle_counts`` runs — no new shuffle shapes.
    Returns (node, deg, n_triangles, clustering).
    """
    tri = _triangles(_simple_graph(edges, src, dst))
    pairs = (F.col("deg") * (F.col("deg") - 1) / 2.0)
    return tri.select(
        "node",
        "deg",
        "n_triangles",
        F.when(F.col("deg") < 2, F.lit(0.0))
        .otherwise(F.col("n_triangles") / pairs)
        .alias("clustering"),
    )


def degree_assortativity(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree assortativity of the undirected simple graph (Newman
    2002): the Pearson correlation of (deg(u), deg(v)) over every edge
    counted in both directions.  One row (assortativity, n_edges).
    Pure aggregation — corr() is a single-pass combinable aggregate, so
    the whole statistic is one map-side-combining job at any scale.
    """
    und = _simple_graph(edges, src, dst)
    deg = _degrees(und)
    both = _arcs(und, "u", "v")
    pairs = (
        both.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(deg.withColumnRenamed("node", "v"), "v")
        .withColumnRenamed("deg", "dv")
    )
    return pairs.agg(
        F.corr(F.col("du").cast("double"), F.col("dv").cast("double")).alias(
            "assortativity"
        ),
        (F.count("*") / 2).cast("long").alias("n_edges"),
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 8,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS: (node, dist) for every node reachable from the
    seed set within ``max_depth`` hops, dist = minimum hop count from
    any seed (0 for the seeds themselves).

    Frontier-based, on the shared fixpoint kernel (``rules.fixpoint``):
    round d joins the depth-(d-1) frontier against the edge table, tags
    the targets with dist=d (the round index) and anti-joins the
    settled set on ``node`` alone — the same frontier shape as the
    SPARQL seeded path closure (sparql.py). Each round is one equi-join
    shuffle keyed on the edge source plus the anti-join; the kernel
    checkpoints each round and stops when the frontier drains.  Bounded
    by ``max_depth`` rounds — BFS layers, unlike a fixpoint, are exact
    at whatever bound the caller picks, and the driver oracle recurses
    to the same bound, so hitting the bound is not an error here.

    Scale: the frontier is never collected; settled-set anti-joins stay
    shuffle-local once both sides share the node-key partitioning, and
    the per-level distinct bounds revisits on cyclic graphs.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if not directed:
        e = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.where(F.col("s") != F.col("d")).distinct().localCheckpoint()

    seeds0 = seeds.select(
        F.col(seeds.columns[0]).alias("node"), F.lit(0).cast("long").alias("dist")
    )
    return fixpoint(seeds0, frontier_rule(e), max_depth, key=["node"])[0]


def frontier_rule(e: DataFrame):
    """BFS's ``rules.fixpoint`` rule over (s, d) edges: the targets of
    the frontier's out-edges, tagged with the round index as ``dist``."""

    def rule(frontier: DataFrame, _settled: DataFrame, depth: int) -> DataFrame:
        return e.join(frontier.select(F.col("node").alias("s")), "s").select(
            F.col("d").alias("node"), F.lit(depth).cast("long").alias("dist")
        )

    return rule


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "w",
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a weighted edge table: each node
    distributes its rank proportionally to outgoing edge weights
    (contribution = rank·w_uv / W_u with W_u = Σ outgoing weights) —
    the ranking primitive for co-occurrence/PMI-count graphs where edge
    multiplicity carries signal.  Weights must be positive.

    The round and loop of ``pagerank`` with rank·w/W_u as the
    contribution; the only driver scalar is |V|.  Returns (node, rank)
    unrounded.
    """
    e, nodes, od = _pagerank_graph(edges, src, dst, weight_col)
    n = nodes.count()  # the one driver scalar: |V|
    return iterate(
        nodes.withColumn("rank", F.lit(1.0 / n)),
        lambda r, _i: pagerank_round(
            r, e, od, nodes, damping, F.col("rank") * F.col("w") / F.col("od"),
            F.lit((1.0 - damping) / n), F.col("dangling") / F.lit(float(n)),
        ),
        iterations,
    )[0]


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration personalized PageRank: the reset vector is
    uniform over the seed set instead of all nodes, so rank mass
    expresses relevance *to the seeds* — the KG-side "related entities"
    primitive (seed an entity, read off its neighborhood by stationary
    mass).

    rank_{i+1}(v) = (1-d)·r(v) + d·(Σ_{u→v} rank_i(u)/outdeg(u)
                                     + dangling_i·r(v))

    with r(v) = 1/|S| for seeds, 0 otherwise; dangling mass returns to
    the seeds (the standard PPR teleport).  The round and loop of
    ``pagerank`` with (1-d)·r and dangling·r as the restart and
    teleport terms; the only driver scalar is |S| (one count).
    Returns (node, rank) unrounded.
    """
    e, nodes, od = _pagerank_graph(edges, src, dst)
    seed_nodes = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
        .localCheckpoint()
    )
    n_seeds = seed_nodes.count()  # the one driver scalar: |S|
    if n_seeds == 0:
        raise GraphStatsError("personalized_pagerank: empty seed set")
    # reset vector r(v): 1/|S| on seeds, 0 elsewhere — kept as a column
    # on the node table so every round reads it without a rejoin
    reset = nodes.join(
        seed_nodes.withColumn("_r", F.lit(1.0 / n_seeds)), "node", "left"
    ).select("node", F.coalesce("_r", F.lit(0.0)).alias("r")).localCheckpoint()
    return iterate(
        reset.select("node", F.col("r").alias("rank")),
        lambda r, _i: pagerank_round(
            r, e, od, reset, damping, F.col("rank") / F.col("od"),
            F.lit(1.0 - damping) * F.col("r"), F.col("dangling") * F.col("r"),
        ),
        iterations,
    )[0]


def lpa_round(nbrs: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous label-propagation round, lazily: every node of
    ``nbrs`` (node, nbr) takes the most frequent of its neighbors'
    ``labels`` (node, label), ties broken by the smallest label."""
    votes = (
        nbrs.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        )
        .groupBy("node", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # argmax by (cnt desc, label asc) as one aggregate: max over
    # struct(cnt, -label) — labels are node ids (numeric), so the
    # negation makes "max" pick the smallest label among ties
    return (
        votes.groupBy("node")
        .agg(
            F.max(
                F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
            ).alias("m")
        )
        .select("node", (-F.col("m.neg")).alias("label"))
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection over the
    undirected view of ``edges``: every node starts as its own label;
    each round it adopts the most frequent label among its neighbors,
    ties broken by the smallest label.  Returns (node, label) after a
    FIXED number of synchronous rounds — the deterministic variant
    (async/random-order LPA is not reproducible across partitionings,
    which disqualifies it for an oracle-checked pipeline; synchronous
    LPA may oscillate on bipartite structures, so the result is defined
    as "the labeling after ``rounds`` rounds", not a fixpoint claim).

    Scale shape: per round (``lpa_round``) one shuffle for the
    neighbor-label join (on node id, high cardinality) and one for the
    (node, label) count aggregate; the argmax is a single
    ``max(struct(cnt, -label))`` aggregate — no low-cardinality window
    anywhere.  The rounds run on ``rules.iterate`` like the PageRank
    loop.  Mirrors the role of GraphX's LabelPropagation
    in a Spark deployment; reference parity anchor: ABECTO groups
    correspondences by connected closure
    (``processing/MappingProcessor.java``) — LPA is the denser-community
    refinement a KG pipeline runs on top of the materialized graph.
    """
    if rounds < 1:
        raise GraphStatsError("label_propagation needs rounds >= 1")
    # undirected, self-loop-free, deduplicated neighbor relation: each
    # edge contributes both directions exactly once
    nbrs = _arcs(_simple_graph(edges, src, dst), "node", "nbr").localCheckpoint()
    labels = (
        nbrs.select("node").distinct().withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    return iterate(labels, lambda lab, _i: lpa_round(nbrs, lab), rounds)[0]


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over the
    directed edge set.  Starting from hub=1.0 on every node, each round
    computes

      auth_raw(v) = sum over edges (u, v) of hub(u),   then L2-normalize
      hub_raw(u)  = sum over edges (u, v) of auth(v),  then L2-normalize

    and returns (node, hub, auth) after ``iterations`` rounds, zeros for
    nodes with no in-edges (auth) / no out-edges (hub).  Unrounded —
    callers needing engine portability round (the driver oracle rounds
    to 6 dp), same convention as :func:`pagerank`.

    Plan shape per half-step: one equi-join shuffle of the edge table
    against the current score vector keyed on the edge endpoint, one
    map-side-combining groupBy on the other endpoint, and a 1-row L2
    aggregate broadcast back in (no ``.collect()`` in the loop).
    ``localCheckpoint`` per iteration keeps lineage flat, exactly like
    the PageRank loop above.  Reference anchor: ABECTO has no HITS —
    this is training-pipeline graph breadth over the materialized KG.
    """
    if iterations < 1:
        raise GraphStatsError("hits needs iterations >= 1")
    e, nodes = _edge_graph(edges, src, dst)
    hubs = nodes.withColumn("hub", F.lit(1.0))
    auths = None
    # two frames per round (auths feed hubs), so not rules.iterate
    for _ in range(iterations):
        auths = _hits_half(e, hubs, "src", "dst", "hub", "auth")
        hubs = _hits_half(e, auths, "dst", "src", "auth", "hub")
    return (
        nodes.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )


def _hits_half(e: DataFrame, scores: DataFrame, by: str, to: str,
               score: str, out: str) -> DataFrame:
    """One HITS half-step, checkpointed: (node, ``out``) for every ``to``
    endpoint of ``e``, the sum of ``score`` over its ``by`` neighbours
    (``scores``: (node, ``score``)), L2-normalized."""
    raw = (
        e.join(scores.withColumnRenamed("node", by), by)
        .groupBy(F.col(to).alias("node"))
        .agg(F.sum(score).alias("v"))
    )
    norm = raw.agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
    return (
        raw.crossJoin(F.broadcast(norm))
        .select("node", (F.col("v") / F.col("nrm")).alias(out))
        .localCheckpoint()
    )


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Sampled-source harmonic centrality: for every node v reached by
    at least one seed at hop distance 1..``max_depth``, returns
    (node, harmonic) with

        harmonic(v) = sum over seeds s with 0 < d(s, v) <= max_depth
                      of 1 / d(s, v)

    where d follows edge direction (distance INTO v).  The exact
    all-sources quantity is O(|V|) BFS runs; the standard scale trick —
    what this implements — is a deterministic seed sample, which is an
    unbiased |S|/|V|-scaled estimator of the full sum.

    Unlike :func:`bfs_distances` (min distance from the seed *set*),
    this carries the seed label through the frontier: state rows are
    (s, node, dist), i.e. |S| interleaved BFS waves sharing each round's
    single edge-join shuffle.  The per-level distinct on (s, node)
    bounds cyclic revisits; the settled anti-join is keyed on the same
    pair.  Memory is O(|S| * reach), which is the budget the seed
    sample size controls.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint()
    )
    level0 = (
        seeds.select(F.col(seeds.columns[0]).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"))
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    # lazy union of the frontiers, not rules.fixpoint (SCALE.md: 24.0 -> 21.3 s)
    settled = level0
    frontier = level0.select("seed", "node")
    for depth in range(1, max_depth + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("node", "s"), "s")
            .select("seed", F.col("d").alias("node"))
            .distinct()
            .join(settled.select("seed", "node"), ["seed", "node"], "left_anti")
            .withColumn("dist", F.lit(depth).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        settled = settled.unionByName(nxt)
        frontier = nxt.select("seed", "node")
    return (
        settled.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"))
    )


def weighted_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Multi-source weighted shortest distances bounded at ``max_hops``
    relaxation rounds (Bellman-Ford): (node, dist) where dist is the
    minimum total edge weight over any ≤ max_hops-hop path from a seed
    (0 for the seeds).  Negative weights are rejected loudly — with a
    hop bound they would make the result a path-length artifact.

    Each round (``sssp_round``) is one equi-join shuffle of the edge
    table against the current distance vector keyed on the edge source,
    a union, and a map-side-combining min aggregate — the textbook
    distributed relaxation, the same ``rules.min_relax_round`` as the
    distributed CC rounds.  The rounds run on ``rules.iterate``; an
    early exit fires when a round changes no distance (the changed-row
    count is also what materializes the round).  Unlike the BFS
    frontier (``bfs_distances``), a settled set cannot prune here
    (a longer-hop path may still be cheaper), so the per-round cost is
    the full |E| join — the price of weights.
    """
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"),
        F.col(weight).cast("double").alias("w"),
    ).localCheckpoint()
    if not e.where(F.col("w") < 0).isEmpty():
        raise GraphStatsError("weighted_distances requires weights >= 0")
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .localCheckpoint(eager=True)
    )
    dist, _ = iterate(dist, lambda d, _i: sssp_round(e, d), max_hops, relaxed("dist"))
    return dist.select("node", "dist")


def sssp_round(e: DataFrame, dist: DataFrame) -> DataFrame:
    """One Bellman-Ford relaxation round over (s, d, w) edges, lazily:
    ``rules.min_relax_round`` with ``dist + w`` along every out-edge of
    a reached node as the messages."""
    msgs = e.join(dist.withColumnRenamed("node", "s"), "s").select(
        F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
    )
    return min_relax_round(dist, msgs, "dist")


def deterministic_walks(
    edges: DataFrame,
    seeds: DataFrame,
    walk_length: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-length pseudo-random walks — the DeepWalk/node2vec corpus
    generator, made fully deterministic so an oracle can replay it: at
    step ``i`` on node ``v`` the walk moves to the neighbor of rank

        1 + (v * 31 + i) mod outdeg(v)

    where neighbors are ranked 1..outdeg(v) by destination id.  A walk
    ending on a node with no out-edges stops early.  Returns one row
    per visited position: (walk, step, node) with step 0 at the seed.

    The modular-congruential choice replaces the usual RNG (which would
    be partition-order dependent and un-replayable); embedding trainers
    consuming the corpus only need decorrelated coverage, which varying
    the residue by both node id and step provides.  Plan shape: the
    neighbor ranking is one window partitioned by the (high-cardinality)
    source node computed once; each step is then a single equi-join of
    the current frontier against it — ``walk_length`` joins total, no
    Python anywhere.
    """
    kind = dict(edges.dtypes).get(src, "")
    if not any(t in kind for t in ("int", "long", "short", "byte", "decimal")):
        # string ids would null out the congruential arithmetic and
        # yield silently-empty walks — refuse instead
        raise GraphStatsError(
            f"deterministic_walks needs integer node ids, got {kind!r} "
            "(map ids through a dictionary first)"
        )
    w = Window.partitionBy("s").orderBy("d")
    nbrs = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .withColumn("od", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .localCheckpoint()
    )
    if not nbrs.where(F.col("s") < 0).isEmpty():
        # a negative source makes the residue <= 0, which no neighbor
        # rank matches: the walk would end early without a trace
        raise GraphStatsError(
            "deterministic_walks needs non-negative node ids "
            "(map ids through a dictionary first)"
        )
    cur = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .select(F.col("node").alias("walk"), F.col("node"))
        .withColumn("step", F.lit(0))
    )
    out = cur
    # every round's frame is part of the result, so not rules.iterate
    for i in range(1, walk_length + 1):
        pick = 1 + (F.col("s") * 31 + F.lit(i)) % F.col("od")
        cur = (
            cur.withColumnRenamed("node", "s")
            .join(nbrs, "s")
            .where(F.col("rank") == pick)
            .select("walk", F.col("d").alias("node"),
                    F.lit(i).alias("step"))
            .localCheckpoint()
        )
        out = out.unionByName(cur)
    return out.select("walk", "step", "node")
