"""Graph operators over an undirected pair graph: a DataFrame of
canonical pairs ``(doc_a, doc_b)`` with doc_a < doc_b -- near-dup
pairs from ``dedup.ngram_jaccard_pairs`` or the co-purchase part
graph -- read as undirected edges.

Every operator is written over three private kernels, so the shared
sub-plan (symmetrize -> degree -> wedge) has one definition:

- ``_undirected(pairs)`` -- the only place the pair stream is
  materialized and symmetrized;
- ``_degrees(edges)`` -- the per-node degree count;
- ``_wedges(edges)`` -- the hub-keyed self-join enumerating every
  pair of a hub's neighbors once.

Families: components (``connected_components``, its star variant,
``component_stats``), traversal and ranking loops (``bfs_hops``,
``label_propagation``, ``pagerank``, ``eigenvector_centrality``,
``kcore``), triangles (``triangle_count``, ``clustering_coefficient``,
``edge_triangle_support``, ``global_transitivity``), the
link-prediction panel (``common_neighbors``, ``adamic_adar``,
``preferential_attachment``, ``resource_allocation``,
``edge_jaccard``) and degree statistics (``degree_histogram``,
``degree_assortativity``, ``degree_gini``, ``rich_club``).

Every exchange keys on node ids; no adjacency list ever materializes
as an array. Iterative operators write only their round body and run
it through ``session.iterate``, whose docstring is the one statement
of their checkpoint cadence, shuffle width and stop test -- except the
fixed-round ``label_propagation``, which stays one lazy plan.

Reference licence: composition target -- chained-jobs model
(SURVEY.md §2A FIFO queue) over the WordCount substrate
(src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import iterate

# ------------------------------------------------------------ kernels


def _undirected(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The pair-graph substrate: materialize the canonical pair stream
    ``(doc_a, doc_b)`` ONCE and return it together with the symmetrized
    edge list ``(a, b)`` -- both directions of every pair, a union of
    two scans over that one checkpoint.

    Why the pairs and not the edges: both union branches contain the
    pair subtree, and most operators re-read the pairs as well
    (anti-joins against existing edges, closing semi-joins, stamp
    joins). Checkpointing only the union still runs the pair subtree
    once per branch (co-purchase graph: 17 exchanges without a pair
    checkpoint, 5 with); checkpointing the pairs runs it exactly once
    for every consumer. Iterative operators re-join the union each
    round -- two in-memory scans, never a recomputation.

    Durability trade-off: ``localCheckpoint`` (eager) stores the blocks
    on the executors only, unreplicated, and truncates lineage -- so
    losing an executor mid-query fails the query instead of
    recomputing the pairs. That is the right trade for a local or
    short-lived session (no checkpoint-directory write, no second
    evaluation); a long-running production cluster that must survive
    executor loss would swap this one call for ``persist()`` or a
    reliable ``checkpoint()``, and every operator here follows."""
    p = pairs.select("doc_a", "doc_b").localCheckpoint()
    edges = p.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionByName(
        p.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    return p, edges


def _degrees(edges: DataFrame) -> DataFrame:
    """(doc_id, deg) per node of a symmetrized edge list."""
    return edges.groupBy(F.col("a").alias("doc_id")).agg(F.count("*").alias("deg"))


def _wedges(edges: DataFrame) -> DataFrame:
    """(hub, doc_a, doc_b, ...) for every pair of a hub's neighbors
    with doc_a < doc_b: the symmetrized edges joined to themselves on
    the hub, fan-out bounded by deg(hub)^2. Extra columns of ``edges``
    (hub credits) ride along on the doc_a side."""
    left = edges.withColumnRenamed("a", "hub").withColumnRenamed("b", "doc_a")
    right = edges.select(F.col("a").alias("hub"), F.col("b").alias("doc_b"))
    return left.join(right, "hub").filter(F.col("doc_a") < F.col("doc_b"))


def _with_degrees(df: DataFrame, degs: DataFrame) -> DataFrame:
    """Stamp deg_a / deg_b onto a (doc_a, doc_b, ...) frame: two keyed
    joins against the degree table."""
    return df.join(
        degs.select(F.col("doc_id").alias("doc_a"), F.col("deg").alias("deg_a")), "doc_a"
    ).join(degs.select(F.col("doc_id").alias("doc_b"), F.col("deg").alias("deg_b")), "doc_b")


# --------------------------------------------------------- components


def _components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Min-label propagation over a symmetrized edge list (see
    ``connected_components``): (doc_id, component_id)."""
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn("comp", F.col("node"))

    def step(labels: DataFrame, _) -> DataFrame:
        nbr_min = (
            edges.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return labels.join(nbr_min, "node", "left").select(
            "node", F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp")
        )

    # labels only ever decrease under min-propagation, so sum(comp) is
    # strictly decreasing until the fixpoint -- an exact stop test from
    # one tiny aggregate instead of a join of new-vs-old labels;
    # decimal(38,0) so the sum cannot overflow int64 at real id ranges
    labels, converged = iterate(
        labels, step, max_iter, probe=[F.sum(F.col("comp").cast("decimal(38,0)"))]
    )
    if not converged:
        # rounds needed = component diameter; a graph deeper than
        # max_iter would silently get WRONG labels here -- fail loud
        # and point at the log-rounds variant instead
        raise RuntimeError(
            f"label propagation did not converge in {max_iter} rounds "
            "(component diameter exceeds the budget); raise max_iter or "
            "use connected_components_star, whose rounds scale with "
            "log(component size) instead of diameter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("component_id"))


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Near-dup *clusters* from near-dup *pairs*: (doc_id, component_id)
    with component_id = the smallest doc_id reachable through the pair
    graph. This is the step that turns pairwise similarity output into
    one-survivor-per-cluster dedup decisions.

    Iterative min-label propagation: every round each node adopts the
    minimum label among itself and its neighbors; rounds needed = the
    component diameter (near-dup clusters are tight -- 2-4 rounds in
    practice). Per round: one shuffle joining labels onto edges plus a
    grouped MIN; the stop test is sum(label), which falls strictly
    until the fixpoint, and a budget ``max_iter`` shorter than the
    diameter raises instead of returning wrong labels. Checkpointing,
    shuffle width and the stop test are ``session.iterate``'s. Same
    dataflow GraphX/GraphFrames runs; for billion-edge graphs swap in
    the large-star/small-star variant -- the per-round shuffle shape
    is identical.
    """
    return _components(_undirected(pairs)[1], max_iter)


def connected_components_star(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") --
    the billion-edge alternative to ``connected_components``' label
    propagation: rounds scale with log(component size), not component
    DIAMETER, so a pathological million-node chain converges in ~20
    rounds instead of a million.

    Each star operation is ONE hash shuffle (a min window over the
    neighbor list's partition -- no join, no collect_list):

    - large-star: for every node u, attach each LARGER neighbor
      directly to m = min(N(u) ∪ {u});
    - small-star: orient edges canonically (big -> small), attach u
      and each smaller neighbor except m itself to m.

    Both strictly shrink a monotone potential (sum of edge endpoints),
    so the stop test is one scalar aggregate per round (edge count and
    endpoint sums) and at the fixpoint the edge set IS the star (node
    -> component min). Checkpointing, shuffle width and the stop test
    are ``session.iterate``'s, and a ``max_iter`` budget that runs out
    raises, as in ``connected_components``. Output schema matches it,
    and the equivalence is asserted across chain/clique/random graphs
    in tests/test_dedup.py."""
    p, _ = _undirected(pairs)
    e = p.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    w = Window.partitionBy("u")

    def large_star(edges: DataFrame) -> DataFrame:
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        m = F.least(F.col("u"), F.min("v").over(w))
        return (
            sym.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        canon = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        withm = canon.withColumn("m", F.min("v").over(w))
        nbrs = (
            withm.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        selfs = withm.select("u", F.col("m").alias("v"))
        return nbrs.union(selfs).distinct()

    sig = [F.count("*")] + [F.sum(F.col(c).cast("decimal(38,0)")) for c in ("u", "v")]
    e, converged = iterate(e, lambda cur, _: small_star(large_star(cur)), max_iter, probe=sig)
    if not converged:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} rounds; raise max_iter"
        )
    # at the fixpoint e is (node -> root); roots have no outgoing edge
    roots = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    return (
        nodes.join(roots, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("comp", "node").alias("component_id"),
        )
    )


def component_stats(pairs: DataFrame) -> DataFrame:
    """Per-component size, edge count and density of the pair graph --
    the cluster triage report before a dedup pipeline picks survivors:
    ``connected_components`` labels plus two keyed rollups (nodes per
    label; pairs per label, keyed on doc_a), density
    2*E / (N*(N-1)) one double off exact counts.

    Emits (component_id, n_nodes, n_edges, density)."""
    p, edges = _undirected(pairs)
    labels = _components(edges)
    nodes = labels.groupBy("component_id").agg(F.count("*").alias("n_nodes"))
    ecount = (
        p.join(labels.select(F.col("doc_id").alias("doc_a"), "component_id"), "doc_a")
        .groupBy("component_id")
        .agg(F.count("*").alias("n_edges"))
    )
    return nodes.join(ecount, "component_id").select(
        "component_id",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.round(
            2.0
            * F.col("n_edges")
            / (F.col("n_nodes") * (F.col("n_nodes") - 1).cast("double")),
            4,
        ).alias("density"),
    )


# ------------------------------------------------- traversal & ranking


def bfs_hops(pairs: DataFrame, max_hops: int = 8) -> DataFrame:
    """BFS hop distance over an undirected pair graph from a
    deterministic seed (the globally smallest node id) — the iterative
    graph primitive beyond connected components: "how close is every
    near-dup to this document", blast-radius analysis for
    contamination tracing.

    Classic frontier expansion over one state, the visited set
    ``(doc_id, hop)``: round h joins the hop-h frontier to the edge
    list, anti-joins the visited set, and appends the new nodes at hop
    h + 1. The stop test is the visited count (``session.iterate``
    owns it, the checkpointing and the shuffle width): an unchanged
    count means the component is exhausted. ``max_hops`` is a cutoff,
    not an error -- worst-case work is max_hops keyed joins, each
    shuffle bounded by frontier x degree. Matches a depth-bounded
    recursive-CTE BFS exactly (min hop per node); an empty graph has
    no seed and returns no rows.

    Emits (doc_id, hop).
    """
    _, edges = _undirected(pairs)
    seed = (
        edges.agg(F.min("a").alias("doc_id"))
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.lit(0).alias("hop"))
    )

    def step(visited: DataFrame, h: int) -> DataFrame:
        nxt = (
            visited.filter(F.col("hop") == h)
            .join(edges, F.col("doc_id") == F.col("a"))
            .select(F.col("b").alias("doc_id"))
            .distinct()
            .join(visited, "doc_id", "left_anti")
        )
        return visited.unionByName(nxt.withColumn("hop", F.lit(h + 1)))

    visited, _ = iterate(seed, step, max_hops, probe=[F.count("*")])
    return visited


def label_propagation(
    pairs: DataFrame, vertices: DataFrame, rounds: int = 3
) -> DataFrame:
    """Fixed-round synchronous label-propagation communities over the
    undirected near-dup graph (Raghavan et al. '07) — the community
    primitive beyond connected components: CC answers "reachable at
    all", LPA's mode-of-neighbors rule splits a component into its
    densely-linked cores (boilerplate families inside a loosely
    chained component).

    Determinism by construction: labels start as node ids, every
    round updates ALL nodes simultaneously to the most frequent
    neighbor label with ties broken by the SMALLEST label, isolated
    nodes keep their own id, and the round count is fixed — no
    convergence probe, no oscillation sensitivity, so the result is a
    pure function of the edge set and both engines replay it exactly
    (the oracle unrolls the same rounds as chained CTEs).

    One exchange per round. Only non-isolated nodes carry state:
    round 1 needs no join (every neighbor's label is still its own
    id, so the messages are the edges ``(a, label=b)``); later rounds
    join the previous labels onto the edges on ``b``. The messages
    are hash-partitioned on ``a`` once, and both the (node, label)
    count and the per-node mode -- ``min(struct(-count, label))``,
    i.e. count desc then smallest label -- run on that partitioning.
    A single left join onto ``vertices`` at the end gives isolated
    nodes their own id. Both joins take the labels as a
    ``shuffle_hash`` build side: the labels are already partitioned
    on the node id, so the join adds no exchange on their side and
    the edges' exchange on ``b`` is reused by every round. Without
    the hint AQE turns each small labels side into a broadcast at
    run time, which costs one more stage per round.

    No per-round checkpoint: the fixed rounds form a linear chain in
    which each round's state is read exactly once, so one plan
    computes every round once, launches no job while it is built
    (beyond ``_undirected``'s pair checkpoint) and lets AQE coalesce
    every exchange. Precondition: every pair endpoint is a vertex --
    round 1 reads labels straight off the edges, so an endpoint
    outside ``vertices`` would still vote. Emits (doc_id, community).
    """
    _, edges = _undirected(pairs)
    msgs = edges.select("a", F.col("b").alias("label"))
    for r in range(rounds):
        if r:
            prev = labels.withColumnRenamed("a", "b").hint("shuffle_hash")
            msgs = edges.join(prev, "b").select("a", "label")
        labels = (
            msgs.repartition("a")
            .groupBy("a", "label")
            .agg(F.count("*").alias("c"))
            .groupBy("a")
            .agg(F.min(F.struct(-F.col("c"), F.col("label"))).alias("m"))
            .select("a", F.col("m.label").alias("label"))
        )
    if not rounds:
        labels = msgs.limit(0)
    return (
        vertices.select("doc_id")
        .join(labels.withColumnRenamed("a", "doc_id").hint("shuffle_hash"), "doc_id", "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("community"))
    )


def pagerank(
    pairs: DataFrame,
    vertices: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected near-dup graph —
    the canonical iterative graph workload (Page et al. '99) beyond
    the connected-components / BFS family already declared: rank mass
    concentrates on documents central to a duplication cluster, the
    "which doc is the canonical source" signal.

    Per iteration: one keyed join (rank state × edges), one grouped
    sum per destination, a 1-row dangling-mass aggregate broadcast
    into the update (isolated docs redistribute everywhere), and one
    update join back onto the static vertex table; |V| is fetched once
    and enters the rank expressions as a literal. The state is
    checkpointed every 3rd round by ``session.iterate`` (whose
    docstring states the cadence, shuffle width and stop-test
    contract), so plan depth stays constant and worst-case work is
    ``iters`` × (|E| shuffle + |V| agg). The STATIC per-vertex
    structure (out-degree, dangling flag) is joined ONCE before the
    loop and carried inside the rank state, so no iteration re-joins
    degrees or re-derives the dangling set (the naive loop pays both
    every round). All vertices (including isolated ones) participate
    from a uniform 1/N start.

    Emits (doc_id, pr) rounded to 6 — both engines accumulate in
    float64 with different summation orders; 6 digits is far above
    the ~1e-14 reorder noise and far below the ~1e-3 rank scale.
    """
    _, edges = _undirected(pairs)
    # static per-vertex structure, joined once and carried in-state
    vstat = (
        vertices.select("doc_id")
        .join(_degrees(edges), "doc_id", "left")
        .localCheckpoint()
    )
    # |V| as a double literal; an empty graph has no rows to divide, and
    # a 0 divisor would fail ANSI constant folding, hence ``or 1``
    n = F.lit(float(vstat.count() or 1))

    def step(ranks: DataFrame, _) -> DataFrame:
        contrib = (
            ranks.filter(F.col("deg").isNotNull())
            .join(edges, F.col("doc_id") == F.col("a"))
            .groupBy(F.col("b").alias("doc_id"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("s"))
        )
        dangling = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("m")
        )
        return (
            vstat.join(contrib, "doc_id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "doc_id",
                (
                    (1.0 - damping) / n
                    + damping * (F.coalesce(F.col("s"), F.lit(0.0)) + F.col("m") / n)
                ).alias("pr"),
                "deg",
            )
        )

    # checkpoint every 3rd round: depth-3 plans stay cheap to re-derive
    # while the per-round materialization job (the dominant fixed cost
    # of iterative workloads on small graphs) amortizes 3x
    ranks, _ = iterate(
        vstat.select("doc_id", (F.lit(1.0) / n).alias("pr"), "deg"), step, iters, every=3
    )
    return ranks.select("doc_id", F.round("pr", 6).alias("pr"))


def eigenvector_centrality(
    pairs: DataFrame, vertices: DataFrame, iters: int = 8
) -> DataFrame:
    """Fixed-iteration eigenvector centrality over the undirected
    near-dup graph -- power iteration with per-round max-normalization
    (the Bonacich score; on an undirected graph this is also what
    HITS' hub/authority pair collapses to). PageRank answers "where
    does a random surfer land"; eigenvector centrality answers "who
    is connected to the well-connected" without the teleport smoothing
    -- the canonical-document signal inside a dense duplication
    cluster.

    The iteration matrix is A + I (each vertex keeps its own score in
    the neighbor sum) -- the standard shift that makes power
    iteration converge on BIPARTITE components too, where plain A
    oscillates with period 2 forever (its dominant eigenvalue pair is
    +/-lambda; adding I breaks the symmetry). Eigenvectors are
    unchanged.

    Per iteration: ONE keyed join (score state x edges), one grouped
    sum per destination, and a 1-row max broadcast for the
    normalization -- no stop test; ``session.iterate`` checkpoints
    every 3rd round (its docstring states the contract). Worst-case
    work is ``iters`` x (|E| shuffle + |V| agg). Isolated vertices decay
    geometrically toward 0 (they keep only their own shrinking share
    of the growing max).

    Emits (doc_id, centrality) rounded to 6 -- both engines
    accumulate in float64 with different summation orders; 6 digits
    is far above the ~1e-14 reorder noise.
    """
    _, edges = _undirected(pairs)

    def step(x: DataFrame, _) -> DataFrame:
        s = (
            x.join(edges, F.col("doc_id") == F.col("a"))
            .groupBy(F.col("b").alias("doc_id"))
            .agg(F.sum("x").alias("s"))
        )
        t = x.join(s, "doc_id", "left").select(
            "doc_id",
            (F.col("x") + F.coalesce(F.col("s"), F.lit(0.0))).alias("t"),
        )
        m = t.agg(F.max("t").alias("m"))
        return t.crossJoin(F.broadcast(m)).select("doc_id", (F.col("t") / F.col("m")).alias("x"))

    x, _ = iterate(vertices.select("doc_id", F.lit(1.0).alias("x")), step, iters, every=3)
    return x.select("doc_id", F.round("x", 6).alias("centrality"))


def kcore(pairs: DataFrame, k: int = 3, rounds: int = 10) -> DataFrame:
    """Fixed-round k-core peel -- the density filter a graph pipeline
    runs before community/influence analysis (nodes outside the
    k-core are tree-like fringe; inside, every member keeps >= k
    neighbors WITHIN the core).

    Synchronous peel, ``rounds`` iterations: each round drops every
    node whose CURRENT degree is < k, then restricts the edge list to
    surviving endpoints. Fixed round count (the
    ``graph_label_propagation`` contract) keeps the result a pure
    function of (graph, k, rounds) with no convergence probe -- at
    the test SF, 10 rounds converge (verified in tests); a deeper
    graph peels further rounds by raising the knob.

    Per round: one degree aggregate + two semi-joins, all keyed on
    node ids; state is the (a, b) edge list, checkpointed every round
    by ``session.iterate`` (see its docstring) -- never more than one
    round deep.

    Emits (node_id, core_deg): surviving nodes with their final
    within-core degree.
    """
    def step(edges: DataFrame, _) -> DataFrame:
        keep = _degrees(edges).filter(F.col("deg") >= k).select("doc_id")
        return (
            edges.join(keep.withColumnRenamed("doc_id", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("doc_id", "b"), "b", "left_semi")
            .select("a", "b")
        )

    edges, _ = iterate(_undirected(pairs)[1], step, rounds)
    return _degrees(edges).select(
        F.col("doc_id").alias("node_id"), F.col("deg").alias("core_deg")
    )


# ---------------------------------------------------------- triangles


def _triangles(p: DataFrame) -> DataFrame:
    """(doc_id, n_triangles) off the canonical pairs -- see
    ``triangle_count``."""
    # orient by id: doc_a < doc_b already holds for the pair stream
    ab = p.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = p.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    ac = p.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")
    corners = (
        tri.select(F.col("a").alias("doc_id"))
        .unionByName(tri.select(F.col("b").alias("doc_id")))
        .unionByName(tri.select(F.col("c").alias("doc_id")))
    )
    return corners.groupBy("doc_id").agg(F.count("*").alias("n_triangles"))


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Per-document triangle participation count over the near-dup
    graph — the clustering-structure primitive (a doc in many
    triangles sits inside a dense duplication clique, not a chain).

    Canonical distributed formulation: orient every edge small→large
    (kills duplicate counting), join wedges (a<b<c with edges a-b,
    b-c), close them against the oriented edge list (a-c), then
    credit each of the three corners — three joins total, each keyed
    on node ids, no node ever sees more than its degree² wedges. The
    degree² wedge fan-out is the known hot spot at scale; the
    standard mitigation (degree-ordered orientation, which this uses)
    bounds it by the SMALLER endpoint's degree.

    Emits (doc_id, n_triangles) for docs in at least one triangle.
    """
    return _triangles(_undirected(pairs)[0])


def clustering_coefficient(pairs: DataFrame) -> DataFrame:
    """Per-node LOCAL clustering coefficient over an undirected pair
    graph -- the density readout behind community detection: of all
    pairs of v's neighbors, what fraction are themselves connected
    (``2*tri(v) / (deg(v) * (deg(v)-1))``). Nodes embedded in cliques
    score 1, stars score 0; the distribution separates organic
    co-occurrence graphs from templated ones.

    Composition, no new primitives: triangle credits from the
    ``triangle_count`` kernel, degrees from one count over the
    symmetrized edges, and one keyed left join marries them
    (triangle-free nodes coalesce to 0). The coefficient is one
    exact-integer division rounded once.

    Emits (doc_id, deg, n_triangles, clustering_coeff) for nodes
    with deg >= 2 (the coefficient is undefined below).
    """
    p, edges = _undirected(pairs)
    cc = (
        F.lit(2.0)
        * F.col("n_triangles")
        / (F.col("deg") * (F.col("deg") - F.lit(1)))
    )
    return (
        _degrees(edges).filter(F.col("deg") >= 2)
        .join(_triangles(p), "doc_id", "left")
        .select(
            "doc_id",
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
        .select("doc_id", "deg", "n_triangles", F.round(cc, 6).alias("clustering_coeff"))
    )


def edge_triangle_support(pairs: DataFrame) -> DataFrame:
    """Per-EDGE triangle support over an undirected pair graph: for
    each edge (a, b), the count of common neighbors |N(a) n N(b)| --
    the k-truss building block and the edge-level answer to
    ``clustering_coefficient``'s node view. High-support edges sit
    inside dense duplication communities (safe to contract); zero-
    support edges are bridges whose removal splits clusters -- the
    signal a dedup pipeline reads before transitively merging on a
    borderline pair.

    Plan: ONE wedge join keyed on the shared neighbor, then a
    semi-join against the canonical edge set keeps only wedges whose
    endpoints are themselves adjacent; one grouped count per edge.
    Edges in no triangle emit support 0 via the closing left join.

    Emits (doc_a, doc_b, support).
    """
    p, edges = _undirected(pairs)
    support = (
        _wedges(edges)
        .join(p, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("support"))
    )
    return p.join(support, ["doc_a", "doc_b"], "left").select(
        "doc_a", "doc_b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def global_transitivity(pairs: DataFrame) -> DataFrame:
    """Global transitivity (wedge closure rate) of the near-dup /
    co-purchase graph: 3 * triangles / wedges -- the ONE-number
    companion to the per-node ``clustering_coefficient`` (a graph can
    hold high local coefficients yet low transitivity when hubs stay
    open; this is the hub-weighted truth).

    Wedges = sum over nodes of deg*(deg-1)/2 (exact integers off the
    degree table); closed wedges counted by joining each wedge's
    endpoints against the edge set (the triangle_count bound:
    fan-out deg(hub)^2, one keyed semi-join). The ratio is ONE
    double.

    Emits ONE row (n_nodes, n_wedges, n_closed_wedges, transitivity).
    """
    p, edges = _undirected(pairs)
    wedge_total = _degrees(edges).agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    closed = (
        _wedges(edges)
        .join(p, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count("*").alias("n_closed"))
    )
    return wedge_total.join(F.broadcast(closed)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        "n_wedges",
        F.col("n_closed").cast("long").alias("n_closed_wedges"),
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                F.col("n_closed").cast("double")
                / F.col("n_wedges").cast("double"),
            ),
            6,
        ).alias("transitivity"),
    )


# ------------------------------------------------- link prediction


def common_neighbors(pairs: DataFrame) -> DataFrame:
    """Common-neighbor link prediction over the near-dup graph -- the
    classic "docs that share many near-dup neighbors are probably
    near-dups the threshold missed" recovery pass (Liben-Nowell &
    Kleinberg's common-neighbors / neighborhood-Jaccard scores). A
    curation pipeline runs it after pair generation to surface
    borderline duplicates for a second, cheaper verify round.

    Scores every NON-adjacent pair with >= 1 common neighbor:
    ``jaccard = |N(a) inter N(b)| / |N(a) union N(b)|``.

    Plan: count wedges through each hub (fan-out bounded by
    deg(hub)^2, the triangle_count bound), drop existing edges with a
    keyed anti-join against the pair list, then two keyed degree
    joins.

    Emits (doc_a, doc_b, common_neighbors, jaccard) with doc_a <
    doc_b.
    """
    p, edges = _undirected(pairs)
    cand = (
        _wedges(edges)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
        # keyed anti-join; pair list scales with dup rate, so no broadcast
        .join(p, ["doc_a", "doc_b"], "left_anti")
    )
    return _with_degrees(cand, _degrees(edges)).select(
        "doc_a",
        "doc_b",
        F.col("common").alias("common_neighbors"),
        F.round(
            F.col("common") / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
            6,
        ).alias("jaccard"),
    )


def _hub_credit_index(pairs: DataFrame, credit, name: str) -> DataFrame:
    """Shared plan of the hub-weighted link predictors: every hub of
    degree >= 2 carries an integer ``credit`` (a column over ``deg``)
    joined onto its edges before the wedge self-join; each
    non-adjacent wedge pair sums its hubs' credits into ``name``.
    Rounding the credit to an exact integer BEFORE the per-pair fold
    makes the sum an order-free BIGINT on both engines. deg-1 hubs
    cannot host a wedge; dropping them first also prunes leaf edges
    out of the self-join.

    Emits (doc_a, doc_b, common_neighbors, <name>), doc_a < doc_b."""
    p, edges = _undirected(pairs)
    hubs = (
        _degrees(edges)
        .filter(F.col("deg") >= 2)
        .select(F.col("doc_id").alias("a"), credit.alias("credit"))
    )
    scored = (
        _wedges(edges.join(hubs, "a"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common_neighbors"), F.sum("credit").alias(name))
    )
    return scored.join(p, ["doc_a", "doc_b"], "left_anti").select(
        "doc_a", "doc_b", "common_neighbors", name
    )


def adamic_adar(pairs: DataFrame) -> DataFrame:
    """Adamic-Adar link prediction over the near-dup / co-purchase
    graph -- ``common_neighbors``' frequency-weighted upgrade (Adamic
    & Adar 2003; the strongest of the classic local similarity
    indices in Liben-Nowell & Kleinberg's study): a shared neighbor
    is evidence in inverse proportion to how promiscuous it is,
    AA(a,b) = sum over w in N(a) & N(b) of 1 / ln(deg(w)).

    Exactness: each hub's credit is the integer micro-nat
    round(1e6 / ln(deg)) -- the ULM/IM cost discipline: the one
    transcendental is rounded to an exact integer BEFORE any
    aggregation. deg(hub) >= 2 whenever a wedge exists, so ln is
    never 0.

    Emits (doc_a, doc_b, common_neighbors, aa_mnat) for non-adjacent
    pairs, doc_a < doc_b.
    """
    credit = F.round(F.lit(1e6) / F.log(F.col("deg").cast("double"))).cast("long")
    return _hub_credit_index(pairs, credit, "aa_mnat")


def resource_allocation(pairs: DataFrame) -> DataFrame:
    """Resource-allocation link prediction over the near-dup /
    co-purchase graph: AA's harder-decaying sibling (Zhou, Lu &
    Zhang 2009), RA(a,b) = sum over shared neighbors w of
    1 / deg(w) -- each hub splits one unit of "resource" among its
    neighbors, so promiscuous hubs are discounted linearly instead of
    logarithmically (empirically the best of the local indices on
    dense graphs). Completes the panel: CN / Jaccard / AA / PA / RA.

    Exactness: the hub credit is the integer micro-unit
    round(1e6 / deg), rounded BEFORE the per-pair fold (the
    adamic_adar discipline).

    Emits (doc_a, doc_b, common_neighbors, ra_micro) for non-adjacent
    pairs, doc_a < doc_b.
    """
    credit = F.round(F.lit(1e6) / F.col("deg").cast("double")).cast("long")
    return _hub_credit_index(pairs, credit, "ra_micro")


def preferential_attachment(pairs: DataFrame) -> DataFrame:
    """Preferential-attachment link prediction over the near-dup /
    co-purchase graph: score every NON-adjacent candidate pair (>= 1
    common neighbor) by deg(a) * deg(b) -- Liben-Nowell & Kleinberg's
    rich-get-richer baseline that common_neighbors / adamic_adar are
    benchmarked against; together the four complete the classical
    link-prediction panel.

    Same plan skeleton as ``common_neighbors`` (wedge join bounded by
    deg(hub)^2, keyed anti-join against existing edges, two keyed
    degree joins); the score is a pure INTEGER product -- the one
    link predictor with a zero-double oracle.

    Emits (doc_a, doc_b, deg_a, deg_b, pa_score) with doc_a < doc_b.
    """
    p, edges = _undirected(pairs)
    cand = (
        _wedges(edges)
        .select("doc_a", "doc_b")
        .distinct()
        .join(p, ["doc_a", "doc_b"], "left_anti")
    )
    return _with_degrees(cand, _degrees(edges)).select(
        "doc_a",
        "doc_b",
        F.col("deg_a").cast("long").alias("deg_a"),
        F.col("deg_b").cast("long").alias("deg_b"),
        (F.col("deg_a") * F.col("deg_b")).cast("long").alias("pa_score"),
    )


def edge_jaccard(pairs: DataFrame) -> DataFrame:
    """Neighborhood Jaccard of every EXISTING edge -- the edge
    strength / cluster-merge signal (``common_neighbors`` scores the
    non-adjacent complement): wedge counts through each hub, left
    joined onto the pair list so zero-overlap edges keep
    common_neighbors 0, then two keyed degree joins.

    Emits (doc_a, doc_b, common_neighbors, edge_jaccard)."""
    p, edges = _undirected(pairs)
    common_df = _wedges(edges).groupBy("doc_a", "doc_b").agg(F.count("*").alias("common"))
    common = F.coalesce(F.col("common"), F.lit(0))
    return _with_degrees(p.join(common_df, ["doc_a", "doc_b"], "left"), _degrees(edges)).select(
        "doc_a",
        "doc_b",
        common.cast("long").alias("common_neighbors"),
        F.round(common / (F.col("deg_a") + F.col("deg_b") - common), 6).alias("edge_jaccard"),
    )


# -------------------------------------------------- degree statistics


def degree_histogram(pairs: DataFrame) -> DataFrame:
    """Degree distribution of the pair graph -- the first structural
    sanity check on any generated edge set (a dedup pair graph that
    suddenly grows a fat-degree tail means a hot shingle slipped past
    its cap; a co-purchase graph's tail is the hub catalog): how many
    nodes carry each degree, and what fraction of the graph that is.

    One degree count, one alphabet-sized (distinct-degree) rollup, a
    1-row total broadcast; frac = n_nodes/total is the single rounded
    division from exact integers.

    Emits (deg, n_nodes, frac) -- at most max-degree rows.
    """
    _, edges = _undirected(pairs)
    hist = _degrees(edges).groupBy("deg").agg(F.count("*").alias("n_nodes"))
    tot = hist.agg(F.sum("n_nodes").alias("tot"))
    return hist.join(F.broadcast(tot)).select(
        F.col("deg").cast("bigint").alias("deg"),
        "n_nodes",
        F.round(F.col("n_nodes") / F.col("tot").cast("double"), 6).alias(
            "frac"
        ),
    )


def degree_assortativity(pairs: DataFrame) -> DataFrame:
    """Degree assortativity of the pair graph (Newman 2002): the
    Pearson correlation of endpoint degrees over the directed edge
    list -- do hubs link to hubs (r > 0, social-network shape) or to
    leaves (r < 0, hub-and-spoke catalogs / star-shaped dup
    families)? The single scalar that summarizes what
    ``degree_histogram`` shows as a curve.

    Exactness: degrees are integers, so all five sufficient sums
    over the 2|E| directed edges (M, sum x, sum xy, sum x^2 --
    symmetry makes y-sums equal x-sums) are exact BIGINTs; the
    Pearson combination runs once in double, identically ordered on
    both engines, rounded 4.

    Plan: one degree count, two keyed joins to stamp endpoint
    degrees, ONE global aggregate. No wedges, no pair fan-out --
    linear in |E|.

    Emits ONE row (m_edges, assortativity).
    """
    _, edges = _undirected(pairs)
    directed = edges.select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
    agg = _with_degrees(directed, _degrees(edges)).agg(
        F.count("*").alias("m"),
        F.sum("deg_a").alias("sx"),
        F.sum(F.col("deg_a") * F.col("deg_b")).alias("sxy"),
        F.sum(F.col("deg_a") * F.col("deg_a")).alias("sxx"),
    )
    m = F.col("m").cast("double")
    num = m * F.col("sxy") - F.col("sx").cast("double") * F.col("sx")
    den = m * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    # a regular graph (all degrees equal) has zero degree variance:
    # assortativity is undefined, not a division error
    return agg.select(
        F.col("m").alias("m_edges"),
        F.when(den != 0.0, F.round(num / den, 4)).alias("assortativity"),
    )


def degree_gini(pairs: DataFrame) -> DataFrame:
    """Gini coefficient of the degree distribution over the near-dup /
    co-purchase graph -- the one-number skew readout behind
    graph_degree_histogram: 0 = every node equally connected, ->1 =
    a few hubs own the graph (and those hubs are where wedge-join
    fan-out, LSH hot buckets, and skew salting all concentrate).

    gini = (2 * sum_i i*d_(i) - (n+1) * sum d) / (n * sum d) over
    degrees sorted ascending with (deg, doc_id) tie order -- every
    term an exact integer, ONE double at the end. The rank window
    runs over the node table (dimension-sized: nodes are catalog
    entries, not events).

    Emits ONE row (n_nodes, n_edges_directed, gini).
    """
    _, edges = _undirected(pairs)
    w = Window.orderBy("deg", "doc_id")
    ranked = _degrees(edges).select("deg", F.row_number().over(w).alias("i"))
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("deg").alias("sd"),
        F.sum(F.col("i") * F.col("deg")).alias("sid"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_nodes"),
        F.col("sd").cast("long").alias("n_edges_directed"),
        F.round(
            (
                F.lit(2) * F.col("sid") - (F.col("n") + 1) * F.col("sd")
            ).cast("double")
            / (F.col("n") * F.col("sd")).cast("double"),
            6,
        ).alias("gini"),
    )


def rich_club(pairs: DataFrame, k_grid: tuple[int, ...] = (1, 2, 3, 4, 6, 8, 12, 16)) -> DataFrame:
    """Rich-club coefficient profile over the near-dup / co-purchase
    graph: for each degree threshold k, the density of the subgraph
    induced by nodes of degree > k -- phi(k) = 2*E_k / (N_k*(N_k-1)).
    A rising phi(k) says the hubs preferentially interconnect (the
    "rich club" of catalog staples bought together); flat-or-falling
    says hub links are incidental. Completes the degree-structure
    panel next to ``graph_degree_gini`` / ``graph_assortativity``.

    Plan: degree count (node-bounded), one keyed join to tag each
    edge with min(deg_a, deg_b), then BOTH sides reduce to bounded
    histograms (nodes per degree, edges per min-degree) before the
    constant |k_grid|-row cross -- the grid join touches histogram
    rows, never data rows, so the whole profile costs two keyed
    aggregates at any scale. phi is ONE double division off exact
    integer counts.

    Emits (k, n_nodes, n_edges, phi) -- one row per threshold with
    N_k >= 2.
    """
    p, edges = _undirected(pairs)
    degs = _degrees(edges)
    deg_hist = degs.groupBy("deg").agg(F.count("*").alias("n_nodes"))
    edge_hist = (
        _with_degrees(p, degs)
        .select(F.least("deg_a", "deg_b").alias("min_deg"))
        .groupBy("min_deg")
        .agg(F.count("*").alias("n_edges"))
    )
    grid = F.broadcast(
        p.sparkSession.createDataFrame([(int(k),) for k in k_grid], "k int")
    )
    nodes_k = (
        deg_hist.join(grid, deg_hist.deg > F.col("k"))
        .groupBy("k")
        .agg(F.sum("n_nodes").alias("n_nodes"))
    )
    edges_k = (
        edge_hist.join(grid, edge_hist.min_deg > F.col("k"))
        .groupBy("k")
        .agg(F.sum("n_edges").alias("n_edges"))
    )
    n_edges = F.coalesce(F.col("n_edges"), F.lit(0))
    return (
        nodes_k.join(edges_k, "k", "left")
        .filter(F.col("n_nodes") >= 2)
        .select(
            "k",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            n_edges.cast("long").alias("n_edges"),
            F.round(
                F.lit(2.0)
                * n_edges.cast("double")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1)).cast("double"),
                6,
            ).alias("phi"),
        )
    )
