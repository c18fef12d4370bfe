"""Graph section of the declared query registry: the 19 ``graph_*``
queries over the two pair graphs the fixtures carry, plus
``dedup_cluster_components``, ``dedup_cluster_components_star`` and
``dedup_minhash_clusters``, which return connected-component labels;
all are built on ``operators/graph.py``'s pair-graph substrate.

- The near-dup document graph: exact n-gram Jaccard >= 0.8 pairs
  (``dedup.ngram_jaccard_pairs``; oracle CTE ``_PAIRS_CTE``).
- The co-purchase part graph: parts sharing >= 2 orders
  (``_copurchase_pairs``; oracle CTE ``_COPURCHASE_CTE`` and its
  inline copies). The near-dup graph is a union of cliques (zero
  open wedges), so the wedge-based scores run on the basket graph.

Loop queries (pagerank, label propagation, eigenvector centrality,
k-core) carry oracles that unroll the fixed rounds as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators import dedup, graph
from ...sources.tables import spread_scan
from .core import _CC_ORACLE, _register, _t, _TOKS


@_register(
    "dedup_cluster_components",
    _CC_ORACLE,
    note="min-label propagation CC == recursive-CTE reachability min (undirected graph)",
)
def _dedup_cluster_components(spark, sf):
    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"))
    return graph.connected_components(pairs)


@_register(
    "dedup_minhash_clusters",
    None,
    note="full sketch path: MinHash-LSH pairs -> CC cluster ids; recall probabilistic -> rows-only",
)
def _dedup_minhash_clusters(spark, sf):
    pairs = dedup.dedup_minhash(_t(spark, sf, "documents"))
    return graph.connected_components(pairs)


@_register(
    "dedup_cluster_components_star",
    _CC_ORACLE,
    note="same clusters via alternating large-star/small-star (log-rounds CC, "
    "the billion-edge shape); identical recursive-CTE oracle as the "
    "label-propagation twin",
)
def _dedup_cluster_components_star(spark, sf):
    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"))
    return graph.connected_components_star(pairs)


#: co-purchase graph (parts sharing >= 2 orders) with degrees --
#: the basket-graph family's shared substrate.
_COPURCHASE_CTE = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cooc
              UNION ALL SELECT doc_b, doc_a FROM cooc),
    degs AS (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY a)
"""


#: Near-dup pair graph CTE (threshold 0.8), shared by the graph ops'
#: oracles — identical to the dedup_ngram_jaccard pair derivation.
_PAIRS_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b
      FROM com
      JOIN sizes na ON com.doc_a = na.doc_id
      JOIN sizes nb ON com.doc_b = nb.doc_id
      WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8)
"""


def _copurchase_pairs(spark, sf):
    """(doc_a, doc_b) part pairs co-occurring in >= 2 orders -- the
    shared edge substrate of the 13 co-purchase graph queries below.
    NOT a registered query -- the @_register decorator must never land
    here (it once did, silently replacing graph_common_neighbors'
    output with the bare edge list; tests/test_oracle_parity.py pins
    the real query)."""
    li = _t(spark, sf, "lineitem")
    # r13 (guide §2.5): the fixture scan is single-split, so distinct's
    # map-side partial aggregation serialized on one core; spreading on
    # the join key also pre-partitions both self-join legs (measured
    # 1.22 s -> 0.85 s min-of-6 on the bare pair stream, shared by the
    # 13 basket-graph consumers)
    op = spread_scan(
        li.select("l_orderkey", "l_partkey"), "l_orderkey"
    ).distinct()
    return (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("doc_a"),
            F.col("b.l_partkey").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("doc_a", "doc_b")
    )


def _near_dup_graph(spark, sf):
    """(pairs, documents): the document pairs with exact 3-gram
    Jaccard >= 0.8 and the document table (the vertex set), from one
    table load."""
    docs = _t(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(docs), docs


def _as_parts(df):
    """Name a (doc_a, doc_b, ...) co-purchase result's endpoints as parts."""
    return df.withColumnRenamed("doc_a", "part_a").withColumnRenamed("doc_b", "part_b")


@_register(
    "graph_component_stats",
    f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b
      FROM com
      JOIN sizes na ON com.doc_a = na.doc_id
      JOIN sizes nb ON com.doc_b = nb.doc_id
      WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, root) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
    labels AS (
      SELECT node AS doc_id, min(root) AS component_id
      FROM reach GROUP BY node),
    nodes AS (
      SELECT component_id, count(*) AS n_nodes
      FROM labels GROUP BY component_id),
    ecount AS (
      SELECT l.component_id, count(*) AS n_edges
      FROM pairs p JOIN labels l ON l.doc_id = p.doc_a
      GROUP BY l.component_id)
    SELECT n.component_id, CAST(n.n_nodes AS BIGINT) AS n_nodes,
           CAST(e.n_edges AS BIGINT) AS n_edges,
           round(2.0 * e.n_edges
                 / (n.n_nodes * CAST(n.n_nodes - 1 AS DOUBLE)), 4)
             AS density
    FROM nodes n JOIN ecount e USING (component_id)
    """,
    note="per-component size/edge/density stats of the exact "
    "Jaccard>=0.8 near-dup graph: log-rounds CC labels (recursive-"
    "CTE reachability oracle) + two keyed rollups -- the cluster "
    "triage report before dedup_cluster_keep_best picks survivors",
)
def _graph_component_stats(spark, sf):
    return graph.component_stats(_near_dup_graph(spark, sf)[0])


@_register(
    "graph_bfs_hops",
    f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b
      FROM com
      JOIN sizes na ON com.doc_a = na.doc_id
      JOIN sizes nb ON com.doc_b = nb.doc_id
      WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk(node, hop) AS (
      SELECT min(a), 0 FROM edges HAVING min(a) IS NOT NULL
      UNION
      SELECT e.b, w.hop + 1
      FROM walk w JOIN edges e ON e.a = w.node
      WHERE w.hop < 8)
    SELECT node AS doc_id, CAST(min(hop) AS INT) AS hop
    FROM walk GROUP BY node
    """,
    note="depth-bounded BFS from the smallest node of the near-dup "
    "graph; frontier-expansion joins + localCheckpoint == "
    "recursive-CTE min-hop (blast-radius / contamination tracing)",
)
def _graph_bfs_hops(spark, sf):
    return graph.bfs_hops(_near_dup_graph(spark, sf)[0])


def _pagerank_oracle(iters: int = 10, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank: one CTE per iteration — no
    recursive aggregation needed, and DuckDB evaluates the chain
    bottom-up exactly like the Spark loop."""
    head = f"""
    WITH {_PAIRS_CTE},
    vertices AS (SELECT doc_id FROM documents),
    edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    degs AS MATERIALIZED (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY a),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
    pr0 AS MATERIALIZED (SELECT doc_id, 1.0 / n AS pr FROM vertices CROSS JOIN nn)"""
    blocks = []
    for k in range(1, iters + 1):
        blocks.append(f""",
    pr{k} AS MATERIALIZED (
      SELECT v.doc_id,
             (1 - {damping}) / nn.n
             + {damping} * (coalesce(nb.s, 0) + dang.m / nn.n) AS pr
      FROM vertices v
      CROSS JOIN nn
      CROSS JOIN (SELECT coalesce(sum(p.pr), 0) AS m
                  FROM pr{k - 1} p LEFT JOIN degs d USING (doc_id)
                  WHERE d.deg IS NULL) dang
      LEFT JOIN (SELECT e.b AS doc_id, sum(p.pr / d.deg) AS s
                 FROM edges e
                 JOIN pr{k - 1} p ON p.doc_id = e.a
                 JOIN degs d ON d.doc_id = e.a
                 GROUP BY e.b) nb ON nb.doc_id = v.doc_id
    )""")
    return head + "".join(blocks) + f"""
    SELECT doc_id, round(pr, 6) AS pr FROM pr{iters}
    """


@_register(
    "graph_pagerank",
    _pagerank_oracle(),
    note="fixed-iteration PageRank over the near-dup graph: per round "
    "one keyed join + grouped sum + 1-row dangling broadcast, "
    "localCheckpoint lineage truncation, zero driver probes; oracle "
    "unrolls the 10 iterations as chained CTEs",
)
def _graph_pagerank(spark, sf):
    return graph.pagerank(*_near_dup_graph(spark, sf))


def _lpa_oracle(rounds: int = 3) -> str:
    """Unrolled fixed-round synchronous label propagation: one
    (neighbor-count -> argmax -> relabel) CTE triple per round,
    mirroring the Spark loop; ties break to the smallest label."""
    parts = [
        f"WITH {_PAIRS_CTE},",
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs),",
        "l0 AS (SELECT doc_id, doc_id AS label FROM documents)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    n{r} AS (
      SELECT e.a AS doc_id, l.label, count(*) AS c
      FROM edges e JOIN l{r - 1} l ON l.doc_id = e.b
      GROUP BY 1, 2),
    a{r} AS (
      SELECT doc_id, label FROM (
        SELECT doc_id, label,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, label) AS rn
        FROM n{r}) WHERE rn = 1),
    l{r} AS (
      SELECT v.doc_id, COALESCE(a.label, v.doc_id) AS label
      FROM (SELECT doc_id FROM documents) v
      LEFT JOIN a{r} a USING (doc_id))"""
        )
    parts.append(
        f"\n    SELECT doc_id, label AS community FROM l{rounds}"
    )
    return "".join(parts)


@_register(
    "graph_label_propagation",
    _lpa_oracle(),
    note="fixed-round synchronous label-propagation communities over "
    "the near-dup graph: mode-of-neighbor-labels with smallest-label "
    "ties, isolated nodes keep their own id -- deterministic by "
    "construction (no convergence probe); oracle unrolls the rounds "
    "as chained CTEs",
)
def _graph_label_propagation(spark, sf):
    return graph.label_propagation(*_near_dup_graph(spark, sf))


@_register(
    "graph_triangle_count",
    f"""
    WITH {_PAIRS_CTE},
    tri AS (
      SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
      FROM pairs ab
      JOIN pairs bc ON ab.doc_b = bc.doc_a
      JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
    ),
    corners AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY doc_id
    """,
    note="per-doc triangle participation via degree-ordered wedge "
    "join (orient small->large, close wedges against oriented "
    "edges): duplicate-free by construction, wedge fan-out bounded "
    "by the smaller endpoint's degree",
)
def _graph_triangle_count(spark, sf):
    return graph.triangle_count(_near_dup_graph(spark, sf)[0])


def _eigencentrality_oracle(iters: int = 8) -> str:
    """Unrolled (A + I) power iteration with per-round
    max-normalization: one (neighbor-sum, shifted-score, max) CTE
    triple per round -- DuckDB evaluates the chain bottom-up exactly
    like the Spark loop (the pagerank oracle discipline). The +I
    shift keeps bipartite components from oscillating; eigenvectors
    are unchanged."""
    head = f"""
    WITH {_PAIRS_CTE},
    vertices AS (SELECT doc_id FROM documents),
    edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    x0 AS MATERIALIZED (SELECT doc_id, 1.0 AS x FROM vertices)"""
    blocks = []
    for k in range(1, iters + 1):
        blocks.append(f""",
    s{k} AS MATERIALIZED (
      SELECT e.b AS doc_id, sum(p.x) AS s
      FROM edges e JOIN x{k - 1} p ON p.doc_id = e.a
      GROUP BY e.b),
    t{k} AS MATERIALIZED (
      SELECT p.doc_id, p.x + coalesce(nb.s, 0) AS t
      FROM x{k - 1} p LEFT JOIN s{k} nb USING (doc_id)),
    x{k} AS MATERIALIZED (
      SELECT doc_id, t / mx.m AS x
      FROM t{k} CROSS JOIN (SELECT max(t) AS m FROM t{k}) mx
    )""")
    return head + "".join(blocks) + f"""
    SELECT doc_id, round(x, 6) AS centrality FROM x{iters}
    """


@_register(
    "graph_eigenvector_centrality",
    _eigencentrality_oracle(),
    note="fixed-iteration eigenvector centrality ((A + I) power "
    "iteration -- bipartite-safe -- with per-round 1-row "
    "max-normalization broadcast) over the near-dup "
    "graph: per round one keyed join + grouped sum, localCheckpoint "
    "lineage truncation, zero driver probes; oracle unrolls the 8 "
    "rounds as chained MATERIALIZED CTEs (pagerank discipline)",
)
def _graph_eigenvector_centrality(spark, sf):
    return graph.eigenvector_centrality(*_near_dup_graph(spark, sf))


@_register(
    "graph_common_neighbors",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cooc
              UNION ALL SELECT doc_b, doc_a FROM cooc),
    degs AS (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY a),
    wedge AS (
      SELECT e1.b AS doc_a, e2.b AS doc_b, count(*) AS common
      FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
      GROUP BY 1, 2),
    cand AS (
      SELECT w.* FROM wedge w
      LEFT JOIN cooc p ON p.doc_a = w.doc_a AND p.doc_b = w.doc_b
      WHERE p.doc_a IS NULL)
    SELECT c.doc_a AS part_a, c.doc_b AS part_b,
           CAST(c.common AS BIGINT) AS common_neighbors,
           round(c.common * 1.0 / (da.deg + db.deg - c.common), 6)
             AS jaccard
    FROM cand c
    JOIN degs da ON da.doc_id = c.doc_a
    JOIN degs db ON db.doc_id = c.doc_b
    """,
    note="common-neighbor link prediction (Liben-Nowell--Kleinberg) "
    "over the co-purchase graph (parts sharing >= 2 orders): "
    "neighborhood-Jaccard scores for non-adjacent part pairs -- the "
    "recommender candidate generator; the near-dup doc graph is a "
    "union of cliques (zero open wedges) so the basket graph is the "
    "non-degenerate target; wedge fan-out bounded by deg(hub)^2, "
    "keyed anti-join drops existing edges, no adjacency arrays",
)
def _graph_common_neighbors(spark, sf):
    return _as_parts(graph.common_neighbors(_copurchase_pairs(spark, sf)))


@_register(
    "graph_adamic_adar",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cooc
              UNION ALL SELECT doc_b, doc_a FROM cooc),
    degs AS (
      SELECT a AS hub,
             CAST(round(1e6 / ln(count(*))) AS BIGINT) AS mnat
      FROM edges GROUP BY a
      HAVING count(*) >= 2),
    eh AS (SELECT e.a AS hub, e.b, d.mnat
           FROM edges e JOIN degs d ON d.hub = e.a),
    wedge AS (
      SELECT e1.b AS doc_a, e2.b AS doc_b,
             count(*) AS common, sum(e1.mnat) AS aa
      FROM eh e1 JOIN eh e2 ON e1.hub = e2.hub AND e1.b < e2.b
      GROUP BY 1, 2),
    cand AS (
      SELECT w.* FROM wedge w
      LEFT JOIN cooc p ON p.doc_a = w.doc_a AND p.doc_b = w.doc_b
      WHERE p.doc_a IS NULL)
    SELECT doc_a AS part_a, doc_b AS part_b,
           CAST(common AS BIGINT) AS common_neighbors,
           CAST(aa AS BIGINT) AS aa_mnat
    FROM cand
    """,
    note="Adamic-Adar link prediction over the co-purchase graph "
    "(common_neighbors' frequency-weighted upgrade): hub credit is "
    "the integer micro-nat round(1e6/ln(deg)) -- the one "
    "transcendental rounded to an exact integer BEFORE the per-pair "
    "fold, so the sum is order-free; wedge fan-out bounded by "
    "deg(hub)^2, existing edges dropped by keyed anti-join",
)
def _graph_adamic_adar(spark, sf):
    return _as_parts(graph.adamic_adar(_copurchase_pairs(spark, sf)))


@_register(
    "graph_resource_allocation",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cooc
              UNION ALL SELECT doc_b, doc_a FROM cooc),
    degs AS (
      SELECT a AS hub,
             CAST(round(1e6 / count(*)) AS BIGINT) AS micro
      FROM edges GROUP BY a
      HAVING count(*) >= 2),
    eh AS (SELECT e.a AS hub, e.b, d.micro
           FROM edges e JOIN degs d ON d.hub = e.a),
    wedge AS (
      SELECT e1.b AS doc_a, e2.b AS doc_b,
             count(*) AS common, sum(e1.micro) AS ra
      FROM eh e1 JOIN eh e2 ON e1.hub = e2.hub AND e1.b < e2.b
      GROUP BY 1, 2),
    cand AS (
      SELECT w.* FROM wedge w
      LEFT JOIN cooc p ON p.doc_a = w.doc_a AND p.doc_b = w.doc_b
      WHERE p.doc_a IS NULL)
    SELECT doc_a AS part_a, doc_b AS part_b,
           CAST(common AS BIGINT) AS common_neighbors,
           CAST(ra AS BIGINT) AS ra_micro
    FROM cand
    """,
    note="resource-allocation link prediction (Zhou-Lu-Zhang; AA's "
    "linearly-decaying sibling, completing the CN/Jaccard/AA/PA/RA "
    "panel): hub credit = integer micro-unit round(1e6/deg) rounded "
    "BEFORE the order-free per-pair fold; wedge fan-out bounded by "
    "deg(hub)^2",
)
def _graph_resource_allocation(spark, sf):
    return _as_parts(graph.resource_allocation(_copurchase_pairs(spark, sf)))


@_register(
    "graph_preferential_attachment",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cooc
              UNION ALL SELECT doc_b, doc_a FROM cooc),
    degs AS (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY a),
    wedge AS (
      SELECT DISTINCT e1.b AS doc_a, e2.b AS doc_b
      FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b),
    cand AS (
      SELECT w.doc_a, w.doc_b FROM wedge w
      ANTI JOIN cooc c ON c.doc_a = w.doc_a AND c.doc_b = w.doc_b)
    SELECT cand.doc_a, cand.doc_b,
           CAST(da.deg AS BIGINT) AS deg_a,
           CAST(db.deg AS BIGINT) AS deg_b,
           CAST(da.deg * db.deg AS BIGINT) AS pa_score
    FROM cand
    JOIN degs da ON da.doc_id = cand.doc_a
    JOIN degs db ON db.doc_id = cand.doc_b
    """,
    note="preferential-attachment link prediction over the "
    "co-purchase graph (completes the classical panel with "
    "common_neighbors / adamic_adar / edge_jaccard): wedge join "
    "bounded by deg(hub)^2, keyed anti-join, pure INTEGER scores -- "
    "the one link predictor with a zero-double oracle",
)
def _graph_preferential_attachment(spark, sf):
    return graph.preferential_attachment(_copurchase_pairs(spark, sf))


@_register(
    "graph_edge_jaccard",
    f"""
    WITH {_COPURCHASE_CTE},
    wedge AS (
      SELECT e1.b AS doc_a, e2.b AS doc_b, count(*) AS common
      FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
      GROUP BY 1, 2)
    SELECT c.doc_a AS part_a, c.doc_b AS part_b,
           CAST(coalesce(w.common, 0) AS BIGINT) AS common_neighbors,
           round(coalesce(w.common, 0) * 1.0
                 / (da.deg + db.deg - coalesce(w.common, 0)), 6)
             AS edge_jaccard
    FROM cooc c
    LEFT JOIN wedge w ON w.doc_a = c.doc_a AND w.doc_b = c.doc_b
    JOIN degs da ON da.doc_id = c.doc_a
    JOIN degs db ON db.doc_id = c.doc_b
    """,
    note="neighborhood Jaccard for EXISTING co-purchase edges (edge "
    "strength / cluster-merge signal -- graph_common_neighbors "
    "scores the non-adjacent complement): wedge join bounded by "
    "deg(hub)^2, left join keeps zero-overlap edges",
)
def _graph_edge_jaccard(spark, sf):
    return _as_parts(graph.edge_jaccard(_copurchase_pairs(spark, sf)))


@_register(
    "graph_clustering_coeff",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cooc
              UNION ALL SELECT doc_b, doc_a FROM cooc),
    degs AS (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY a),
    tri AS (
      SELECT ab.a, ab.b, bc.c
      FROM (SELECT doc_a AS a, doc_b AS b FROM cooc) ab
      JOIN (SELECT doc_a AS b, doc_b AS c FROM cooc) bc USING (b)
      JOIN (SELECT doc_a AS a, doc_b AS c FROM cooc) ac USING (a, c)),
    corners AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri),
    ntri AS (SELECT doc_id, count(*) AS n_triangles
             FROM corners GROUP BY doc_id)
    SELECT d.doc_id AS part_id,
           CAST(d.deg AS BIGINT) AS deg,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           round(2.0e0 * coalesce(t.n_triangles, 0)
                 / (d.deg * (d.deg - 1)), 6) AS clustering_coeff
    FROM degs d LEFT JOIN ntri t USING (doc_id)
    WHERE d.deg >= 2
    """,
    note="per-node local clustering coefficient over the co-purchase "
    "graph: triangle credits from the degree-ordered wedge join "
    "(triangle_count kernel), degrees from one symmetrized-edge "
    "count, one keyed left join; exact-integer division rounded once",
)
def _graph_clustering_coeff(spark, sf):
    return graph.clustering_coefficient(_copurchase_pairs(spark, sf)).withColumnRenamed(
        "doc_id", "part_id"
    )


@_register(
    "graph_edge_triangle_support",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    sym AS (SELECT doc_a, doc_b FROM cooc
            UNION ALL SELECT doc_b, doc_a FROM cooc),
    wedges AS (
      SELECT l.doc_a AS a, r.doc_b AS b
      FROM (SELECT doc_b AS w, doc_a FROM sym) l
      JOIN (SELECT doc_a AS w, doc_b FROM sym) r ON l.w = r.w
      WHERE l.doc_a < r.doc_b),
    closed AS (
      SELECT w.a, w.b FROM wedges w
      JOIN cooc c ON c.doc_a = w.a AND c.doc_b = w.b),
    sup AS (SELECT a, b, count(*) AS support FROM closed GROUP BY a, b)
    SELECT c.doc_a, c.doc_b,
           CAST(coalesce(s.support, 0) AS BIGINT) AS support
    FROM cooc c LEFT JOIN sup s
      ON s.a = c.doc_a AND s.b = c.doc_b
    """,
    note="per-edge triangle support over the co-purchase graph (the "
    "k-truss building block; clustering_coefficient's edge-level "
    "view): one center-keyed wedge join + a semi-join against the "
    "canonical edge set, pair stream eagerly checkpointed",
)
def _graph_edge_triangle_support(spark, sf):
    return graph.edge_triangle_support(_copurchase_pairs(spark, sf))


@_register(
    "graph_transitivity",
    f"""
    WITH {_COPURCHASE_CTE},
    wt AS (
      SELECT count(*) AS n_nodes,
             CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
      FROM degs),
    ow AS (
      SELECT w1.b AS x, w2.b AS y
      FROM edges w1 JOIN edges w2
        ON w1.a = w2.a AND w1.b < w2.b),
    cw AS (
      SELECT count(*) AS n_closed
      FROM ow SEMI JOIN cooc ON cooc.doc_a = ow.x AND cooc.doc_b = ow.y)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes, n_wedges,
           CAST(n_closed AS BIGINT) AS n_closed_wedges,
           round(CASE WHEN n_wedges > 0 THEN
                   CAST(n_closed AS DOUBLE) / CAST(n_wedges AS DOUBLE)
                 END, 6) AS transitivity
    FROM wt, cw
    """,
    note="global transitivity (3*triangles/wedges) of the "
    "co-purchase graph -- the hub-weighted one-number companion to "
    "the per-node clustering coefficient: integer wedge counts off "
    "the degree table, closed wedges via one keyed semi-join, ratio "
    "one double",
)
def _graph_transitivity(spark, sf):
    return graph.global_transitivity(_copurchase_pairs(spark, sf))


def _kcore_oracle_sql(k: int = 3, rounds: int = 10) -> str:
    """Unrolled fixed-round synchronous k-core peel over the
    co-purchase graph (the graph_label_propagation oracle pattern):
    per round one degree aggregate + an endpoint-restriction CTE."""
    head = """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM cooc
           UNION ALL SELECT pb, pa FROM cooc)"""
    blocks = []
    for r in range(1, rounds + 1):
        blocks.append(f""",
    keep{r} AS MATERIALIZED (SELECT a FROM e{r - 1} GROUP BY a
                HAVING count(*) >= {k}),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{r - 1} e
      JOIN keep{r} ka ON ka.a = e.a
      JOIN keep{r} kb ON kb.a = e.b)"""
        )
    return (
        head
        + "".join(blocks)
        + f"""
    SELECT a AS node_id, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{rounds} GROUP BY a
    """
    )


@_register(
    "graph_kcore",
    _kcore_oracle_sql(3, 10),
    note="fixed-round synchronous k-core peel (k=3, 10 rounds -- "
    "converged at test SF, asserted in tests) over the co-purchase "
    "graph: per round one keyed degree aggregate + two semi-joins, "
    "edge-list state eagerly localCheckpoint'ed (pagerank lineage "
    "discipline); oracle unrolls the rounds as chained CTEs",
)
def _graph_kcore(spark, sf):
    return graph.kcore(_copurchase_pairs(spark, sf), k=3, rounds=10)


@_register(
    "graph_degree_histogram",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    edges AS (SELECT doc_a AS a FROM cooc
              UNION ALL SELECT doc_b FROM cooc),
    degs AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
    hist AS (SELECT deg, count(*) AS n_nodes FROM degs GROUP BY deg),
    tot AS (SELECT sum(n_nodes) AS tot FROM hist)
    SELECT CAST(deg AS BIGINT) AS deg, CAST(n_nodes AS BIGINT) AS n_nodes,
           round(n_nodes / CAST(tot AS DOUBLE), 6) AS frac
    FROM hist, tot
    """,
    note="degree distribution of the co-purchase graph (the "
    "structural sanity check on any generated pair set -- a fat tail "
    "means a hot key slipped a cap): one symmetrized-edge count, one "
    "distinct-degree rollup, 1-row total broadcast",
)
def _graph_degree_histogram(spark, sf):
    return graph.degree_histogram(_copurchase_pairs(spark, sf))


@_register(
    "graph_assortativity",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cooc AS (
      SELECT a.l_partkey AS doc_a, b.l_partkey AS doc_b
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cooc
              UNION ALL SELECT doc_b, doc_a FROM cooc),
    degs AS (SELECT a AS node, count(*) AS deg FROM edges GROUP BY a),
    st AS (
      SELECT e.a, e.b, da.deg AS x, db.deg AS y
      FROM edges e
      JOIN degs da ON da.node = e.a
      JOIN degs db ON db.node = e.b),
    agg AS (
      SELECT count(*) AS m, sum(x) AS sx, sum(x * y) AS sxy,
             sum(x * x) AS sxx
      FROM st)
    SELECT CAST(m AS BIGINT) AS m_edges,
           CASE WHEN CAST(m AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx <> 0.0 THEN
             round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                   / (CAST(m AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx), 4)
           END AS assortativity
    FROM agg
    """,
    note="Newman degree assortativity of the co-purchase graph (do "
    "hubs link to hubs?): endpoint degrees stamped by two keyed "
    "joins, five exact BIGINT sums over 2|E| directed edges "
    "(symmetry makes y-sums equal x-sums), one rounded double "
    "combination; linear in |E|, no wedge fan-out",
)
def _graph_assortativity(spark, sf):
    return graph.degree_assortativity(_copurchase_pairs(spark, sf))


@_register(
    "graph_degree_gini",
    f"""
    WITH {_COPURCHASE_CTE},
    rk AS (SELECT deg, row_number() OVER (ORDER BY deg, doc_id) AS i
           FROM degs),
    a AS (SELECT count(*) AS n, sum(deg) AS sd, sum(i * deg) AS sid
          FROM rk)
    SELECT CAST(n AS BIGINT) AS n_nodes,
           CAST(sd AS BIGINT) AS n_edges_directed,
           round(CAST(2 * sid - (n + 1) * sd AS DOUBLE)
                 / CAST(n * sd AS DOUBLE), 6) AS gini
    FROM a
    """,
    note="Gini coefficient of the co-purchase degree distribution "
    "(the one-number hub-skew readout behind graph_degree_histogram "
    "-- where wedge fan-out and LSH hot buckets concentrate): sorted "
    "integer rank sums, one double; rank window over the "
    "dimension-sized node table",
)
def _graph_degree_gini(spark, sf):
    return graph.degree_gini(_copurchase_pairs(spark, sf))


@_register(
    "graph_rich_club",
    f"""
    WITH {_COPURCHASE_CTE},
    deg_hist AS (SELECT deg, count(*) AS n_nodes FROM degs GROUP BY deg),
    eh AS (
      SELECT least(da.deg, db.deg) AS min_deg, count(*) AS n_edges
      FROM cooc c
      JOIN degs da ON da.doc_id = c.doc_a
      JOIN degs db ON db.doc_id = c.doc_b
      GROUP BY 1),
    grid AS (SELECT k FROM (VALUES (1), (2), (3), (4), (6), (8), (12),
                            (16)) AS g(k)),
    nk AS (
      SELECT grid.k, sum(deg_hist.n_nodes) AS n_nodes
      FROM deg_hist JOIN grid ON deg_hist.deg > grid.k
      GROUP BY grid.k),
    ek AS (
      SELECT grid.k, sum(eh.n_edges) AS n_edges
      FROM eh JOIN grid ON eh.min_deg > grid.k
      GROUP BY grid.k)
    SELECT nk.k,
           CAST(nk.n_nodes AS BIGINT) AS n_nodes,
           CAST(coalesce(ek.n_edges, 0) AS BIGINT) AS n_edges,
           round(2.0 * CAST(coalesce(ek.n_edges, 0) AS DOUBLE)
                 / CAST(nk.n_nodes * (nk.n_nodes - 1) AS DOUBLE), 6)
             AS phi
    FROM nk LEFT JOIN ek ON ek.k = nk.k
    WHERE nk.n_nodes >= 2
    """,
    note="rich-club coefficient profile phi(k) over the co-purchase "
    "graph: both sides reduce to bounded histograms (nodes per "
    "degree, edges per min-degree) before the constant k-grid cross; "
    "phi one double division off exact integer counts",
)
def _graph_rich_club(spark, sf):
    return graph.rich_club(_copurchase_pairs(spark, sf))
