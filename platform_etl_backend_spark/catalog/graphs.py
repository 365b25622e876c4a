"""Graph-closure operator coverage: distributed transitive closure over a
DAG derived from the ``part`` table (child k → parent k//2, a binary tree),
checked against a DuckDB recursive CTE.

This exercises the engine's iterative-join closure (operators/graph.py),
the Spark-native scale path for the reference's Reactome ontology closure
(graph/GraphNode.scala:54-92).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_backend_spark.catalog.registry import register, table, dec6
from platform_etl_backend_spark.operators.graph import (
    DAMPING,
    HITS_ITERATIONS,
    KTRUSS_K,
    KTRUSS_ROUNDS,
    PPR_ITERATIONS,
    SCORE_SCALE,
    transitive_closure,
)

# Each is read by a query and by its DuckDB oracle, so the two cannot drift.
_PAGERANK_ITERATIONS = 5
_LPA_ITERATIONS = 3
_SSSP_ROUNDS = 6
_KCORE_K = 3
_KCORE_ROUNDS = 8


# The 50-node user-value graph: an edge joins user_id % 50 and
# floor(value) % 50 for every event where the two differ.
# Its distinct undirected edges (a < b), the body of a CTE.
_UV_EDGES_DUCK = """
      SELECT DISTINCT LEAST(user_id % 50, CAST(FLOOR(value) AS BIGINT) % 50) AS a,
                      GREATEST(user_id % 50, CAST(FLOOR(value) AS BIGINT) % 50) AS b
      FROM events WHERE user_id % 50 <> CAST(FLOOR(value) AS BIGINT) % 50"""

# CTEs und (the undirected edges) and sym (both directions, as u -> v).
_UV_SYM_DUCK = f"""und AS ({_UV_EDGES_DUCK}),
    sym AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und)"""

# Hop distances d (at most 8) of every reachable node pair, in CTE firsts.
_UV_HOP_DISTANCES_DUCK = f"""
    WITH RECURSIVE {_UV_SYM_DUCK},
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    walk(s, node, dist) AS (
      SELECT node, node, 0 FROM nodes
      UNION
      SELECT w.s, sym.v, w.dist + 1
      FROM walk w JOIN sym ON sym.u = w.node WHERE w.dist < 8),
    firsts AS (
      SELECT s, node, CAST(MIN(dist) AS BIGINT) AS d
      FROM walk WHERE s <> node GROUP BY s, node)"""


def _user_value_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-value graph's directed edges ``src -> dst``, one per event
    (not deduplicated)."""
    ev = table(spark, sf_dir, "events")
    a = F.col("user_id").cast("bigint") % 50
    b = F.floor(F.col("value")).cast("bigint") % 50
    return ev.where(a != b).select(a.alias("src"), b.alias("dst"))


def _user_value_undirected(spark: SparkSession, sf_dir: str, lo: str, hi: str) -> DataFrame:
    """The user-value graph's distinct undirected edges, the smaller
    endpoint as column ``lo`` and the larger as ``hi``."""
    ev = table(spark, sf_dir, "events")
    a = F.col("user_id").cast("bigint") % 50
    b = F.floor(F.col("value")).cast("bigint") % 50
    return (
        ev.where(a != b)
        .select(F.least(a, b).alias(lo), F.greatest(a, b).alias(hi))
        .distinct()
    )


def _user_value_symmetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-value graph's undirected edges in both directions, as
    ``src -> dst``."""
    und = _user_value_undirected(spark, sf_dir, "x", "y")
    return und.select(F.col("x").alias("src"), F.col("y").alias("dst")).unionByName(
        und.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )


@register(
    "q_graph_closure",
    oracle="""
    WITH RECURSIVE anc(node, ancestor) AS (
      SELECT p_partkey, p_partkey // 2 FROM part WHERE p_partkey >= 1
      UNION
      SELECT a.node, a.ancestor // 2 FROM anc a WHERE a.ancestor >= 1)
    SELECT node, COUNT(*) AS n_ancestors,
           array_to_string(list_sort(list(ancestor)), '|') AS ancestors
    FROM anc GROUP BY node
    """,
    description="DAG transitive closure via iterative broadcast hop-joins "
    "(distributed port of GraphNode.scala ancestor derivation). "
    "'|'-serialized output (canonicalizer-proof contract).",
    tags=("graph",),
)
def q_graph_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    edges = p.where(F.col("p_partkey") >= 1).select(
        F.expr("p_partkey div 2").cast("bigint").alias("src"),  # parent
        F.col("p_partkey").alias("dst"),  # child
    )
    # depth-14 binary tree: path doubling converges in 4 rounds vs 15
    # one-hop rounds (the per-round stage overhead dominated; ~2x wall)
    clo = transitive_closure(edges, method="double")
    return clo.groupBy(F.col("descendant").alias("node")).agg(
        F.count(F.lit(1)).alias("n_ancestors"),
        F.concat_ws(
            "|",
            F.transform(F.sort_array(F.collect_set("ancestor")), lambda x: x.cast("string")),
        ).alias("ancestors"),
    )


def _pagerank_oracle(
    edge_ctes: list[str] | None = None,
    final_select: str | None = None,
) -> str:
    """Unrolled-CTE PageRank mirroring operators/graph.pagerank: per-edge
    contributions rounded in double then summed as decimal (order-invariant),
    same simplified no-dangling-redistribution variant. ``edge_ctes``
    parameterizes the graph (last CTE must define e(s, d)); ``final_select``
    overrides the rank projection (e.g. a top-k)."""
    d = f"DECIMAL(38,{SCORE_SCALE})"
    ctes = list(edge_ctes) if edge_ctes else [
        "e AS (SELECT DISTINCT p_partkey // 2 AS s, p_partkey AS d FROM part WHERE p_partkey >= 1)",
    ]
    ctes += [
        "nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s)",
        f"pr0 AS (SELECT node, CAST(ROUND(1.0 / (SELECT n FROM nn), {SCORE_SCALE}) AS {d}) AS pr FROM nodes)",
    ]
    for i in range(_PAGERANK_ITERATIONS):
        ctes.append(f"""pr{i + 1} AS (
      SELECT nd.node,
             CAST(CAST(ROUND({1.0 - DAMPING!r} / (SELECT n FROM nn), {SCORE_SCALE}) AS {d})
                  + COALESCE(c.csum, CAST(0 AS {d})) AS {d}) AS pr
      FROM nodes nd LEFT JOIN (
        SELECT e.d AS node,
               SUM(CAST(ROUND(CAST(p.pr AS DOUBLE) * {DAMPING!r} / o.outdeg, {SCORE_SCALE}) AS {d})) AS csum
        FROM pr{i} p JOIN e ON p.node = e.s JOIN outdeg o ON e.s = o.s
        GROUP BY e.d) c ON nd.node = c.node)""")
    final = final_select or f"SELECT node, ROUND(CAST(pr AS DOUBLE), 6) AS pr FROM pr{_PAGERANK_ITERATIONS}"
    return "WITH " + ",\n    ".join(ctes) + "\n    " + final


@register(
    "q_pagerank",
    oracle=_pagerank_oracle(),
    description="5-iteration PageRank over the part-tree DAG (simplified "
    "no-dangling-mass variant) — iterative join/agg rounds with decimal "
    "contribution sums for engine-portable determinism; the relational "
    "Pregel-equivalent plan (one src-keyed join + one dst-keyed agg per round).",
    tags=("graph", "iterative"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import pagerank

    p = table(spark, sf_dir, "part")
    edges = p.where(F.col("p_partkey") >= 1).select(
        F.expr("p_partkey div 2").cast("bigint").alias("src"),
        F.col("p_partkey").cast("bigint").alias("dst"),
    )
    return pagerank(edges, iterations=_PAGERANK_ITERATIONS)


@register(
    "q_triangle_count",
    oracle=f"""
    WITH und AS ({_UV_EDGES_DUCK}),
    deg AS (SELECT node, COUNT(*) AS deg FROM (
              SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
    oriented AS (
      SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS vdeg,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v
      FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node),
    wedges AS (
      SELECT e1.u, e1.vdeg AS d1, e1.v AS v1, e2.vdeg AS d2, e2.v AS v2
      FROM oriented e1 JOIN oriented e2
        ON e1.u = e2.u AND (e1.vdeg, e1.v) < (e2.vdeg, e2.v)),
    tris AS (
      SELECT w.* FROM wedges w JOIN oriented o ON w.v1 = o.u AND w.v2 = o.v)
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT COUNT(*) FROM wedges) AS n_wedges,
           (SELECT COUNT(*) FROM tris) AS n_triangles
    """,
    description="degree-oriented triangle counting over an events-derived "
    "co-occurrence graph: orient edges (deg,id)-ascending, wedge at the small "
    "endpoint, close against oriented edges — the skew-bounded MPC algorithm "
    "(per-node fan-out O(sqrt(m)) instead of quadratic in hot-node degree).",
    tags=("graph",),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import triangle_count

    edges = _user_value_edges(spark, sf_dir)
    return triangle_count(edges)


@register(
    "q_bfs_distance",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT p_partkey // 2 AS s, p_partkey AS d FROM part WHERE p_partkey >= 1),
    b(node, dist) AS (
      SELECT CAST(1 AS BIGINT), 0
      UNION ALL
      SELECT e.d, b.dist + 1 FROM b JOIN e ON e.s = b.node WHERE b.dist < 6)
    SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM b GROUP BY node
    """,
    description="bounded multi-source BFS hop distances (single source node 1, "
    "6 hops) over the part-tree: frontier-expansion BSP — one frontier-keyed "
    "join + visited anti-join per round, early exit on empty frontier; the "
    "oracle is DuckDB's recursive CTE with a min-dist collapse (path "
    "enumeration agrees with BFS first-visit labels on any graph).",
    tags=("graph", "iterative"),
)
def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import bfs_distances

    p = table(spark, sf_dir, "part")
    edges = p.where(F.col("p_partkey") >= 1).select(
        F.expr("p_partkey div 2").cast("bigint").alias("src"),
        F.col("p_partkey").cast("bigint").alias("dst"),
    )
    out = bfs_distances(edges, sources=[1], max_hops=6)
    return out.select("node", F.col("dist").cast("bigint").alias("dist"))


def _lpa_oracle(final: str | None = None) -> str:
    """Unrolled-CTE synchronous LPA mirroring operators/graph.label_propagation:
    same events-derived 50-node graph as q_triangle_count, same
    (count DESC, label ASC) deterministic tie-break. ``final`` overrides the
    closing SELECT (q_modularity scores the same labels)."""
    ctes = [
        f"""und AS ({_UV_EDGES_DUCK})""",
        "sym AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und)",
        "nodes AS (SELECT DISTINCT u AS node FROM sym)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, _LPA_ITERATIONS + 1):
        ctes.append(
            f"""c{i} AS (SELECT s.u AS node, l.label, COUNT(*) AS c
      FROM sym s JOIN l{i - 1} l ON s.v = l.node GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""l{i} AS (SELECT node, label FROM (
      SELECT node, label,
             ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
      FROM c{i}) WHERE rn = 1)"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + "\n    "
        + (final or f"SELECT node, label AS community FROM l{_LPA_ITERATIONS}")
    )


@register(
    "q_label_propagation",
    oracle=_lpa_oracle(),
    description="synchronous label-propagation community detection (3 fixed "
    "rounds) over the events-derived co-occurrence graph: neighbor-majority "
    "label adoption with the deterministic (count DESC, label ASC) tie-break "
    "— argmax as max(struct(count, -label)), no RNG, no visit-order "
    "dependence; one neighbor-keyed join + two hash aggregations per round",
    tags=("graph", "iterative", "community"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import label_propagation

    edges = _user_value_edges(spark, sf_dir)
    return label_propagation(edges, iterations=_LPA_ITERATIONS)


def _sssp_oracle() -> str:
    """Unrolled min-plus Bellman-Ford mirroring operators/graph.sssp over
    the part tree with integer edge weights (child mod 7) + 1."""
    ctes = [
        """e AS (SELECT p_partkey // 2 AS s, p_partkey AS d,
                        (p_partkey % 7) + 1 AS w
                 FROM part WHERE p_partkey >= 1)""",
        "d0(node, dist) AS (SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT))",
    ]
    for i in range(1, _SSSP_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS (
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.d, p.dist + e.w FROM d{i - 1} p JOIN e ON e.s = p.node)
      GROUP BY node)"""
        )
    return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node, dist FROM d{_SSSP_ROUNDS}"


@register(
    "q_sssp",
    oracle=_sssp_oracle(),
    description="weighted single-source shortest paths (6 bounded min-plus "
    "Bellman-Ford rounds over the part tree, integer edge weights): one "
    "frontier join + one min aggregation per round — integer path sums make "
    "the min-reduction order-invariant with no decimal scaffolding; exact "
    "for all shortest paths of <= 6 hops by the textbook bound (the BFS "
    "twin q_bfs_distance counts hops; this one costs them)",
    tags=("graph", "iterative"),
)
def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import sssp

    p = table(spark, sf_dir, "part")
    edges = p.where(F.col("p_partkey") >= 1).select(
        F.expr("p_partkey div 2").cast("bigint").alias("src"),
        F.col("p_partkey").cast("bigint").alias("dst"),
        ((F.col("p_partkey") % 7) + 1).cast("bigint").alias("w"),
    )
    return sssp(edges, sources=[1], rounds=_SSSP_ROUNDS)


def _kcore_oracle() -> str:
    """Unrolled synchronous peeling mirroring operators/graph.k_core."""
    ctes = [
        f"""r0 AS MATERIALIZED ({_UV_EDGES_DUCK})"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node FROM (SELECT a AS node FROM r{i - 1} UNION ALL SELECT b FROM r{i - 1})
      GROUP BY node HAVING COUNT(*) >= {_KCORE_K})"""
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM r{i - 1} e
      JOIN d{i} x ON e.a = x.node JOIN d{i} y ON e.b = y.node)"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM (SELECT a AS node FROM r{_KCORE_ROUNDS} UNION ALL SELECT b FROM r{_KCORE_ROUNDS})
    GROUP BY node ORDER BY node
    """


@register(
    "q_kcore",
    oracle=_kcore_oracle(),
    description="3-core decomposition by synchronous peeling (Matula-Beck): "
    "8 fixed BSP rounds of drop-degree-<k + induced-subgraph recompute over "
    "the events-derived 50-node graph (two alive-set semi joins + one degree "
    "aggregation per round, localCheckpoint lineage truncation); the fixed "
    "round budget keeps it CTE-unrollable, and the paired pytest proves the "
    "budget reaches the true fixpoint (round 9 == round 8)",
    tags=("graph", "iterative"),
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import k_core

    edges = _user_value_edges(spark, sf_dir)
    return k_core(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS).orderBy("node")


_TEXTRANK_EDGES = [
    """toks AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents)""",
    """adj AS (
      SELECT z[1] AS a, z[2] AS b
      FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z FROM toks)
      WHERE z[1] <> z[2])""",
    """e AS (SELECT DISTINCT a AS s, b AS d FROM adj
             UNION SELECT DISTINCT b, a FROM adj)""",
]


@register(
    "q_textrank_keywords",
    oracle=_pagerank_oracle(
        edge_ctes=_TEXTRANK_EDGES,
        final_select=(
            "SELECT word, pr, rn FROM ("
            "  SELECT node AS word, ROUND(CAST(pr AS DOUBLE), 6) AS pr,"
            "         CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS BIGINT) AS rn"
            f"  FROM pr{_PAGERANK_ITERATIONS}) WHERE rn <= 10"
        ),
    ),
    description="TextRank keyword extraction (Mihalcea & Tarau 2004): "
    "PageRank over the adjacent-token co-occurrence graph (symmetric "
    "edges, map-side shifted zips — no positional self-join), top-10 "
    "words by rank with a word tiebreak; reuses the decimal-deterministic "
    "pagerank operator and the SAME unrolled-CTE oracle machinery, just "
    "parameterized with the word graph",
    tags=("graph", "text", "iterative", "topk"),
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from platform_etl_backend_spark.operators.graph import pagerank

    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.trim("text"), r" +").alias("t"))
    adj = toks.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, size(t) - 1)"), F.expr("slice(t, 2, size(t) - 1)")
            )
        ).alias("z")
    ).select(F.col("z")["0"].alias("a"), F.col("z")["1"].alias("b")).where(
        F.col("a") != F.col("b")
    )
    e = (
        adj.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(adj.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    pr = pagerank(e, iterations=_PAGERANK_ITERATIONS)
    w = Window.orderBy(F.desc("pr"), "node")
    return (
        pr.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 10)
        .select(F.col("node").alias("word"), "pr", "rn")
    )


def _hits_oracle() -> str:
    """Unrolled-CTE HITS mirroring operators/graph.hits: decimal score
    sums, ROUND(raw/norm, SCORE_SCALE) L1 normalization per half-step. Every
    score CTE is referenced twice (contributions + norm), so AS
    MATERIALIZED is mandatory (the k-core/PCA exponential-re-expansion
    gotcha)."""
    d = f"DECIMAL(38,{SCORE_SCALE})"
    ctes = [
        "e AS MATERIALIZED (SELECT DISTINCT user_id % 100 AS s, event_type AS d FROM events)",
        f"h0 AS MATERIALIZED (SELECT DISTINCT s AS node, CAST(1 AS {d}) AS score FROM e)",
    ]
    prev_h = "h0"
    for i in range(1, HITS_ITERATIONS + 1):
        ctes.append(
            f"""a{i}r AS MATERIALIZED (
      SELECT e.d AS node, CAST(SUM(h.score) AS {d}) AS raw
      FROM e JOIN {prev_h} h ON e.s = h.node GROUP BY e.d)"""
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
      SELECT node, CAST(ROUND(CAST(raw AS DOUBLE)
                   / CAST((SELECT CAST(SUM(raw) AS {d}) FROM a{i}r) AS DOUBLE),
                   {SCORE_SCALE}) AS {d}) AS score FROM a{i}r)"""
        )
        ctes.append(
            f"""h{i}r AS MATERIALIZED (
      SELECT e.s AS node, CAST(SUM(a.score) AS {d}) AS raw
      FROM e JOIN a{i} a ON e.d = a.node GROUP BY e.s)"""
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
      SELECT node, CAST(ROUND(CAST(raw AS DOUBLE)
                   / CAST((SELECT CAST(SUM(raw) AS {d}) FROM h{i}r) AS DOUBLE),
                   {SCORE_SCALE}) AS {d}) AS score FROM h{i}r)"""
        )
        prev_h = f"h{i}"
    final = (
        f"SELECT 'auth' AS kind, CAST(node AS VARCHAR) AS node,"
        f" ROUND(CAST(score AS DOUBLE), 6) AS score FROM a{HITS_ITERATIONS}"
        f" UNION ALL SELECT 'hub', CAST(node AS VARCHAR),"
        f" ROUND(CAST(score AS DOUBLE), 6) FROM h{HITS_ITERATIONS}"
        f" ORDER BY kind, node"
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + final


@register(
    "q_hits",
    oracle=_hits_oracle(),
    description="HITS hubs-and-authorities (Kleinberg 1999, the PageRank "
    "sibling) over the bipartite user-bucket -> event-type graph: 3 "
    "mutual-reinforcement rounds, scores as DECIMAL(38,9) exact sums with "
    "ROUND(raw/norm, 9) L1 normalization — the q_pagerank decimal "
    "determinism convention. SCALE: each half-step is one edge join + one "
    "hash agg + a 1-row broadcast norm (Pregel-equivalent relational "
    "plan); rounds are bounded, edges localCheckpoint-pinned",
    tags=("graph", "iterative"),
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.catalog.events import events_table
    from platform_etl_backend_spark.operators.graph import hits

    e = events_table(spark, sf_dir)
    edges = e.select(
        (F.col("user_id") % 100).cast("bigint").alias("src"),
        F.col("event_type").alias("dst"),
    )
    return hits(edges).orderBy("kind", "node")


def _ppr_oracle() -> str:
    """Unrolled-CTE personalized PageRank mirroring
    operators/graph.personalized_pagerank: teleport mass lands only on the
    seed set {1,2,3}; per-edge contributions rounded in double then summed
    as decimal. Shared frames (e/nodes/outdeg) AS MATERIALIZED — they are
    referenced every round."""
    d = f"DECIMAL(38,{SCORE_SCALE})"
    dm, base = DAMPING, 1.0 - DAMPING
    ctes = [
        "e AS MATERIALIZED (SELECT DISTINCT p_partkey // 2 AS s, p_partkey AS d"
        " FROM part WHERE p_partkey >= 1)",
        "nodes AS MATERIALIZED (SELECT node,"
        " CASE WHEN node IN (1, 2, 3) THEN 1 ELSE 0 END AS is_seed"
        " FROM (SELECT s AS node FROM e UNION SELECT d FROM e))",
        "ns AS (SELECT CAST(SUM(is_seed) AS BIGINT) AS n FROM nodes)",
        "outdeg AS MATERIALIZED (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s)",
        f"""pr0 AS (SELECT node, is_seed,
      CASE WHEN is_seed = 1
           THEN CAST(ROUND(1.0 / (SELECT n FROM ns), {SCORE_SCALE}) AS {d})
           ELSE CAST(0 AS {d}) END AS pr FROM nodes)""",
    ]
    for i in range(PPR_ITERATIONS):
        ctes.append(f"""pr{i + 1} AS (
      SELECT nd.node, nd.is_seed,
             CAST(CASE WHEN nd.is_seed = 1
                       THEN CAST(ROUND({base!r} / (SELECT n FROM ns), {SCORE_SCALE}) AS {d})
                       ELSE CAST(0 AS {d}) END
                  + COALESCE(c.csum, CAST(0 AS {d})) AS {d}) AS pr
      FROM nodes nd LEFT JOIN (
        SELECT e.d AS node,
               SUM(CAST(ROUND(CAST(p.pr AS DOUBLE) * {dm!r} / o.outdeg, {SCORE_SCALE})
                        AS {d})) AS csum
        FROM pr{i} p JOIN e ON p.node = e.s JOIN outdeg o ON e.s = o.s
        GROUP BY e.d) c ON nd.node = c.node)""")
    final = (
        f"SELECT node, ROUND(CAST(pr AS DOUBLE), 6) AS ppr FROM pr{PPR_ITERATIONS}"
        f" ORDER BY ppr DESC, node LIMIT 100"
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + final


@register(
    "q_personalized_pagerank",
    oracle=_ppr_oracle(),
    description="personalized PageRank / random walk with restart "
    "(Haveliwala 2002; the related-entity recommendation staple) over the "
    "part-tree DAG with seed set {1,2,3}: teleport mass restarts only to "
    "seeds, so scores measure proximity to the seed neighborhood rather "
    "than global centrality. Same decimal-contribution determinism as "
    "q_pagerank; top-100 with (score, node) tiebreak. SCALE: per round one "
    "src-keyed join + one dst-keyed agg; seed flag broadcast; "
    "TakeOrderedAndProject final — no global sort",
    tags=("graph", "iterative", "recommendation"),
)
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import personalized_pagerank

    p = table(spark, sf_dir, "part")
    edges = p.where(F.col("p_partkey") >= 1).select(
        F.expr("p_partkey div 2").cast("bigint").alias("src"),
        F.col("p_partkey").cast("bigint").alias("dst"),
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node bigint")
    return (
        personalized_pagerank(edges, seeds)
        .orderBy(F.desc("ppr"), "node")
        .limit(100)
    )


# --- Adamic-Adar link prediction ---------------------------------------------

@register(
    "q_adamic_adar",
    oracle=f"""
    WITH und AS ({_UV_EDGES_DUCK}),
    sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY a),
    wedge AS (
      SELECT x.b AS u, y.b AS v, x.a AS w
      FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b),
    cand AS (
      SELECT wd.u, wd.v, d.deg
      FROM wedge wd
      JOIN deg d ON wd.w = d.node
      LEFT JOIN und e ON wd.u = e.a AND wd.v = e.b
      WHERE e.a IS NULL),
    aa AS (
      SELECT u, v,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             CAST(SUM(CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) AS aa_score
      FROM cand GROUP BY u, v)
    SELECT u, v, common_neighbors, aa_score
    FROM aa ORDER BY aa_score DESC, u, v LIMIT 20
    """,
    description="Adamic-Adar link prediction over the event co-occurrence "
    "graph (the classic common-neighbor recommender; Adamic & Adar 2003): "
    "for each NON-adjacent pair, sum 1/ln(deg(w)) over common neighbors w "
    "— the wedge join from q_triangle_count re-aimed at missing links, "
    "existing edges removed by an anti-join. Per-wedge contributions are "
    "ROUND(6) DECIMAL terms (order-invariant distributed sum); ln stays "
    "libm here because each 1/ln(deg) is rounded to 6dp before summation "
    "— a last-ulp ln divergence cannot move the 6th decimal of these "
    "magnitudes (degrees are small integers, documented). SCALE: wedge "
    "fan-out is sum(deg^2) — the triangle-counting bound; degree table "
    "broadcast; TakeOrdered top-20",
    tags=("graph", "recommendation", "linkprediction"),
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.catalog.events import events_table

    e = events_table(spark, sf_dir)
    und = (
        e.where(
            F.col("user_id") % 50
            != F.floor("value").cast("bigint") % 50
        )
        .select(
            F.least(
                F.col("user_id") % 50, F.floor("value").cast("bigint") % 50
            ).alias("a"),
            F.greatest(
                F.col("user_id") % 50, F.floor("value").cast("bigint") % 50
            ).alias("b"),
        )
        .distinct()
    )
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    x = sym.select(F.col("a").alias("w"), F.col("b").alias("u"))
    y = sym.select(F.col("a").alias("w2"), F.col("b").alias("v"))
    wedge = x.join(y, (F.col("w") == F.col("w2")) & (F.col("u") < F.col("v"))).select(
        "u", "v", "w"
    )
    cand = (
        wedge.join(F.broadcast(deg), wedge["w"] == deg["node"])
        .join(
            und.select(F.col("a").alias("u"), F.col("b").alias("v")),
            ["u", "v"],
            "left_anti",
        )
        .select("u", "v", "deg")
    )
    aa = cand.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
        F.sum(
            dec6(F.round(1.0 / F.log(F.col("deg").cast("double")), 6))
        ).cast("double").alias("aa_score"),
    )
    return aa.orderBy(F.desc("aa_score"), "u", "v").limit(20)

_M_EDGES = "(SELECT COUNT(*) FROM und)"
_M_NUM = f"(4 * {_M_EDGES} * COALESCE(i.intra, 0) - p.degree_sum * p.degree_sum)"
_M_DEN = f"(4 * {_M_EDGES} * {_M_EDGES})"
_MODULARITY_FINAL = f"""SELECT p.community, p.n_nodes,
           CAST(COALESCE(i.intra, 0) AS BIGINT) AS intra_edges, p.degree_sum,
           CAST(CASE WHEN {_M_NUM} >= 0
                THEN (2 * {_M_NUM} * 1000000 + {_M_DEN}) // (2 * {_M_DEN})
                ELSE -((2 * -{_M_NUM} * 1000000 + {_M_DEN}) // (2 * {_M_DEN}))
           END AS BIGINT) AS contrib_micro
    FROM (SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(SUM(d.deg) AS BIGINT) AS degree_sum
          FROM l3 la JOIN (SELECT u AS node, COUNT(*) AS deg
                           FROM sym GROUP BY u) d ON la.node = d.node
          GROUP BY la.label) p
    LEFT JOIN (SELECT la.label AS community, COUNT(*) AS intra
               FROM und e JOIN l3 la ON e.a = la.node
               JOIN l3 lb ON e.b = lb.node AND la.label = lb.label
               GROUP BY la.label) i
      ON p.community = i.community
    ORDER BY p.community"""


@register(
    "q_modularity",
    oracle=_lpa_oracle(final=_MODULARITY_FINAL),
    description="Newman modularity scoring of the LPA communities (Newman "
    "& Girvan 2004): Q_c = intra_c/m - (D_c/2m)^2 per community, carried "
    "as ONE exact integer rational (4m*intra - D^2)/(4m^2) with "
    "sign-aware round-half-away micro output — the community-quality "
    "metric beside the detection operator, zero float ops; total Q = sum "
    "of contribs. SCALE: labels come from the bounded LPA rounds "
    "(localCheckpoint-pinned so scoring doesn't re-run them); scoring is "
    "two label-keyed joins + rollups; m rides as a 1-row broadcast",
    tags=("graph", "community", "metric"),
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import label_propagation

    und = _user_value_undirected(spark, sf_dir, "a", "b").localCheckpoint()
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    lab = (
        label_propagation(
            und.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            iterations=_LPA_ITERATIONS,
        )
        .localCheckpoint()
    )
    m = und.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    per = (
        lab.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
        )
    )
    la = lab.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    intra = (
        und.join(la, "a").join(lb, "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra"))
    )
    out = (
        per.join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community", "n_nodes",
            F.coalesce("intra", F.lit(0)).cast("bigint").alias("intra_edges"),
            "degree_sum", "m",
        )
    )
    return out.selectExpr(
        "community", "n_nodes", "intra_edges", "degree_sum",
        """CAST(CASE
             WHEN 4 * m * intra_edges - degree_sum * degree_sum >= 0
             THEN (2 * (4 * m * intra_edges - degree_sum * degree_sum) * 1000000
                   + 4 * m * m) div (2 * (4 * m * m))
             ELSE -((2 * -(4 * m * intra_edges - degree_sum * degree_sum) * 1000000
                     + 4 * m * m) div (2 * (4 * m * m)))
           END AS BIGINT) AS contrib_micro""",
    ).orderBy("community")


def _ktruss_oracle() -> str:
    """Unrolled synchronous support peeling mirroring operators/graph.k_truss.
    Every round CTE is referenced 3-4x (wedge self-join + closing + filter),
    so AS MATERIALIZED is mandatory (the k-core exponential-re-expansion
    gotcha)."""
    ctes = [
        f"""u0 AS MATERIALIZED ({_UV_EDGES_DUCK})"""
    ]

    def tri_sup(i: int, src: str) -> list[str]:
        return [
            f"""t{i} AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM {src} e1 JOIN {src} e2 ON e2.a = e1.a AND e1.b < e2.b
      JOIN {src} e3 ON e3.a = e1.b AND e3.b = e2.b)""",
            f"""s{i} AS MATERIALIZED (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS sup
      FROM (SELECT x AS a, y AS b FROM t{i}
            UNION ALL SELECT x, z FROM t{i}
            UNION ALL SELECT y, z FROM t{i})
      GROUP BY a, b)""",
        ]

    for i in range(1, KTRUSS_ROUNDS + 1):
        ctes += tri_sup(i, f"u{i - 1}")
        ctes.append(
            f"""u{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM u{i - 1} e
      JOIN s{i} s ON e.a = s.a AND e.b = s.b WHERE s.sup >= {KTRUSS_K - 2})"""
        )
    ctes += tri_sup(KTRUSS_ROUNDS + 1, f"u{KTRUSS_ROUNDS}")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT e.a, e.b, CAST(COALESCE(s.sup, 0) AS BIGINT) AS support
    FROM u{KTRUSS_ROUNDS} e LEFT JOIN s{KTRUSS_ROUNDS + 1} s
      ON e.a = s.a AND e.b = s.b
    ORDER BY e.a, e.b
    """


@register(
    "q_ktruss",
    oracle=_ktruss_oracle(),
    description="4-truss decomposition by synchronous support peeling "
    "(Cohen 2008 — the EDGE-cohesion analogue of q_kcore's node peeling): "
    "6 fixed BSP rounds of compute-triangle-support + drop-support-<k-2 "
    "over the events-derived 50-node graph; each round is one wedge "
    "self-join at the canonical-smaller endpoint + a closing semi join "
    "(the q_triangle_count skew-bounded shape) + a 3-projection support "
    "rollup, localCheckpoint lineage truncation; the fixed budget keeps "
    "it CTE-unrollable and the paired pytest proves it reaches the true "
    "fixpoint (round 7 == round 6). Output edges carry their support in "
    "the FINAL subgraph",
    tags=("graph", "iterative"),
)
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import k_truss

    edges = _user_value_edges(spark, sf_dir)
    return k_truss(edges).orderBy("a", "b")


# Strongly connected components of the directed user-value graph: each
# node's label is the least node mutually reachable with it.
_SCC_DUCK = """
    WITH RECURSIVE e AS (
      SELECT DISTINCT user_id % 50 AS s, CAST(FLOOR(value) AS BIGINT) % 50 AS d
      FROM events WHERE user_id % 50 <> CAST(FLOOR(value) AS BIGINT) % 50),
    nodes AS (SELECT s AS n FROM e UNION SELECT d FROM e),
    r(a, d) AS (
      SELECT s, d FROM e
      UNION
      SELECT r.a, e.d FROM r JOIN e ON e.s = r.d),
    reach AS (
      SELECT a, d FROM r UNION SELECT n, n FROM nodes),
    mutual AS (
      SELECT x.a, x.d FROM reach x JOIN reach y ON x.a = y.d AND x.d = y.a)
    SELECT CAST(a AS BIGINT) AS node, CAST(MIN(d) AS BIGINT) AS scc
    FROM mutual GROUP BY a ORDER BY node
    """


@register(
    "q_scc",
    oracle=_SCC_DUCK,
    description="strongly connected components of the events-derived "
    "DIRECTED 50-node graph (the directed sibling of the undirected "
    "large-star/small-star components): scc(i) = min node mutually "
    "reachable with i, computed from the existing iterative hop-join "
    "transitive closure run once (reflexive-closed), self-joined for "
    "mutuality, min-rolled per node — no recursion-within-recursion. "
    "SCALE: reachability PAIRS are quadratic in component size, so this "
    "exact formulation fits bounded/contracted graphs (here 50 nodes by "
    "construction); the web-scale route is FW-BW pivot coloring over "
    "the same closure primitive, trading rounds for pair volume — "
    "documented, same operator family",
    tags=("graph", "iterative"),
)
def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _user_value_edges(spark, sf_dir).distinct()
    clo = transitive_closure(edges)
    nodes = (
        edges.select(F.col("src").alias("n"))
        .unionByName(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    reach = (
        clo.select(F.col("ancestor").alias("a"), F.col("descendant").alias("d"))
        .unionByName(nodes.select(F.col("n").alias("a"), F.col("n").alias("d")))
        .distinct()
        .localCheckpoint()  # feeds both sides of the mutuality join
    )
    back = reach.select(F.col("d").alias("a"), F.col("a").alias("d"))
    mutual = reach.join(back, ["a", "d"], "left_semi")
    return (
        mutual.groupBy(F.col("a").cast("bigint").alias("node"))
        .agg(F.min("d").cast("bigint").alias("scc"))
        .orderBy("node")
    )


@register(
    "q_scc_fwbw",
    oracle=_SCC_DUCK,
    description="strongly connected components AGAIN, by FW-BW pivot "
    "coloring with trimming (operators/graph.fwbw_scc; Fleischer et al. "
    "2000, Hong et al. 2013) — the UNBOUNDED-graph path q_scc documents: "
    "same directed 50-node events graph, same min-member labels, same "
    "recursive-CTE oracle, but state stays O(V) rows and every join is "
    "keyed on (part, node) — the closure's quadratic reachability-pair "
    "blowup never materializes. Trim peels degree-deficient singleton "
    "SCCs each round; remainder splits into 3 independent subproblems "
    "(FW-only/BW-only/neither) advancing in parallel. SCALE: O(E) pair "
    "volume per round, O(log V) expected pivot rounds (divide-and-"
    "conquer depth); both round budgets RAISE on exhaustion rather than "
    "emit partial labels",
    tags=("graph", "iterative", "scc"),
)
def q_scc_fwbw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import fwbw_scc

    edges = _user_value_edges(spark, sf_dir).distinct()
    return fwbw_scc(edges).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("scc").cast("bigint").alias("scc"),
    ).orderBy("node")


# --- harmonic closeness centrality --------------------------------------------------


@register(
    "q_harmonic_centrality",
    oracle=_UV_HOP_DISTANCES_DUCK + """
    SELECT s AS node,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(MAX(d) AS BIGINT) AS ecc,
           CAST(SUM((2 * 1000000 + d) // (2 * d)) AS BIGINT) AS harmonic_micro
    FROM firsts GROUP BY s ORDER BY node
    """,
    description="harmonic closeness centrality + eccentricity per node of "
    "the events co-occurrence graph (the disconnection-robust closeness: "
    "sum of 1/d over reached nodes, unreachable pairs contribute exactly "
    "0 instead of poisoning a mean): all-pairs hop distances via the "
    "(source, node)-keyed multi-BFS BSP (operators/graph.py "
    "pairwise_hop_distances — one shuffle per round for ALL sources "
    "together, never per-source jobs), each 1/d term committed as "
    "round-half-away integer micro so the centrality sum is exact BIGINT "
    "arithmetic. The oracle walks the same graph with a UNION-distinct "
    "recursive CTE (path dedup per level — no path-enumeration blowup on "
    "the dense graph). SCALE: pair frame is O(n * reached) — bounded "
    "projection graphs or landmark subsets; the max-8-hop budget matches "
    "both sides",
    tags=("graph", "iterative", "centrality"),
)
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import pairwise_hop_distances

    sym = _user_value_symmetric(spark, sf_dir)
    d = pairwise_hop_distances(sym, max_hops=8)
    return (
        d.select("source", F.col("dist").cast("bigint").alias("d"))
        .groupBy(F.col("source").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.max("d").cast("bigint").alias("ecc"),
            F.sum(F.expr("(2 * 1000000 + d) div (2 * d)"))
            .cast("bigint")
            .alias("harmonic_micro"),
        )
        .orderBy("node")
    )


# --- degree assortativity -----------------------------------------------------------


@register(
    "q_degree_assortativity",
    oracle=f"""
    WITH {_UV_SYM_DUCK},
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    pairs AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM sym JOIN deg du ON sym.u = du.node JOIN deg dv ON sym.v = dv.node),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(dx) AS sx, SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx
      FROM pairs)
    SELECT n AS n_directed_edges,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN ROUND(CAST(n * sxy - sx * sx AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           END AS assortativity
    FROM m
    """,
    description="degree assortativity coefficient of the events "
    "co-occurrence graph (Newman 2002: the Pearson correlation of "
    "endpoint degrees over the directed-edge list — positive = hubs link "
    "hubs, negative = hub-and-spoke; the mixing-structure number that "
    "predicts how the graph fragments under node loss): both moments "
    "carried as EXACT integer sums (symmetrized edges make Sx = Sy and "
    "Sxx = Syy, so the full Pearson collapses to one integer rational), "
    "one final IEEE division. SCALE: a degree rollup + two degree joins "
    "+ a scalar agg — no window, no iteration",
    tags=("graph", "stats"),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _user_value_undirected(spark, sf_dir, "x", "y")
    sym = und.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        und.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    pairs = (
        sym.join(F.broadcast(deg.selectExpr("node AS u", "d AS dx")), "u")
        .join(F.broadcast(deg.selectExpr("node AS v", "d AS dy")), "v")
        .select("dx", "dy")
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
    )
    # a degree-REGULAR graph (the dense sf0.1 projection is complete) has
    # zero degree variance — assortativity is undefined there, not a crash
    return m.selectExpr(
        "n AS n_directed_edges",
        "CASE WHEN n * sxx - sx * sx <> 0"
        " THEN ROUND(CAST(n * sxy - sx * sx AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS assortativity",
    )


@register(
    "q_distance_distribution",
    oracle=_UV_HOP_DISTANCES_DUCK + """,
    hist AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM firsts GROUP BY d),
    cum AS (
      SELECT d, n_pairs,
             CAST(SUM(n_pairs) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_pairs,
             CAST(SUM(n_pairs) OVER () AS BIGINT) AS tot
      FROM hist),
    eff AS (SELECT CAST(MIN(d) AS BIGINT) AS eff_diameter
            FROM cum WHERE 10 * cum_pairs >= 9 * tot)
    SELECT d, n_pairs, cum_pairs,
           CAST((2 * 1000000 * cum_pairs + tot) // (2 * tot) AS BIGINT)
             AS cum_share_micro,
           (SELECT eff_diameter FROM eff) AS eff_diameter
    FROM cum ORDER BY d
    """,
    description="pairwise hop-distance distribution + 90th-percentile "
    "effective diameter of the events co-occurrence graph (the ANF/"
    "small-world audit — the number that says whether 2 BFS rounds or 6 "
    "reach the whole graph): reuses the (source, node)-keyed multi-BFS "
    "frame (operators/graph.pairwise_hop_distances), then a hop-keyed "
    "rollup; cumulative shares as round-half-away integer micro; the "
    "hop histogram is diameter-bounded so its cumulative window is a "
    "bounded frame. SCALE: same as q_harmonic_centrality — pair frame "
    "O(n * reached), bounded projection graphs / landmark sampling",
    tags=("graph", "stats", "iterative"),
)
def q_distance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from platform_etl_backend_spark.operators.graph import pairwise_hop_distances

    sym = _user_value_symmetric(spark, sf_dir)
    hist = (
        pairwise_hop_distances(sym, max_hops=8)
        .groupBy(F.col("dist").cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        "d", "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("cum_pairs"),
        F.sum("n_pairs").over(wt).cast("bigint").alias("tot"),
    )
    eff = cum.where(10 * F.col("cum_pairs") >= 9 * F.col("tot")).agg(
        F.min("d").cast("bigint").alias("eff_diameter")
    )
    return (
        cum.crossJoin(F.broadcast(eff))
        .selectExpr(
            "d", "n_pairs", "cum_pairs",
            "CAST((2 * 1000000 * cum_pairs + tot) div (2 * tot) AS BIGINT)"
            " AS cum_share_micro",
            "eff_diameter",
        )
        .orderBy("d")
    )


# --- betweenness centrality (Brandes) -----------------------------------------------

_BC_LEVELS = 6


def _betweenness_oracle(levels: int = _BC_LEVELS) -> str:
    """Unrolled Brandes sweeps as MATERIALIZED CTEs (each sig/delta level
    is referenced 2-3x — plain CTEs would re-expand exponentially, the
    k-core/EMFILE rule). Mirrors operators/graph.betweenness_centrality
    term-for-term: BIGINT sigma, ROUND(...,9) DECIMAL(28,9) dependency
    contributions, one final /2 halving + ROUND 6."""
    ctes = [
        f"""und AS ({_UV_EDGES_DUCK})""",
        "sym AS MATERIALIZED (SELECT a AS u, b AS v FROM und"
        " UNION ALL SELECT b, a FROM und)",
        "nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym)",
        "sig0 AS MATERIALIZED (SELECT node AS s, node AS v,"
        " CAST(1 AS BIGINT) AS sig FROM nodes)",
        "vis0 AS MATERIALIZED (SELECT s, v FROM sig0)",
    ]
    for l in range(1, levels + 1):
        ctes.append(
            f"""sig{l} AS MATERIALIZED (
      SELECT p.s, e.v, CAST(SUM(p.sig) AS BIGINT) AS sig
      FROM sig{l - 1} p JOIN sym e ON e.u = p.v
      WHERE NOT EXISTS (SELECT 1 FROM vis{l - 1} x
                        WHERE x.s = p.s AND x.v = e.v)
      GROUP BY p.s, e.v)"""
        )
        ctes.append(
            f"vis{l} AS MATERIALIZED (SELECT s, v FROM vis{l - 1}"
            f" UNION ALL SELECT s, v FROM sig{l})"
        )
    ctes.append(
        f"delta{levels} AS MATERIALIZED (SELECT s, v,"
        f" CAST(0 AS DECIMAL(28,9)) AS dlt FROM sig{levels})"
    )
    for l in range(levels - 1, 0, -1):
        ctes.append(
            f"""delta{l} AS MATERIALIZED (
      SELECT pu.s, pu.v,
             CAST(SUM(CAST(round(CAST(pu.sig AS DOUBLE) / CAST(pv.sig AS DOUBLE)
                   * (1.0 + CAST(COALESCE(dn.dlt, 0) AS DOUBLE)), 9)
                 AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS dlt
      FROM sig{l} pu JOIN sym e ON e.u = pu.v
      JOIN sig{l + 1} pv ON pv.s = pu.s AND pv.v = e.v
      LEFT JOIN delta{l + 1} dn ON dn.s = pv.s AND dn.v = pv.v
      GROUP BY pu.s, pu.v)"""
        )
    union = " UNION ALL ".join(
        f"SELECT v, dlt FROM delta{l}" for l in range(1, levels)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f""",
    alldlt AS ({union}),
    bc AS (SELECT v AS node, SUM(dlt) AS bc FROM alldlt GROUP BY v)
    SELECT n.node, ROUND(CAST(COALESCE(bc.bc, 0) AS DOUBLE) / 2, 6) AS bc
    FROM nodes n LEFT JOIN bc ON bc.node = n.node ORDER BY n.node"""
    )


@register(
    "q_betweenness",
    oracle=_betweenness_oracle(),
    description="exact betweenness centrality (Brandes 2001) of the "
    "events co-occurrence graph — the broker-node ranking (which nodes "
    "sit on shortest paths; the classic centrality the PageRank/HITS/"
    "harmonic family was missing): level-synchronous forward sweep "
    "counts BIGINT shortest-path sigmas per (source, node), backward "
    "sweep accumulates dependencies with each sigma-ratio term rounded "
    "to DECIMAL(28,9) BEFORE summing (order-free at any parallelism), "
    "bc = sum/2 for the undirected halving. Oracle unrolls both sweeps "
    "as MATERIALIZED CTEs (multi-referenced levels — the EMFILE rule). "
    "SCALE: exact betweenness is inherently O(n*m) with O(n*reached) "
    "pair frames — bounded projection graphs, or Brandes-Pich source "
    "sampling (same plan with a source predicate); the operator RAISES "
    "on level-budget under-run instead of truncating",
    tags=("graph", "iterative", "centrality"),
)
def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import betweenness_centrality

    sym = _user_value_symmetric(spark, sf_dir)
    bc = betweenness_centrality(sym, max_levels=_BC_LEVELS)
    return bc.select(
        "node", F.round(F.col("bc").cast("double") / 2, 6).alias("bc")
    ).orderBy("node")


def _betweenness_sampled_oracle() -> str:
    """The Brandes-Pich estimator oracle: the q_betweenness sweeps with
    seeds restricted to node % 5 == 0 and the n/|S| rescale."""
    base = _betweenness_oracle(_BC_LEVELS)
    base = base.replace(
        "sig0 AS MATERIALIZED (SELECT node AS s, node AS v,"
        " CAST(1 AS BIGINT) AS sig FROM nodes)",
        "seeds AS MATERIALIZED (SELECT node FROM nodes WHERE node % 5 = 0),"
        "\n    sig0 AS MATERIALIZED (SELECT node AS s, node AS v,"
        " CAST(1 AS BIGINT) AS sig FROM seeds)",
    )
    return base.replace(
        """SELECT n.node, ROUND(CAST(COALESCE(bc.bc, 0) AS DOUBLE) / 2, 6) AS bc
    FROM nodes n LEFT JOIN bc ON bc.node = n.node ORDER BY n.node""",
        """SELECT n.node,
           ROUND(CAST(COALESCE(bc.bc, 0) AS DOUBLE) / 2
                 * ((SELECT COUNT(*) FROM nodes)
                    / CAST((SELECT COUNT(*) FROM seeds) AS DOUBLE)), 6)
             AS bc_est
    FROM nodes n LEFT JOIN bc ON bc.node = n.node ORDER BY n.node""",
    )


@register(
    "q_betweenness_sampled",
    oracle=_betweenness_sampled_oracle(),
    description="Brandes-Pich SAMPLED betweenness (the cluster-scale path "
    "q_betweenness documents, made concrete): the same level-synchronous "
    "sweeps seeded from the deterministic 1-in-5 source subset "
    "(node % 5 == 0), estimate = (n/|S|) * sampled dependency sum — the "
    "pair frame shrinks from O(n*reached) to O(|S|*reached), which is "
    "the ONLY thing that changes vs the exact query (same operator, a "
    "source predicate). Deterministic subset => oracle-checkable exactly, "
    "unlike RNG-sampled estimators. SCALE: |S| is the knob — landmark "
    "counts in the hundreds make exact-quality rankings tractable on "
    "billion-edge graphs (Brandes-Pich 2007)",
    tags=("graph", "iterative", "centrality", "approx"),
)
def q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import betweenness_centrality

    sym = _user_value_symmetric(spark, sf_dir)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    seeds = nodes.where(F.col("node") % 5 == 0)
    counts = nodes.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
        F.broadcast(seeds.agg(F.count(F.lit(1)).alias("n_seeds")))
    )
    bc = betweenness_centrality(sym, max_levels=_BC_LEVELS, sources=seeds)
    return (
        bc.crossJoin(F.broadcast(counts))
        .selectExpr(
            "node",
            "ROUND(CAST(bc AS DOUBLE) / 2"
            " * (n_nodes / CAST(n_seeds AS DOUBLE)), 6) AS bc_est",
        )
        .orderBy("node")
    )


# --- bipartiteness / odd-cycle check ----------------------------------------


@register(
    "q_bipartite_check",
    oracle=f"""
    WITH RECURSIVE {_UV_SYM_DUCK},
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    reach(s, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.s, sym.v FROM reach r JOIN sym ON sym.u = r.node),
    comp AS (SELECT s AS node, CAST(MIN(node) AS BIGINT) AS component
             FROM reach GROUP BY s),
    roots AS (SELECT component AS node FROM comp GROUP BY component),
    walk(s, node, dist) AS (
      SELECT node, node, 0 FROM roots
      UNION
      SELECT w.s, sym.v, w.dist + 1
      FROM walk w JOIN sym ON sym.u = w.node WHERE w.dist < 16),
    firsts AS (
      SELECT s, node, CAST(MIN(dist) AS BIGINT) AS d
      FROM walk GROUP BY s, node),
    colored AS (SELECT node, d % 2 AS color FROM firsts),
    conf AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_conflict_edges
      FROM und e
      JOIN colored cu ON e.a = cu.node
      JOIN colored cv ON e.b = cv.node
      WHERE cu.color = cv.color)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
           n_conflict_edges,
           n_conflict_edges = 0 AS is_bipartite
    FROM conf
    """,
    description="bipartiteness / odd-cycle certificate for the events "
    "co-occurrence projection (2-colorability gates matching-based "
    "algorithms and reveals odd feedback cycles): BFS-parity coloring "
    "from each component's min-node root — color = min-hop-distance mod "
    "2, computed by the landmark-seeded multi-BFS "
    "(pairwise_hop_distances(sources=roots), the round-8 knob: pair "
    "frame O(components * reached), NOT all-pairs) — then an edge-parity "
    "audit: the graph is bipartite iff NO edge joins same-color "
    "endpoints (BFS-parity conflict = odd cycle, the textbook "
    "certificate). Components via the large-star/small-star operator. "
    "SCALE: one CC run + one k-BFS + one edge join against the broadcast "
    "color table",
    tags=("graph", "iterative", "audit"),
)
def q_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.graph import (
        connected_components,
        pairwise_hop_distances,
    )

    und = _user_value_undirected(spark, sf_dir, "x", "y")
    sym = und.selectExpr("x AS src", "y AS dst").unionByName(
        und.selectExpr("y AS src", "x AS dst")
    )
    cc = connected_components(sym, "src", "dst", check_every=2)
    roots = cc.groupBy("component").agg(F.min("node").alias("node")).select("node")
    dist = pairwise_hop_distances(sym, max_hops=16, sources=roots)
    colored = dist.select(
        "node", (F.col("dist") % 2).cast("bigint").alias("color")
    ).unionByName(
        roots.select("node", F.lit(0).cast("bigint").alias("color"))
    )
    conf = (
        und.join(F.broadcast(colored.selectExpr("node AS x", "color AS cx")), "x")
        .join(F.broadcast(colored.selectExpr("node AS y", "color AS cy")), "y")
        .where(F.col("cx") == F.col("cy"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_conflict_edges"))
    )
    nn = cc.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    ne = und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        nn.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(conf))
        .selectExpr(
            "n_nodes", "n_edges", "n_conflict_edges",
            "n_conflict_edges = 0 AS is_bipartite",
        )
    )
