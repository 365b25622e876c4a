"""DAG / graph-closure operators.

Reference semantics: ``graph/GraphNode.scala:27-92`` builds a JGraphT DAG on
the driver from a collected vertices/edges DataFrame and derives per-node
ancestors, descendants, children, parents and all root-paths — used only for
the Reactome pathway ontology (~2.6k vertices).

Two closures, for two consumers:
- ``driver_closure``: the same collect-to-driver shape with networkx. It is
  the one source of every graph column the Reactome step writes (ancestors,
  descendants, parents, children and root paths), from a single acyclic
  graph — right for the reference's small ontologies, and size-guarded.
- ``transitive_closure``: distributed iterative-join BFS over (ancestor,
  descendant) pairs for the catalog queries (``q_graph_closure``,
  ``q_scc``) on graphs that need not fit the driver. Each round extends
  frontier paths by one hop (a broadcast join on the edge key) and it
  terminates at fixpoint; ``method="double"`` doubles paths instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

try:
    import networkx as nx
except ImportError:  # pragma: no cover
    nx = None

# Shared with the catalog's DuckDB oracles, which unroll the same rounds.
DAMPING = 0.85  # pagerank / personalized_pagerank teleport complement
SCORE_SCALE = 9  # decimal scale of pagerank / hits / PPR scores
HITS_ITERATIONS = 3
PPR_ITERATIONS = 5
KTRUSS_K = 4
KTRUSS_ROUNDS = 6


def transitive_closure(
    edges: DataFrame,
    max_iter: int = 30,
    method: str = "hop",
) -> DataFrame:
    """All (ancestor, descendant) pairs of a DAG by iterative join.

    ``method``:
    - ``"hop"`` (default): extend by one edge hop per round — each round a
      SMALL broadcast join against the edge table; right for shallow
      ontologies (the reference's GraphNode graphs are depth <~ 10).
    - ``"double"``: path doubling (closure ∘ closure) — ceil(log2 depth)
      rounds instead of depth rounds; each round self-joins the growing
      closure (sort-merge at scale, not broadcastable), so it wins when
      depth is large relative to the per-round stage cost. Measured on
      the sf0.1 binary-tree walk (depth 14): 15 rounds -> 4, ~2x wall.

    Raises ``RuntimeError`` when ``max_iter`` rounds leave unconverged
    paths (silent truncation would return a WRONG closure — the
    connected_components cap convention).
    """
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("d")).distinct()
    # localCheckpoint truncates lineage each round — without it the
    # iteratively-unioned plan grows exponentially and kills the planner.
    closure = e.localCheckpoint()
    frontier = closure
    hop = e.select(F.col("a").alias("j"), F.col("d").alias("d2"))
    converged = False

    if method == "double":
        # Round-11 orchestration rewrite: the former per-round
        # fresh-paths checkpoint + isEmpty + union checkpoint cost three
        # job boundaries per round on a frame whose data is tiny compared
        # to the action latency. closure_{k+1} = (closure ∘ closure) ∪
        # closure as ONE distinct + checkpoint (single job), convergence
        # = the pair count stopped growing (a count() on the
        # just-checkpointed frame is a near-free second action). Same
        # final pair set: the left_anti formulation accumulated exactly
        # this union, round for round.
        prev = closure.count()
        for _ in range(max_iter):
            step = closure.select(F.col("a").alias("j"), F.col("d").alias("d2"))
            left = closure.select("a", F.col("d").alias("j"))
            nxt = left.join(step, "j").select("a", F.col("d2").alias("d"))
            merged = closure.unionByName(nxt).distinct().localCheckpoint()
            cnt = merged.count()
            closure = merged
            if cnt == prev:
                converged = True
                break
            prev = cnt
        if not converged:
            # boundary case (round-11 ADVICE, same as hop): a graph whose
            # closure completes on the LAST round is correct — one extra
            # probe round distinguishes "complete" from "truncated".
            step = closure.select(F.col("a").alias("j"), F.col("d").alias("d2"))
            left = closure.select("a", F.col("d").alias("j"))
            nxt = left.join(step, "j").select("a", F.col("d2").alias("d"))
            probe = closure.unionByName(nxt).distinct().localCheckpoint()
            converged = probe.count() == prev
        if not converged:
            raise RuntimeError(
                f"transitive_closure(double): not converged after {max_iter} "
                "rounds — graph deeper than the cap (or cyclic); raise "
                "max_iter"
            )
        return closure.select(
            F.col("a").alias("ancestor"), F.col("d").alias("descendant")
        )

    def _fresh_paths() -> DataFrame:
        left = frontier.select("a", F.col("d").alias("j"))
        nxt = left.join(F.broadcast(hop), "j").select("a", F.col("d2").alias("d")).distinct()
        return nxt.join(closure, ["a", "d"], "left_anti").localCheckpoint()

    for _ in range(max_iter):
        new = _fresh_paths()
        if new.isEmpty():
            converged = True
            break
        closure = closure.unionByName(new).localCheckpoint()
        frontier = new
    if not converged and _fresh_paths().isEmpty():
        # boundary case (round-11 ADVICE): a graph of depth exactly
        # max_iter completes the closure on the LAST round; one extra
        # empty-frontier probe distinguishes "complete" from "truncated"
        # instead of raising on a correct result.
        converged = True
    if not converged:
        raise RuntimeError(
            f"transitive_closure({method}): not converged after {max_iter} "
            "rounds — graph deeper than the cap (or cyclic); raise max_iter "
            "or use method='double' (log2-depth rounds)"
        )
    return closure.select(F.col("a").alias("ancestor"), F.col("d").alias("descendant"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    check_every: int = 1,
    on_exhausted: str = "warn",
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    ACM SoCC 2014 — public algorithm).

    ``on_exhausted`` — what to do when ``max_iter`` rounds run WITHOUT
    reaching the star fixpoint ("warn" | "raise" | "ignore"): Kiveris et
    al. prove O(log² n) rounds for the alternating variant (the O(log n)
    behavior callers usually budget for is empirical), so a tight caller
    cap can genuinely under-run; the final round's ``changed`` frame is
    already computed, making the detection free. On exhaustion the
    returned labels may be unconverged (the documented min-agg
    degradation) — "raise" turns that silent divergence into an error.

    The Spark-native dedup-clustering primitive: near-duplicate PAIRS
    (from MinHash/Jaccard/embedding operators) become duplicate GROUPS.

    Each round rewires the edge set toward per-component stars rooted at
    the minimum node id:
    - large-star: every node attaches its LARGER neighbors to the minimum
      of its neighborhood (incl. itself);
    - small-star: every node and its smaller neighbors attach to the
      minimum smaller neighbor.
    The fixpoint is one star per component; rounds are O(log n) in
    component size — unlike min-label propagation, whose O(diameter)
    rounds crawl on long-chain duplicate graphs (the adversarial shape for
    chained near-dups at corpus scale). Each round is two key-partitioned
    window passes (one exchange + sort per star phase) plus one distinct;
    lineage is cut per round with localCheckpoint.

    Returns (node, component) where component is the minimum node id in
    the component.
    """
    # checkpoint the normalized edge frame FIRST: nodes and the iteration
    # seed both derive from it, and without the cut the caller's upstream
    # pipeline (often an expensive candidate-verify chain, e.g. the
    # ngram-jaccard pairs feeding q_dedup_clusters) executed TWICE — once
    # for the node set, once for the edge seed (round-9 audit; the
    # entity-resolution composite had been pre-checkpointing around
    # exactly this).
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    # nodes is consumed exactly once (the roots left_anti at the end) and
    # derives from the checkpointed e, so it needs no checkpoint of its
    # own — the former eager localCheckpoint here cost one extra job +
    # materialization per CC call for nothing (round-11 orchestration
    # audit: consumers are action-latency-bound, not data-bound).
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # check_every > 1 amortizes the fixpoint check (two exceptAll shuffles
    # + an isEmpty action per check) across rounds: with a caller-supplied
    # max_iter bound derived from the node count (star rounds are O(log n))
    # the check is a safety net, not the stop condition, and paying it
    # every round makes small iterative graphs orchestration-bound — at
    # most check_every - 1 extra (cheap, already-converged) rounds run.
    cur = e  # already checkpointed above
    converged = False
    # Per-neighborhood minima via a WINDOW over the partition key instead
    # of the former groupBy(min) + self-join pair (round-11, guide §2.4
    # "two operations keyed the same way share one exchange"): min(b)
    # over (partition by a order by b) == first(b) in the sorted
    # partition, so each star phase is ONE exchange + sort rather than an
    # aggregation exchange PLUS a join of the same frame against it
    # (which re-shuffled the frame a second time). Rows stay narrow — no
    # collect_set of neighborhoods — so a giant component's root never
    # materializes its member list in one task; WindowExec spills
    # gracefully. Measured on the entity-resolution pair graph at sf0.1:
    # 4.1 → 3.1 s for the CC stage, labels bit-identical.
    w_ord = Window.partitionBy("a").orderBy("b")
    for it in range(max_iter):
        # large-star: Γ(u) from both edge directions; m = min(Γ(u) ∪ {u});
        # emit (v, m) for v ∈ Γ(u), v > u. No intermediate distinct: a
        # pair emitted through several neighborhoods is re-deduplicated
        # by small-star's distinct below, and the window min is
        # duplicate-insensitive — the former per-phase distinct was one
        # more full exchange per round.
        sym = cur.unionByName(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        lg = sym.select(
            "a", "b", F.least(F.col("a"), F.first("b").over(w_ord)).alias("m")
        )
        large = (
            lg.where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        # small-star: large's output is already oriented large→small (it
        # emits (b, m) with m = min(Γ(a) ∪ {a}) <= a < b); m = min
        # smaller neighbor; emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m. The
        # (u, m) self-row is emitted exactly once per group via
        # row_number == 1 (sharing the window sort), not once per input
        # row as the former join shape did.
        sm = large.select(
            "a",
            "b",
            F.first("b").over(w_ord).alias("m"),
            F.row_number().over(w_ord).alias("rn"),
        )
        small = (
            sm.where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(sm.where(F.col("rn") == 1).select("a", F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)  # lineage cut; materializes
            # inside the next action instead of one extra job per round
        )
        # Fixpoint check (round-11 rewrite): every emitted edge is
        # oriented big -> small by construction (large-star emits (b, m)
        # with m <= a < b; small-star emits (b', m) and (a', m) with
        # m = the strict min smaller neighbor), so the frame is a
        # disjoint union of stars — the Kiveris fixpoint — EXACTLY when
        # (1) no source has out-degree >= 2 and (2) no edge target also
        # appears as a source (depth-1 trees). Both large- and small-star
        # provably leave such a frame unchanged, and any violation of
        # either condition triggers a rewrite next round. Checked with
        # ONE role-count aggregation + isEmpty on the NEW frame alone —
        # no diff against the previous round (the former two-directional
        # exceptAll), and it fires one round EARLIER: the unchanged-set
        # check needed an extra round to observe the converged frame
        # repeat itself.
        cur = small
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            roles = small.select(
                F.col("a").alias("n"), F.lit(1).alias("src")
            ).unionByName(small.select(F.col("b").alias("n"), F.lit(0).alias("src")))
            viol = (
                roles.groupBy("n")
                .agg(F.sum("src").alias("s"), F.count(F.lit(1)).alias("c"))
                .where((F.col("s") >= 2) | ((F.col("s") >= 1) & (F.col("c") > F.col("s"))))
            )
            if viol.isEmpty():
                converged = True
                break
    if not converged and on_exhausted != "ignore":
        msg = (
            f"connected_components: {max_iter} rounds exhausted without "
            "reaching the star fixpoint — returned labels may be "
            "unconverged (alternating large/small-star is proven "
            "O(log^2 n) rounds, not O(log n); raise the caller's cap)"
        )
        if on_exhausted == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # At fixpoint every edge points (member → component-min root). If
    # max_iter cut the loop before the fixpoint, residual non-star edges
    # would otherwise emit multiple (node, component) rows per node — the
    # min-agg (cheap: the edge set is already near star-sized) guarantees
    # exactly one row per node, degrading to a possibly-unconverged label
    # instead of silent duplicates.
    labels = (
        cur.select(
            F.greatest("a", "b").alias("node"), F.least("a", "b").alias("component")
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    roots = nodes.join(labels, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labels.unionByName(roots)


def _greedy_order(g) -> list:
    """Node order of the Eades–Lin–Smyth greedy feedback-arc-set heuristic
    (Inf. Process. Lett. 47(6), 1993) on a loop-free digraph: sinks are
    peeled to the back, sources to the front, and when neither is left the
    node with the largest out-degree minus in-degree goes to the front. The
    edges pointing backward in the order break every cycle; a DAG gets a
    topological order. Ties go to the smallest id, so the order is a
    function of the graph alone."""
    g = g.copy()
    front, back = [], []
    while g:
        if sinks := sorted(n for n, d in g.out_degree() if d == 0):
            back[:0] = sinks
            g.remove_nodes_from(sinks)
        elif sources := sorted(n for n, d in g.in_degree() if d == 0):
            front += sources
            g.remove_nodes_from(sources)
        else:
            n = max(sorted(g), key=lambda n: g.out_degree(n) - g.in_degree(n))
            front.append(n)
            g.remove_node(n)
    return front + back


def driver_closure(
    edges: DataFrame,
    max_edges: int = 500_000,
):
    """Collect-to-driver networkx closure (reference-parity path for small
    ontologies; GraphNode.scala:45-48 does exactly this collect).

    Returns dict: id -> {ancestors, descendants, parents, children,
    paths: list of root-paths}, with every endpoint of a non-null edge as
    a key and every list sorted.

    Back-edges are dropped, as GraphNode.scala:33-40 skips the edges that
    would close a cycle, but by a rule that depends only on the edge SET
    (never on collect order, i.e. partitioning): self-loops go, then every
    edge pointing backward in :func:`_greedy_order` (which keeps all edges
    of an acyclic input). The graph — and so every list derived from it —
    is acyclic.

    This shape is legal ONLY for driver-sized graphs (the reference's
    Reactome ontology is ~2.6k vertices): at most ``max_edges + 1``
    distinct edges are collected, and ``ValueError`` is raised when more
    than ``max_edges`` arrive — use :func:`transitive_closure` for
    anything larger. The number of root paths grows exponentially with
    depth in a dense DAG, so it is counted first (one pass in topological
    order) and held to the same ``max_edges`` bound before any path is
    built.
    """
    if nx is None:  # pragma: no cover
        raise ImportError("networkx unavailable")
    rows = edges.select("src", "dst").dropna().distinct().limit(max_edges + 1).collect()
    if len(rows) > max_edges:
        raise ValueError(
            f"driver_closure: distinct edges exceed max_edges={max_edges} — "
            "this is the collect-to-driver reference-parity path; use "
            "transitive_closure for graphs that don't fit the driver"
        )
    g = nx.DiGraph()
    g.add_nodes_from(n for r in rows for n in r)
    g.add_edges_from(r for r in rows if r[0] != r[1])
    pos = {n: i for i, n in enumerate(_greedy_order(g))}
    g.remove_edges_from([(u, v) for u, v in g.edges if pos[u] > pos[v]])
    order = list(nx.topological_sort(g))
    n_paths: dict = {}
    for n in order:
        n_paths[n] = sum(n_paths[u] for u in g.predecessors(n)) or 1
    total = sum(n_paths.values())
    if total > max_edges:
        raise ValueError(
            f"driver_closure: root paths exceed max_edges={max_edges} "
            f"({total} paths over {g.number_of_edges()} edges) — the graph is "
            "too dense for per-node path lists; use transitive_closure"
        )
    # every root-to-n path is a root-to-parent path extended by n; a root's
    # only path is itself
    paths: dict = {}
    for n in order:
        paths[n] = [p + [n] for u in g.predecessors(n) for p in paths[u]] or [[n]]
    return {
        n: {
            "ancestors": sorted(nx.ancestors(g, n)),
            "descendants": sorted(nx.descendants(g, n)),
            "parents": sorted(g.predecessors(n)),
            "children": sorted(g.successors(n)),
            "paths": sorted(paths[n]),
        }
        for n in g.nodes
    }


def _distinct_edges(edges: DataFrame) -> DataFrame:
    """The distinct ``src -> dst`` edges as ``s -> d``, checkpointed (every
    round scans them)."""
    return (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .distinct()
        .localCheckpoint()
    )


def _edge_nodes(e: DataFrame) -> DataFrame:
    """Every node that ends an edge of ``e``, once."""
    return (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )


def _with_outdeg(e: DataFrame) -> DataFrame:
    """``e`` with each source's out-degree ``outdeg``, checkpointed."""
    return (
        e.join(e.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg")), "s")
        .localCheckpoint()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """Distributed PageRank (simplified variant without dangling-mass
    redistribution: dangling nodes leak rank, so ranks sum to < 1 — the
    common relational formulation; documented, identical in the oracle).

    Engine-portable determinism: each edge contribution is computed in
    IEEE double (bit-deterministic given operands) then ROUNDed to
    ``SCORE_SCALE`` decimals and summed as DECIMAL(38,SCORE_SCALE) — decimal addition
    is associative, so distributed aggregation order cannot change the
    sum. Same per-iteration rounding on the DuckDB side reproduces ranks
    bit-for-bit.

    Shape at scale: per iteration one hash-shuffle join (ranks ⋈ edges on
    src) and one hash aggregation on dst — the standard Pregel-equivalent
    relational plan. Edges/nodes/outdeg are pinned with localCheckpoint
    (scanned every round); the rank recurrence itself stays lazy — with no
    per-round action there is nothing to recompute, and skipping the
    per-round materialization saves ``iterations`` barrier writes. The
    plan grows by one join and one aggregation per round, so very deep
    runs (>~20 rounds) pay in planning time.
    """
    dec = f"decimal(38,{SCORE_SCALE})"
    e = _distinct_edges(edges)
    nodes = _edge_nodes(e).localCheckpoint()
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(None).cast("double").alias("pr"))
    # F.round (HALF_UP), not Python round (half-even) — must match SQL ROUND
    base = F.round(F.lit((1.0 - DAMPING) / n), SCORE_SCALE).cast(dec)
    # outdeg rides ON the edge frame, attached once before the loop — the
    # former per-iteration join(outdeg) paid one SMJ per round for a
    # value that never changes (same operands per contribution, so ranks
    # are bit-identical)
    ed = _with_outdeg(e)
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), SCORE_SCALE).cast(dec).alias("pr"))
    for _ in range(iterations):
        contrib = (
            ranks.join(ed, ranks["node"] == ed["s"])
            .select(
                F.col("d").alias("node"),
                F.round(
                    F.col("pr").cast("double") * F.lit(DAMPING) / F.col("outdeg"), SCORE_SCALE
                ).cast(dec).alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (base + F.coalesce(F.col("s"), F.lit(0).cast(dec)))
                .cast(dec)
                .alias("pr"),
            )
        )
    return ranks.select("node", F.round(F.col("pr").cast("double"), 6).alias("pr"))


def sssp(
    edges: DataFrame,
    sources: list[int],
    rounds: int = 6,
) -> DataFrame:
    """Weighted single-source (or multi-source) shortest paths by bounded
    min-plus relaxation (Bellman-Ford rounds as join/agg — the relational
    Pregel plan): ``d_{i+1}(v) = min(d_i(v), min_u d_i(u) + w(u, v))``.

    Weights must be non-negative INTEGERS (quantize currencies/durations
    to cents/millis upstream): path costs are then exact integer sums and
    the min-reduction is order-invariant, so results are bit-identical at
    any parallelism — no decimal scaffolding, no float-sum ordering
    hazard. After ``rounds`` relaxations the result is exact for every
    shortest path of at most that many hops (the textbook bound); pass
    rounds >= |V|-1 for full convergence or early-exit on no change.

    Per round: one frontier-keyed join + one min aggregation, O(m) work;
    lineage cut per round. Returns (node, dist) for reached nodes.
    """
    e = (
        edges.select(
            F.col("src").alias("s"), F.col("dst").alias("d"),
            F.col("w").cast("bigint").alias("w"),
        )
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
        .localCheckpoint()
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(x), 0) for x in sources], "node bigint, dist bigint"
    ).localCheckpoint()
    for _ in range(rounds):
        relaxed = (
            dist.join(e, dist["node"] == e["s"])
            .select(F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        new = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        changed = (
            new.join(dist, ["node", "dist"], "left_anti")
        )
        dist = new
        if changed.isEmpty():
            break
    return dist


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with fully deterministic updates: every round each node adopts the
    most frequent label among its neighbors, ties broken by the SMALLEST
    label (argmax via ``max(struct(count, -label))`` — no RNG, no visit
    order). A fixed iteration count (no convergence test) keeps the result
    well-defined even on the oscillating bipartite cases synchronous LPA is
    known for.

    Per round: one neighbor-keyed join (labels ⋈ symmetrized edges) and two
    hash aggregations — the Pregel-equivalent relational plan, cost
    O(m) per round. Labels are checkpointed per round to cut lineage.

    Returns (node, community).
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    nodes = sym.select(F.col("a").alias("node")).distinct().localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        votes = sym.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        counts = votes.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        winner = (
            counts.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("label"))
        )
        # isolated nodes (none in a symmetrized edge graph, but keep the
        # operator total) retain their current label
        labels = (
            nodes.join(winner, "node", "left")
            .select("node", F.coalesce("label", "node").alias("label"))
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").alias("community"))


def bfs_distances(
    edges: DataFrame,
    sources: list[int],
    max_hops: int = 6,
) -> DataFrame:
    """Multi-source BFS hop distances, bounded at ``max_hops``.

    Frontier-expansion BSP: each round joins the current frontier against
    the edge set (one frontier-keyed shuffle), anti-joins already-visited
    nodes so every node is labeled with its FIRST (minimal) hop count, and
    terminates early when the frontier empties. The edge set is pinned with
    localCheckpoint (scanned every round); per-round frontiers are
    checkpointed to cut lineage. This is the relational Pregel shortest-hops
    plan — per-round cost is O(frontier ⋈ edges), never all-pairs.

    Returns (node, dist) for every node within ``max_hops`` of a source.
    """
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d")).distinct().localCheckpoint()
    spark = edges.sparkSession
    frontier = spark.createDataFrame(
        [(int(x), 0) for x in sources], "node bigint, dist int"
    ).localCheckpoint()
    visited = frontier
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("d").alias("node"), F.lit(hop).cast("int").alias("dist"))
            .distinct()
        )
        new = nxt.join(visited, "node", "left_anti").localCheckpoint()
        if new.isEmpty():
            break
        visited = visited.unionByName(new).localCheckpoint()
        frontier = new
    return visited


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count by degree-oriented wedge checking (the
    MPC-standard algorithm: orient each undirected edge from the
    (degree, id)-smaller endpoint to the larger, count wedges at the
    smaller endpoint, and close them against the oriented edge set).

    Orientation bounds per-node wedge fan-out by min-degree — the skew
    guard that makes triangle counting feasible on power-law graphs at
    100 TB (a raw wedge join on an unoriented hot node is quadratic in
    its degree; oriented, every node's fan-out is O(sqrt(m)) on average).

    Returns one row: n_nodes, n_edges, n_wedges, n_triangles.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    keyed = und.join(da, "a").join(db, "b")
    fwd = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.struct(F.col("deg_b").alias("deg"), F.col("b").alias("node")))
        .otherwise(F.struct(F.col("deg_a").alias("deg"), F.col("a").alias("node")))
        .alias("v"),
    ).localCheckpoint()
    e1 = oriented.select("u", F.col("v").alias("v1"))
    e2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    wedges = e1.join(e2, e1["u"] == e2["u2"]).where(F.col("v1") < F.col("v2"))
    closing = oriented.select(
        F.col("u").alias("cu"), F.col("v")["node"].alias("cv")
    )
    tris = wedges.join(
        closing,
        (F.col("v1")["node"] == F.col("cu")) & (F.col("v2")["node"] == F.col("cv")),
    )
    n_nodes = deg.count()
    n_edges = und.count()
    n_wedges = wedges.count()
    n_tris = tris.count()
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(n_nodes, n_edges, n_wedges, n_tris)],
        "n_nodes bigint, n_edges bigint, n_wedges bigint, n_triangles bigint",
    )


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
) -> DataFrame:
    """k-core of an undirected graph by synchronous peeling (Matula-Beck
    1983): each round drops every node whose CURRENT degree is < k, then
    recomputes degrees over the induced subgraph. A FIXED number of
    synchronous rounds (not run-to-convergence) keeps the computation
    bit-identical to an unrolled-CTE oracle; the paired pytest asserts the
    fixed budget reaches the true fixpoint on the catalog graph (one extra
    round changes nothing). Converged rounds exit early — a no-drop round
    leaves degrees unchanged, so later budgeted rounds are no-ops and the
    result is bit-identical; detection is one count() per round on the
    just-checkpointed frame.

    Scale: each round is two alive-set semi joins + one degree
    aggregation — all hash-partitioned on node ids, O(rounds·m) total;
    ``localCheckpoint`` per round truncates the lineage like the other
    BSP operators. Synchronous peeling converges in at most
    O(max-coreness) effective rounds.

    Returns (node BIGINT, core_deg BIGINT): the surviving nodes with
    their degree inside the k-core.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    # Early exit at the fixpoint (bit-identical: a round that drops no
    # edge leaves every degree unchanged, so the remaining budgeted
    # rounds are no-ops — the unrolled oracle reaches the same final
    # set). Detection is one count() on the just-checkpointed frame.
    cur = und
    prev = cur.count()
    for _ in range(rounds):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionAll(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
        )
        cur = (
            cur.join(deg.select(F.col("node").alias("a")), "a", "left_semi")
            .join(deg.select(F.col("node").alias("b")), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
        cnt = cur.count()
        if cnt == prev:
            break
        prev = cnt
    final_deg = (
        cur.select(F.col("a").alias("node"))
        .unionAll(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
    )
    return final_deg


def hits(
    edges: DataFrame,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) with engine-portable
    determinism: authority(d) = sum of hub scores over in-edges, hub(s) =
    sum of authority scores over out-edges, each vector L1-normalized per
    half-step. Scores ride DECIMAL(38,SCORE_SCALE) (exact distributed sums); the
    only floats are the normalizing division ROUND(raw/norm, SCORE_SCALE) — one
    fixed-order IEEE op on decimal-backed operands, the q_pagerank
    convention, reproducible on any engine that rounds half-up.

    Returns (kind 'auth'|'hub', node STRING, score DOUBLE rounded 6).

    Shape at scale: per half-step one src- or dst-keyed join + hash agg
    (the Pregel-equivalent plan) plus a 1-row broadcast for the L1 norm;
    edges pinned with localCheckpoint, the score recurrence stays lazy.
    """
    dec = f"decimal(38,{SCORE_SCALE})"
    e = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .distinct()
        .localCheckpoint()
    )
    h = e.select(F.col("s").alias("node")).distinct().select(
        "node", F.lit(1).cast(dec).alias("score")
    )
    a = None
    for _ in range(HITS_ITERATIONS):
        # each raw frame has TWO consumers (its L1 norm and the next
        # half-step's join): without a materialization barrier the lazy
        # recurrence re-executes the whole lineage per consumer —
        # exponentially across rounds (observed: 285 shuffles for 3
        # rounds). localCheckpoint keeps it at 2 shuffles per half-step.
        araw = (
            h.join(e, h["node"] == e["s"])
            .groupBy(F.col("d").alias("anode"))
            .agg(F.sum("score").cast(dec).alias("raw"))
            .localCheckpoint()
        )
        anorm = araw.agg(F.sum("raw").cast(dec).alias("norm"))
        a = araw.crossJoin(F.broadcast(anorm)).select(
            F.col("anode").alias("node"),
            F.round(F.col("raw").cast("double") / F.col("norm").cast("double"), SCORE_SCALE)
            .cast(dec)
            .alias("score"),
        )
        hraw = (
            a.join(e, a["node"] == e["d"])
            .groupBy(F.col("s").alias("hnode"))
            .agg(F.sum("score").cast(dec).alias("raw"))
            .localCheckpoint()
        )
        hnorm = hraw.agg(F.sum("raw").cast(dec).alias("norm"))
        h = hraw.crossJoin(F.broadcast(hnorm)).select(
            F.col("hnode").alias("node"),
            F.round(F.col("raw").cast("double") / F.col("norm").cast("double"), SCORE_SCALE)
            .cast(dec)
            .alias("score"),
        )
    auth = a.select(
        F.lit("auth").alias("kind"),
        F.col("node").cast("string").alias("node"),
        F.round(F.col("score").cast("double"), 6).alias("score"),
    )
    hub = h.select(
        F.lit("hub").alias("kind"),
        F.col("node").cast("string").alias("node"),
        F.round(F.col("score").cast("double"), 6).alias("score"),
    )
    return auth.unionByName(hub)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set —
    the recommendation / related-entity staple): identical to
    :func:`pagerank` except the teleport mass lands only on seeds,
    pr0 = 1/|S| on seeds else 0. Same decimal determinism convention
    (per-edge contributions ROUNDed in IEEE double then summed as
    DECIMAL(38,SCORE_SCALE)); same simplified no-dangling-redistribution
    variant, documented in the oracle too.

    ``seeds`` is a 1-column frame of node ids. Shape at scale: the seed
    flag rides as a broadcast left-join; per iteration one src-keyed
    join + one dst-keyed agg, recurrence lazy (single consumer per round).
    """
    dec = f"decimal(38,{SCORE_SCALE})"
    e = _distinct_edges(edges)
    nodes = _edge_nodes(e)
    sd = seeds.toDF("node").distinct()
    nodes = nodes.join(
        F.broadcast(sd.select("node", F.lit(1).alias("is_seed"))), "node", "left"
    ).select("node", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
    nodes = nodes.localCheckpoint()
    ns = nodes.where(F.col("is_seed") == 1).count()
    if ns == 0:
        return nodes.select("node", F.lit(None).cast("double").alias("ppr"))
    # outdeg attached to the edge frame once (the q_pagerank hoist) —
    # one SMJ per iteration removed, same contribution operands
    ed = _with_outdeg(e)
    zero = F.lit(0).cast(dec)
    seed_mass = F.round(F.lit(1.0 / ns), SCORE_SCALE).cast(dec)
    base_mass = F.round(F.lit((1.0 - DAMPING) / ns), SCORE_SCALE).cast(dec)
    ranks = nodes.select(
        "node", "is_seed",
        F.when(F.col("is_seed") == 1, seed_mass).otherwise(zero).alias("pr"),
    )
    for _ in range(PPR_ITERATIONS):
        contrib = (
            ranks.join(ed, ranks["node"] == ed["s"])
            .select(
                F.col("d").alias("node"),
                F.round(
                    F.col("pr").cast("double") * F.lit(DAMPING) / F.col("outdeg"),
                    SCORE_SCALE,
                ).cast(dec).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast(dec).alias("csum"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node", "is_seed",
                (
                    F.when(F.col("is_seed") == 1, base_mass).otherwise(zero)
                    + F.coalesce(F.col("csum"), zero)
                ).cast(dec).alias("pr"),
            )
        )
    return ranks.select("node", F.round(F.col("pr").cast("double"), 6).alias("ppr"))


def k_truss(
    edges: DataFrame,
) -> DataFrame:
    """k-truss of an undirected graph by synchronous support peeling
    (Cohen 2008, "Trusses: cohesive subgraphs for social network
    analysis" — public algorithm): each round computes every edge's
    triangle SUPPORT inside the current subgraph and drops edges with
    support < k-2, the edge-cohesion analogue of k-core's node peeling
    (every k-truss edge sits in >= k-2 triangles of the truss). A FIXED
    round budget keeps the computation bit-identical to an unrolled-CTE
    oracle; the paired pytest asserts the budget reaches the true
    fixpoint (one extra round changes nothing). Converged rounds exit
    early (a no-drop round leaves every later budgeted round a no-op, so
    the result is unchanged — the detection is one count() on the
    just-checkpointed frame per round).

    Scale: per round one wedge self-join at the canonical-smaller
    endpoint + one closing semi join (the q_triangle_count shape, so hot
    nodes fan out O(sqrt(m)) when degree-oriented inputs are used) and
    one 3-projection support rollup keyed on edges; localCheckpoint per
    round truncates lineage. Edges with zero triangles drop in round 1
    (support 0 < k-2 for k >= 3).

    Returns (a, b, support) — the truss edges with their support inside
    the FINAL subgraph, canonical a < b.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def support(e: DataFrame) -> DataFrame:
        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
        wedge = e1.join(e2, "x").where(F.col("y") < F.col("z"))
        tri = wedge.join(
            e.select(F.col("a").alias("y"), F.col("b").alias("z")),
            ["y", "z"],
            "left_semi",
        )
        return (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        )

    # Early exit at the fixpoint (bit-identical: a round that drops no
    # edge leaves support values unchanged, so every remaining budgeted
    # round is a no-op — the unrolled oracle computes the same final
    # set). The no-drop round's support values ARE the final subgraph's
    # supports, so the converged round doubles as the output support
    # pass instead of recomputing it once more after the loop.
    cur = und
    prev = cur.count()
    cur_sup = None
    for _ in range(KTRUSS_ROUNDS):
        nxt = (
            cur.join(support(cur), ["a", "b"])
            .where(F.col("support") >= KTRUSS_K - 2)
            .localCheckpoint()
        )
        cnt = nxt.count()
        if cnt == prev:
            cur_sup = nxt
            break
        cur = nxt.select("a", "b")
        prev = cnt
    # Invariant guard (ADVICE r6): every returned edge must satisfy the
    # k-truss bound support >= k-2. A fixed round budget that under-runs
    # the true fixpoint on new data would otherwise emit non-truss edges
    # SILENTLY — and the unrolled oracle mirrors the same budget, so the
    # correctness gate could not see it either. raise_error inside the
    # final projection costs zero extra jobs and fires only on violation.
    sup = F.coalesce("support", F.lit(0)).cast("bigint")
    guarded = F.when(sup >= KTRUSS_K - 2, sup).otherwise(
        F.raise_error(
            F.lit(
                f"k_truss: round budget ({KTRUSS_ROUNDS}) under-ran the fixpoint — "
                f"edge with support < {KTRUSS_K - 2} in the output; raise `rounds`"
            )
        ).cast("bigint")
    )
    if cur_sup is not None:
        # converged inside the budget: every edge survived the no-drop
        # round's inner support join, so the guard passes by construction
        # but stays in the plan (same output contract as the slow path)
        return cur_sup.select("a", "b", guarded.alias("support"))
    return cur.join(support(cur), ["a", "b"], "left").select(
        "a", "b", guarded.alias("support")
    )


def fwbw_scc(
    edges: DataFrame,
    max_rounds: int = 12,
    bfs_max: int = 32,
) -> DataFrame:
    """Strongly connected components by FW-BW pivot coloring with
    trimming (Fleischer/Hendrickson/Pinar 2000; the Hong et al. 2013
    trim extension) — the UNBOUNDED-graph SCC path the exact
    mutual-reachability formulation (``q_scc``) documents.

    Per outer round, every open subproblem ("part") advances in parallel:

    1. **Trim**: a node with no in-edge or no out-edge inside its part is
       its own singleton SCC — peeled iteratively to fixpoint (each peel
       exposes the next layer; disposes of entire DAG regions without
       burning pivot rounds on trivial SCCs).
    2. **Pivot** = min node id per part (deterministic).
    3. **FW/BW reachability** from the pivot inside the part — frontier
       BFS keyed on (part, node), every part simultaneously; rounds
       bounded by ``bfs_max`` with amortized fixpoint checks.
    4. **SCC = FW ∩ BW**, labeled with its MIN member (matching the
       exact formulation's labels). Remainder splits into FW-only /
       BW-only / neither — three independent subproblems encoded as
       ``part*4 + 2·inFW + inBW`` (no SCC edge crosses these splits).

    SCALE: state is O(V) rows and every join is keyed on (part, node) —
    pair volume per round is O(E), never the closure's O(sum comp²)
    reachability pairs; expected rounds are O(log V) on real graphs
    (Fleischer et al.'s divide-and-conquer depth). Both budgets raise on
    exhaustion rather than return partial labels (the k_truss/
    connected_components convention). Part ids grow 2 bits per round —
    max_rounds ≤ 30 keeps them in BIGINT.

    Returns (node, scc) — scc = min node id of the component.
    """
    e0 = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e0.select(F.col("s").alias("node"))
        .unionByName(e0.select(F.col("d").alias("node")))
        .distinct()
    )
    active = nodes.select("node", F.lit(0).cast("bigint").alias("part")).localCheckpoint()
    done: list[DataFrame] = []

    def _bfs(seed: DataFrame, pe: DataFrame, fwd: bool) -> DataFrame:
        """Reachable (part, node) set from seed inside each part."""
        step_src, step_dst = ("s", "d") if fwd else ("d", "s")
        # name-based USING joins: checkpointed frames share attribute ids
        # with their ancestors, so expr-id column refs trip the ambiguous-
        # self-join check — rename once, join by name.
        step = pe.select(
            "part",
            F.col(step_src).alias("node"),
            F.col(step_dst).alias("__to"),
        )
        visited = seed.localCheckpoint()
        for it in range(bfs_max):
            grown = (
                visited.join(step, ["part", "node"])
                .select("part", F.col("__to").alias("node"))
                .unionByName(visited)
                .distinct()
                .localCheckpoint()
            )
            if (it + 1) % 2 == 0 or it == bfs_max - 1:
                if grown.exceptAll(visited).isEmpty():
                    return grown
            visited = grown
        raise RuntimeError(
            f"fwbw_scc: BFS budget ({bfs_max}) exhausted before the "
            "reachability fixpoint — raise bfs_max"
        )

    def _part_edges(act: DataFrame) -> DataFrame:
        """Edge set restricted to endpoints active in the SAME part."""
        al = act.select(F.col("node").alias("s"), F.col("part"))
        ar = act.select(F.col("node").alias("d"), F.col("part").alias("__pd"))
        return (
            e0.join(al, "s")
            .join(ar, "d")
            .where(F.col("part") == F.col("__pd"))
            .select("part", "s", "d")
            .localCheckpoint()
        )

    for _ in range(max_rounds):
        if active.isEmpty():
            break
        # iterative TRIM to fixpoint: each peel of degree-deficient nodes
        # (no in-edge or no out-edge inside the part → singleton SCC)
        # exposes the next layer; O(peel depth) cheap keyed rounds — this
        # is Hong et al.'s trim loop, and it disposes of entire DAGs
        # without spending a single pivot BFS.
        pe = _part_edges(active)
        for _t in range(64):
            has_out = pe.select("part", F.col("s").alias("node")).distinct()
            has_in = pe.select("part", F.col("d").alias("node")).distinct()
            keep = active.join(has_out, ["part", "node"], "left_semi").join(
                has_in, ["part", "node"], "left_semi"
            )
            trimmed = active.join(
                keep.select("part", "node"), ["part", "node"], "left_anti"
            ).localCheckpoint()
            if trimmed.isEmpty():
                break
            done.append(trimmed.select("node", F.col("node").alias("scc")))
            active = keep.localCheckpoint()
            if active.isEmpty():
                break
            pe = _part_edges(active)
        else:
            raise RuntimeError(
                "fwbw_scc: trim budget (64) exhausted"
            )
        if active.isEmpty():
            break
        piv = active.groupBy("part").agg(F.min("node").alias("node")).select(
            "part", "node"
        )
        fw = _bfs(piv, pe, fwd=True)
        bw = _bfs(piv, pe, fwd=False)
        scc_members = fw.join(bw, ["part", "node"], "left_semi").localCheckpoint()
        labels = scc_members.groupBy("part").agg(F.min("node").alias("scc"))
        done.append(scc_members.join(labels, "part").select("node", "scc"))
        rem = active.join(scc_members, ["part", "node"], "left_anti")
        fflag = fw.select("part", "node", F.lit(1).alias("__f"))
        bflag = bw.select("part", "node", F.lit(2).alias("__b"))
        active = (
            rem.join(fflag, ["part", "node"], "left")
            .join(bflag, ["part", "node"], "left")
            .select(
                "node",
                (
                    F.col("part") * 4
                    + F.coalesce(F.col("__f"), F.lit(0))
                    + F.coalesce(F.col("__b"), F.lit(0))
                ).cast("bigint").alias("part"),
            )
            .localCheckpoint()
        )
    else:
        if not active.isEmpty():
            raise RuntimeError(
                f"fwbw_scc: {max_rounds} pivot rounds exhausted with nodes "
                "still unassigned — raise max_rounds"
            )
    if not done:
        # empty edge frame after self-loop/distinct filtering: no nodes,
        # no SCCs — return an empty (node, scc) frame with the input's
        # node type instead of IndexError (round-7 ADVICE).
        return nodes.select("node", F.col("node").alias("scc"))
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def pairwise_hop_distances(
    edges: DataFrame,
    max_hops: int = 8,
    sources: DataFrame | None = None,
) -> DataFrame:
    """All-pairs hop distances by per-source frontier BSP — the frontier is
    keyed on (source, node), so one round still costs one shuffle however
    many sources run concurrently (the relational multi-BFS plan; Brandes-
    style centrality preprocessing).

    ``sources``: optional one-column frame of source nodes — the LANDMARK
    knob the scale note below describes, made explicit (round 8): k
    landmark sources make the same plan a k-BFS with pair frames
    O(k * reachable-set) instead of O(n * reachable-set). Default None =
    every node is a source (the original all-pairs behavior).

    SCALE: the pair frame is O(sources * reachable-set) — meant for
    BOUNDED node sets (the catalog's 50-node projection graphs) or
    landmark subsets at cluster scale via ``sources``.
    Per round: one frontier-keyed join + a first-visit anti-join, both on
    the (source, node) composite key; early exit on an empty frontier.

    Returns (source, node, dist) with dist >= 1 for every reached pair
    (self-distances excluded).
    """
    e = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint()
    )
    seed_nodes = (
        sources.toDF("node").distinct()
        if sources is not None
        else e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )
    frontier = seed_nodes.select(
        F.col("node").alias("source"), "node", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint()
    visited = frontier
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["s"])
            .select("source", F.col("d").alias("node"),
                    F.lit(hop).cast("int").alias("dist"))
            .distinct()
        )
        new = nxt.join(visited, ["source", "node"], "left_anti").localCheckpoint()
        if new.isEmpty():
            break
        visited = visited.unionByName(new).localCheckpoint()
        frontier = new
    return visited.where(F.col("dist") > 0)


def betweenness_centrality(
    edges: DataFrame,
    max_levels: int = 6,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Exact betweenness centrality (Brandes 2001) as level-synchronous
    relational BSP over an UNDIRECTED graph given as a symmetrized edge
    list — forward sweep counts shortest paths per (source, node) pair,
    backward sweep accumulates dependencies level by level:

        sigma(s, v)  = sum over BFS-tree predecessors u of sigma(s, u)
        delta(s, u)  = sum over successors v of
                         sigma(s,u)/sigma(s,v) * (1 + delta(s,v))
        bc(v)        = sum over s != v of delta(s, v) / 2   (undirected)

    Each dependency term is rounded to DECIMAL(28,9) BEFORE the sum, so
    every aggregation is order-free and the result is bit-stable at any
    parallelism (the repo's decimal-contribution rule; sigma ratios are
    single IEEE divisions of exact BIGINT path counts).

    SCALE: pair frames are O(n * reached) like pairwise_hop_distances —
    exact betweenness IS quadratic in reachable pairs (textbook bound);
    run on bounded projection graphs, or sample sources (the
    Brandes-Pich estimator: the same plan with a source predicate).
    ``max_levels`` bounds both sweeps; levels past the true eccentricity
    are empty joins (no-ops). Raises if the deepest level is non-empty
    (an under-run would silently truncate dependencies — the k-truss
    invariant-guard rule).

    Returns (node, bc) with bc as DECIMAL(38,9) exact pre-halving sums;
    callers round/halve at the output boundary.
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = e.select(F.col("u").alias("node")).distinct().localCheckpoint()
    # Brandes-Pich estimator: restrict the source set (a (node) frame) and
    # scale the result by n/|S| at the caller — same plan, k-BFS cost
    seeds = nodes if sources is None else nodes.join(sources, "node", "semi")
    # forward: per-level shortest-path counts
    sig = [
        seeds.select(
            F.col("node").alias("s"), F.col("node").alias("v"),
            F.lit(1).cast("bigint").alias("sig"),
        ).localCheckpoint()
    ]
    visited = sig[0].select("s", "v").localCheckpoint()
    for _ in range(1, max_levels + 1):
        prev = sig[-1]
        nxt = (
            prev.join(e, prev["v"] == e["u"])
            .select("s", e["v"].alias("w"), "sig")
            .join(
                visited.selectExpr("s", "v AS w"), ["s", "w"], "left_anti"
            )
            .groupBy("s", F.col("w").alias("v"))
            .agg(F.sum("sig").cast("bigint").alias("sig"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            sig.append(nxt)
            break
        sig.append(nxt)
        visited = visited.unionByName(nxt.select("s", "v")).localCheckpoint()
    else:
        if not sig[-1].isEmpty():
            raise RuntimeError(
                f"betweenness level budget {max_levels} exhausted with a "
                "non-empty frontier — dependencies would be silently "
                "truncated; raise max_levels"
            )
    # backward: dependency accumulation, deepest level first
    depth = len(sig) - 1
    delta = sig[depth].select(
        "s", "v", F.lit(0).cast("decimal(28,9)").alias("dlt")
    )
    acc = None
    for lvl in range(depth - 1, 0, -1):
        cur, nxt_sig = sig[lvl], sig[lvl + 1]
        term = F.round(
            F.col("sig_u").cast("double") / F.col("sig_v").cast("double")
            * (F.lit(1.0) + F.coalesce(F.col("dlt"), F.lit(0)).cast("double")),
            9,
        ).cast("decimal(28,9)")
        delta = (
            cur.selectExpr("s", "v AS u", "sig AS sig_u")
            .join(e, "u")
            .join(
                nxt_sig.selectExpr("s", "v", "sig AS sig_v"), ["s", "v"]
            )
            .join(delta, ["s", "v"], "left")
            .select("s", F.col("u").alias("v"), term.alias("t"))
            .groupBy("s", "v")
            .agg(F.sum("t").alias("dlt"))
            .localCheckpoint()
        )
        acc = delta if acc is None else acc.unionByName(delta)
    if acc is None:  # degenerate: no interior levels
        return nodes.select("node", F.lit(0).cast("decimal(38,9)").alias("bc"))
    bc = acc.groupBy(F.col("v").alias("node")).agg(F.sum("dlt").alias("bc"))
    return nodes.join(bc, "node", "left").select(
        "node", F.coalesce(F.col("bc"), F.lit(0)).cast("decimal(38,9)").alias("bc")
    )
