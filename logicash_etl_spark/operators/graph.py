"""Iterative graph operators — connected components for dedup clusters.

Near-dup detection yields PAIRS; deduplication needs CLUSTERS (keep
one canonical doc per component of the similarity graph). Spark 4 does
ship a recursive CTE (pinned by queries/tpch_shapes.py:
recursive_cte_reachability), but its UNION ALL recursion enumerates
WALKS — on a cyclic similarity graph that's edge^depth rows before the
final dedup, where the loops here carry frontier/star state only. So
these operators remain the engine's scalable *iterative* path, with
two execution strategies picked adaptively:

- **driver union-find** when the edge list fits on the driver
  (near-dup edge lists are orders of magnitude smaller than the corpus
  that produced them) — one pass, zero shuffle rounds;
- **large-star/small-star** (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC 2014) above the threshold: alternating
  min-propagation rounds that contract every component to a star in
  O(log n) rounds even on pathological chain graphs — unlike plain
  label propagation, whose round count is the graph DIAMETER. Each
  round is two shuffles over the (shrinking) edge set; the driver only
  ever sees one checksum per round, never data.

Convergence is CHECKED, not assumed: the loop compares a per-round
(count, hash-sum) checksum and raises if the cap is hit while the
edge set is still moving — an unconverged result silently over-splits
components, which for dedup means keeping near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Superstep counts and integer scales of the catalog's graph queries;
# their unrolled-CTE oracles in queries/tpch_shapes.py read the same
# constants, so an operator and its oracle cannot drift apart.
PAGERANK_ITERATIONS, PAGERANK_SCALE, PAGERANK_DAMPING_PCT = 3, 10**9, 85
HITS_ITERATIONS, HITS_SCALE = 2, 10**6
LPA_ITERATIONS = 3
BFS_MAX_HOPS = 3
SSSP_ITERATIONS = 4
KCORE_K, KCORE_ROUNDS = 4, 3


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edges -> canonical orientation (u > v), self-loops
    dropped, deduped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(u): connect every strictly-larger neighbor of u to
    m = min(N(u) + {u}). Emits (v, m) for v in N(u), v > u."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mn = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mn, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(u): orient edges toward the smaller endpoint, then
    connect all of u's (smaller) neighbors and u itself to
    m = min(N(u) + {u}). Output stays canonically oriented (u > v)."""
    o = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    mn = o.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (
        o.join(mn, on="u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mn.select("u", F.col("m").alias("v"))
    return (
        nbrs.unionByName(centers)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple:
    """Cheap fixpoint detector: (row count, sum of 64-bit row hashes).
    Equality across a large-star+small-star round means the edge set
    is a stable star forest (hash-collision probability negligible)."""
    # decimal sum: a long sum of 64-bit hashes overflows under ANSI
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(
    edges: DataFrame,
    max_iterations: int = 30,
    num_partitions: int | None = None,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """(id_a, id_b) undirected edges -> (id, component) with component =
    min vertex id in the component. Isolated vertices don't appear
    (callers union them back with component = own id); vertices seen
    only in self-loops map to themselves.

    Adaptive execution, same principle as the broadcast-join
    threshold: when the edge list fits on the driver
    (<= ``driver_threshold`` edges, ~16 bytes each -> ~32 MB at the
    default) a single-pass union-find beats any number of distributed
    rounds. Above it, alternating large-star/small-star contracts
    every component to a star in O(log n) rounds — including
    adversarial long chains, where plain label propagation needs
    diameter rounds.

    ``num_partitions`` sizes the per-round shuffles of the distributed
    path: size to ~edges/1e6 on a cluster.

    Raises ``RuntimeError`` if ``max_iterations`` rounds pass without
    reaching the fixpoint (an unconverged result would silently
    over-split components).
    """
    # edges may be an expensive pipeline (e.g. MinHash-LSH): materialize
    # once — both strategies consume the frame more than once
    edges = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).persist()
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        out = _union_find_components(edges)
        edges.unpersist()
        return out

    # vertex universe up front: star contraction drops self-loop-only
    # vertices, and roots must label themselves. localCheckpoint (not
    # persist): severs lineage so the loop below can't re-trigger the
    # upstream pair pipeline, and lets us release `edges` immediately.
    vertices = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )

    cur = _canonical(edges)
    if num_partitions:
        cur = cur.repartition(num_partitions, "u")
    # ITERATION RULE: checkpoint every round. Each star references its
    # input 2-3x, so a persist-only loop grows the logical plan
    # exponentially and Catalyst analysis — not the data — becomes the
    # bottleneck within ~10 rounds. localCheckpoint materializes to
    # executor storage and truncates the plan to a leaf.
    cur = cur.localCheckpoint()
    edges.unpersist()
    chk = _checksum(cur)
    converged = chk[0] == 0  # no non-self-loop edges: nothing to contract
    for _ in range(max_iterations):
        if converged:
            break
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        nchk = _checksum(nxt)
        cur = nxt
        if nchk == chk:
            converged = True
        chk = nchk
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "large-star/small-star rounds — raise max_iterations "
            f"(edge set still moving at checksum {chk})"
        )

    # fixpoint is a star forest: every non-root appears once as u with
    # v = component root; roots and isolated/self-loop vertices label
    # themselves via the left join
    star = cur.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        vertices.join(star, on="id", how="left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def _union_find_components(edges: DataFrame) -> DataFrame:
    """Small-graph path: collect (u, v) longs, path-compressed
    union-find on the driver, one createDataFrame back. Output schema
    matches the distributed path: (id, component)."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r.u), find(r.v)
        if ra != rb:
            # min-id root so component == min vertex id, as distributed path
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out = [(x, find(x)) for x in list(parent)]
    spark = edges.sparkSession
    id_type = dict(edges.dtypes)["u"]
    if not out:
        return spark.createDataFrame([], f"id {id_type}, component {id_type}")
    return spark.createDataFrame(out, f"id {id_type}, component {id_type}")


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Near-dup pairs + the full id universe -> (id, cluster_id,
    is_canonical): every document assigned a cluster (singletons are
    their own), canonical = min id in cluster — the keep-set for
    cluster-level dedup."""
    comps = connected_components(pairs, num_partitions=num_partitions)
    out = (
        all_ids.select(F.col(id_col).alias("id"))
        .join(comps, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", "id").alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )
    return out


def pagerank_int(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """PageRank power iteration in FIXED-POINT INTEGER arithmetic,
    ``PAGERANK_ITERATIONS`` rounds.

    ``nodes``: one column ``node``; ``edges``: directed, deduped
    ``(src, dst)``. Returns ``(node, rank)`` with ranks scaled by
    ``scale`` = 10^9 (initial rank = ``scale`` = 1.0), damping 85%.

    Why integers: float PageRank is not reproducible across engines —
    summation order changes the low bits, so an oracle hash can never
    match. Here every step is floor division and integer add
    (rank' = (100-d)%*scale//100 + d*sum(rank_u//outdeg_u)//100),
    which is EXACTLY associative and engine-portable: DuckDB unrolls
    the same iterations with `//` and matches bit-for-bit. Rank mass
    from dangling nodes (outdeg 0) is dropped, not redistributed —
    the simplest variant, applied identically on both sides.

    Scale: each iteration is one join of ranks against the edge list
    (shuffle on src) plus a groupBy dst — the standard Pregel-style
    superstep; nothing ever collects to the driver. Each superstep
    nests 3 joins into the logical plan. The few supersteps run as
    ONE action, where Spark's ReusedExchange dedups the identical edge
    subtree (a derived ``edges``: the trade graph is a 6-way TPC-H
    join) across supersteps, so nothing is checkpointed."""
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    scale, damping_pct = PAGERANK_SCALE, PAGERANK_DAMPING_PCT
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select("node", F.lit(scale).cast("bigint").alias("rank"))
    for _ in range(PAGERANK_ITERATIONS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("c"),
            )
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_pct} * coalesce(s, CAST(0 AS BIGINT))) div 100"
                )
            ).cast("bigint").alias("rank"),
        )
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts via DEGREE-ORDERED edge orientation
    (the compact-forward algorithm; Schank & Wagner 2005, the same
    orientation Cohen's MapReduce triangle paper and GraphFrames use).

    Input: ``(src, dst)`` edges in any orientation (self-loops dropped, duplicates
    collapsed; treated as UNDIRECTED). Output: ``(id, deg, tri)`` —
    undirected degree and the number of distinct triangles through
    each vertex, for every vertex incident to >= 1 edge.

    Why orientation matters at scale: the naive wedge join
    (edges ⋈ edges on the shared endpoint) fans out quadratically in
    the max degree — one celebrity vertex with 10M neighbors makes
    10^14 wedges. Orienting every edge from the (degree, id)-smaller
    endpoint to the larger caps every vertex's out-degree at O(sqrt(E))
    [each oriented edge points to a vertex of >= its own degree], so
    the wedge join generates at most E^{3/2} candidates TOTAL — the
    known optimal bound — regardless of skew. Each triangle is then
    found exactly once (at its orientation-smallest vertex) and
    credited to all three corners by an explode + groupBy count.

    The per-vertex result is orientation-invariant, so an oracle may
    enumerate triangles with the simple id-canonical a<b<c join —
    bit-identical output, different join fan-out.

    The canonical edge frame feeds the degree count, both wedge
    sides, and the closing semi-join — five references in ONE action,
    which Spark's ReusedExchange dedups for free (measured: an eager
    localCheckpoint here is ~10% SLOWER — it adds a full extra
    evaluation to save recomputes that were never happening)."""
    und = _canonical(edges.select(F.col("src").alias("u"), F.col("dst").alias("v")))
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    # orient: (deg, id)-smaller endpoint -> larger. The degree join is
    # a broadcast at dimension scale; at web scale it's one shuffle on
    # the edge key — still linear in E.
    with_deg = (
        sym.join(deg.withColumnRenamed("u", "u_").withColumnRenamed("deg", "du"),
                 F.col("u") == F.col("u_"))
        .join(deg.withColumnRenamed("u", "v_").withColumnRenamed("deg", "dv"),
              F.col("v") == F.col("v_"))
        .select("u", "v", "du", "dv")
    )
    oriented = with_deg.filter(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v", "dv")
    # wedges at the orientation-smallest corner: out-neighbors b, c of
    # a with b before c in the (deg, id) order; close with edge (b, c)
    o1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"),
                         F.col("dv").alias("db"))
    o2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"),
                         F.col("dv").alias("dc"))
    wedges = o1.join(o2, on="a").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    ).select("a", "b", "c")
    closer = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tris = wedges.join(closer, on=["b", "c"], how="left_semi")
    per_vertex = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("u"))
        .groupBy("u")
        .agg(F.count("*").alias("tri"))
    )
    return (
        deg.join(per_vertex, on="u", how="left")
        .select(
            F.col("u").alias("id"),
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce("tri", F.lit(0)).cast("bigint").alias("tri"),
        )
    )


def bfs_hops(nodes: DataFrame, edges: DataFrame, source) -> DataFrame:
    """Breadth-first hop distances from ``source`` over DIRECTED
    ``(src, dst)`` edges, bounded at ``BFS_MAX_HOPS`` supersteps.

    Returns ``(node, hops)`` for every node in ``nodes``: 0 for the
    source, the minimum edge count for nodes reached within the bound,
    -1 for the rest (a sentinel, not NULL, so the schema stays
    non-nullable-friendly and the oracle twin is a plain COALESCE).

    Frontier-style Pregel iteration: each superstep joins the CURRENT
    frontier (only the just-discovered nodes, never the full visited
    set) against the edge list — shuffle bounded by frontier x degree
    — then anti-joins the visited set to keep first discoveries. The
    visited set grows monotonically and is the only state carried
    between rounds. The fixed hop bound makes the result exactly
    reproducible as an unrolled SQL CTE chain — hop counts are
    integers, so there is no float drift anywhere. The few hops run as
    ONE action, where ReusedExchange dedups the edge subtree, so
    nothing is checkpointed."""
    visited = nodes.filter(F.col("node") == source).select(
        "node", F.lit(0).cast("int").alias("hops")
    )
    frontier = visited.select("node")
    for h in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nxt.join(visited, on="node", how="left_anti").select(
            "node", F.lit(h).cast("int").alias("hops")
        )
        visited = visited.unionByName(new)
        frontier = new.select("node")
    return (
        nodes.join(visited, on="node", how="left")
        .select(
            "node", F.coalesce("hops", F.lit(-1)).cast("int").alias("hops")
        )
    )


def label_propagation(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Weighted SYNCHRONOUS label propagation (Raghavan et al. 2007,
    determinized), ``LPA_ITERATIONS`` rounds: labels init to the node
    id; each round every node
    adopts the label carrying the max total incident weight among its
    in-neighbors' PREVIOUS-round labels, ties to the smallest label;
    isolated nodes keep theirs. Communities = the fixed labels.

    Why this variant: classic async LPA is order-dependent (results
    vary run to run — useless for a hash-checked engine). Synchronous
    updates + integer weights + the (weight desc, label asc) argmax
    make every round a pure function of the previous one, so a fixed
    iteration count is exactly reproducible in SQL (the pagerank_int
    playbook; ``nation_trade_communities`` hash-matches an
    unrolled-CTE oracle).

    Scale: each round is one join of labels against the edge list
    (shuffle on src) + a groupBy (dst, label) + a per-NODE window
    over its candidate labels (bounded by degree, never graph-sized).
    A few rounds run as ONE action, where ReusedExchange dedups the
    edge subtree across rounds, so nothing is checkpointed.

    ``edges``: (src, dst, w) directed — symmetrize first for
    undirected community semantics."""
    from pyspark.sql import Window

    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(LPA_ITERATIONS):
        contrib = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.sum("w").alias("__ws"))
        )
        w_ = Window.partitionBy("node").orderBy(
            F.col("__ws").desc(), F.col("label").asc()
        )
        best = (
            contrib.withColumn("__r", F.row_number().over(w_))
            .filter(F.col("__r") == 1)
            .select("node", F.col("label").alias("__new"))
        )
        labels = labels.join(best, "node", "left").select(
            "node", F.coalesce("__new", "label").alias("label")
        )
    return labels


def _peel_round(alive: DataFrame, k: int) -> DataFrame:
    """One k-core peel: keep the edges whose BOTH endpoints have
    undirected degree >= k in ``alive``. Degree via a map-side-
    combinable groupBy over the symmetrized edge list; the filter is
    two semi-joins against the kept-vertex set — keyed shuffles only
    (tests/test_plan_contracts.py pins this shape)."""
    sym = alive.unionByName(
        alive.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    keep = (
        sym.groupBy("u")
        .agg(F.count("*").alias("__deg"))
        .filter(F.col("__deg") >= k)
        .select("u")
    )
    return (
        alive.join(keep, on="u", how="left_semi")
        .join(keep.withColumnRenamed("u", "v"), on="v", how="left_semi")
        .select("u", "v")
    )


def k_core(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """k-core decomposition by iterative degree peeling: each round
    drops every vertex whose UNDIRECTED degree in the current
    subgraph is < k = ``KCORE_K`` (and every edge touching one), for a
    FIXED number of ``KCORE_ROUNDS`` rounds. Returns ``(node, deg, in_core)`` for every node in
    ``nodes``: degree within the surviving subgraph (0 when peeled or
    isolated) and whether that degree still clears k.

    Why it matters for curation: the k-core is the standard dense-
    subgraph primitive — in a link/citation/interaction graph, spam
    farms and bot rings live in high cores while organic long-tail
    pages peel out early; conversely a document that survives peeling
    has k independent corroborating neighbors. Peeling is monotone
    (vertices only ever leave), so a fixed round count is a sound
    UNDER-approximation of full convergence and — because each round
    is a pure function of the last — exactly reproducible as an
    unrolled SQL CTE chain, integer degrees throughout.

    Scale: each round is one symmetrized groupBy (degree count,
    map-side combinable) and two semi-joins of the edge list against
    the kept-vertex set — all keyed shuffles on the SHRINKING edge
    set, never all-pairs, no driver state.

    Checkpoint discipline — STRICTER than the linear loops: pagerank/
    BFS/LPA compute state' = f(state, constant-edges), so their plans
    grow one join per round and their few rounds need no checkpoint.
    Peeling is MULTIPLICATIVELY self-referential: the next edge set
    references the previous one FIVE times (twice inside the degree
    count's symmetrization, twice via the two semi-joins' keep sets,
    once as the join input), so the un-truncated logical plan grows
    5^rounds — measured 40+ s at sf0.1 for 3 rounds on a 25-node
    graph, pure Catalyst analysis. ``alive`` therefore
    localCheckpoints EVERY round (no sparse-cadence knob: peeling
    always truncates per round); each materialization is the
    shrinking edge set, the same cost GraphX's iterative peeling
    pays."""
    k = KCORE_K
    alive = _canonical(edges.select(F.col("u"), F.col("v"))).localCheckpoint()
    for _ in range(KCORE_ROUNDS):
        alive = _peel_round(alive, k).localCheckpoint()
    sym = alive.unionByName(
        alive.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    return nodes.join(deg, nodes.node == deg.u, "left").select(
        "node",
        F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"),
        (F.coalesce("deg", F.lit(0)) >= k).alias("in_core"),
    )


def sssp_bounded(nodes: DataFrame, edges: DataFrame, source: DataFrame) -> DataFrame:
    """Single-source shortest paths (Bellman-Ford supersteps), bounded
    to ``SSSP_ITERATIONS`` hops, in EXACT integer arithmetic.

    ``nodes``: one column ``node``; ``edges``: directed
    ``(src, dst, w)`` with non-negative BIGINT weights; ``source``:
    a one-row frame with column ``node``. Returns ``(node, dist)``
    where ``dist`` is the cheapest <=k-hop path cost and NULL means
    unreachable within k hops — a sound under-approximation of full
    convergence, exactly like the bounded ``bfs_hops``/``k_core``
    variants, and hash-matchable by an unrolled-CTE oracle because
    min/+ over BIGINT is associative and engine-portable (no float
    accumulation — the pagerank_int argument).

    Each superstep is one join of the frontier distances against the
    edge list (shuffle on src) plus a min-groupBy — Pregel shape,
    nothing collects to the driver. The distance frame is referenced
    TWICE per round (relax join + carry-forward union), so the
    logical plan doubles per round without truncation; the loop
    localCheckpoint()s EVERY round — the multiplicative-self-
    reference rule k_core pins (operators/graph.py:k_core)."""
    dist = source.select("node", F.lit(0).cast("bigint").alias("dist")).localCheckpoint()
    edges = edges.localCheckpoint()
    for _ in range(SSSP_ITERATIONS):
        relaxed = (
            edges.join(
                dist.select(F.col("node").alias("src"), F.col("dist").alias("d0")),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("d0") + F.col("w")).cast("bigint").alias("dist"),
            )
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return nodes.join(dist, "node", "left")


def hits_int(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg JACM'99) in FIXED-POINT
    INTEGER arithmetic — the link-analysis complement to
    ``pagerank_int`` above: PageRank scores global endorsement flow,
    HITS separates nodes that POINT AT good content (hubs) from nodes
    good content points at (authorities) via the mutual recursion
    a(v) = sum of h over in-neighbors, h(u) = sum of a over
    out-neighbors.

    ``nodes``: one column ``node``; ``edges``: directed, deduped
    ``(src, dst)``. Runs ``HITS_ITERATIONS`` rounds and returns
    ``(node, authority, hub)`` scaled by ``scale`` = 10^6 (each
    round's max score = ``scale`` = 1.0).

    Why integers: the standard HITS normalizes by the L2 norm —
    irrational, engine-divergent. L-infinity normalization
    (divide by the round's MAX, here ``x * scale // max``) keeps the
    same fixpoint direction (normalization constants cancel in the
    power iteration) while every step is integer sum, integer max,
    and floor division — exactly associative, so a DuckDB
    unrolled-CTE oracle matches bit-for-bit. Nodes with no in-edges
    get authority 0 (no mass invented), mirrored by COALESCE 0.

    Scale: each half-round is one join of scores against the edge
    list (shuffle on src or dst) plus a groupBy — a Pregel superstep;
    the round max is a single broadcast scalar (one-row crossJoin),
    never a collect. The few rounds run as ONE action, so nothing is
    checkpointed."""
    scale = HITS_SCALE
    # only `hub` seeds the recursion: the first half-round computes auth
    hub = nodes.select("node", F.lit(scale).cast("bigint").alias("h"))

    def _half(scores: DataFrame, col: str, join_key: str, out_key: str,
              out_col: str) -> DataFrame:
        # new[out_key] = sum of scores[col] over edges matched on
        # join_key, L-inf normalized to `scale`
        raw = (
            edges.join(
                scores.withColumnRenamed("node", join_key), join_key
            )
            .groupBy(F.col(out_key).alias("node"))
            .agg(F.sum(col).cast("bigint").alias("raw"))
        )
        # greatest(mx, 1): on an edgeless (or all-zero) round the raw
        # aggregate is empty so max() is NULL — an unguarded divisor
        # would NULL every score instead of the documented COALESCE-0
        # no-mass semantics (0 div 1 = 0 for every node)
        mx = raw.agg(F.greatest(F.max("raw"), F.lit(1)).alias("mx"))
        return nodes.join(raw, "node", "left").crossJoin(
            F.broadcast(mx)
        ).select(
            "node",
            F.expr("coalesce(raw, CAST(0 AS BIGINT))"
                   f" * CAST({scale} AS BIGINT) div mx")
            .cast("bigint").alias(out_col),
        )

    for _ in range(HITS_ITERATIONS):
        # authorities from hubs (in-edges), then hubs from the NEW
        # authorities (out-edges) — the standard update order
        auth = _half(hub, "h", "src", "dst", "a")
        hub = _half(auth, "a", "dst", "src", "h")
    return (
        auth.join(hub, "node")
        .select("node", F.col("a").alias("authority"), F.col("h").alias("hub"))
    )
