"""Iterative graph operator: connected components by min-label
propagation — the clustering stage that turns pairwise similarity
output (q51/q52/q53/q57 near-dup PAIRS) into canonical groups
("keep one doc per duplicate cluster").

Spark shape: a driver-side convergence loop over DataFrames — the one
operator class where imperative control flow is legitimate, because
the fixpoint test ("any cross-representative edges left?") is
data-dependent. `localCheckpoint` truncates the growing lineage so
level N does not replan levels 1..N-1 (the classic iterative-Spark
trap).

Algorithm: min-star contraction (the MapReduce-CC family of Kiveris
et al., "Connected Components in MapReduce and Beyond"). Each level
(1) hooks every current representative onto the minimum of itself and
its neighbor representatives, (2) pointer-jumps that hook map once
(lbl <- lbl(lbl), doubling propagation distance so adversarial chains
still converge in O(log n) levels), then (3) CONTRACTS the edge set
through the new labels, dropping self-loops. The decisive property
for near-dup workloads: duplicate clusters are clique-shaped, so
level 1 maps every node straight to its cluster minimum and the
contracted edge set is EMPTY — the loop runs join work proportional
to the (collapsing) quotient graph, not |E| per round like plain
label propagation. Convergence test = `count() == 0` on the
contracted edges, which is also the action that materializes the
checkpoint — no separate fingerprint pass.

Scale: level-1 work is one |E| shuffle (the hook aggregate) plus one
|E| contraction join; every later level runs on the quotient graph,
which shrinks geometrically. Labels update per level with one |V|
left join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    assume_distinct: bool = False,
) -> DataFrame:
    """Min-label connected components over an undirected edge list.
    Returns (node, component) where component = min node id reachable.
    Deterministic (pure min semiring — no RNG, no order dependence).

    ``assume_distinct=True`` skips the defensive edge dedup — correct
    whenever the caller's edge list is already duplicate-free with
    src < dst (a pair-output groupBy/distinct upstream, as in q51/q84
    pairs): the two-direction union of such a set cannot collide, so
    the dedup would spend a full |E| shuffle proving nothing.
    Duplicate edges would not change the fixpoint anyway (min is
    idempotent) — only the per-level join work."""
    # r12 OPT (guide §2.4/§5): checkpoint the DIRECTED pairs BEFORE the
    # two-branch symmetrizing union — both union branches share the
    # caller's (often expensive) pair lineage, and while ReusedExchange
    # dedups the map side, everything past the last exchange (q51's
    # broadcast-verify intersects, q84's final agg+filter) executed
    # once per branch. One |E| checkpoint; the union over it is two
    # trivial cached scans, so sym no longer needs its own 2|E| copy.
    base = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    sym = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if not assume_distinct:
        # distinct output feeds hook + contract — still one
        # materialization, but LAZY (r13, guide §5): hook's first
        # fingerprint action computes every partition (a global
        # aggregate), so the cache is fully built before contract
        # reads it; the eager count() was a duplicate pass.
        sym = sym.distinct().localCheckpoint(eager=False)

    def hook(e: DataFrame, max_jumps: int = 64) -> DataFrame:
        """Min-star hook with full path compression over edge set
        ``e``. Every node points at min(self, min neighbor); that
        pointer forest is then collapsed to its roots by iterated
        pointer jumping (lbl <- lbl(lbl), doubling resolved depth per
        jump — O(log depth) cheap |V|-sized joins, never an |E| join).
        Returns (node, lbl) with lbl = the root of the node's hook
        tree: lbl <= node, lbl reachable from node, and lbl(lbl) ==
        lbl. Because every non-root tree has >= 2 nodes, the quotient
        graph on roots at least HALVES per level."""
        h = e.groupBy(F.col("src").alias("node")).agg(
            F.least(F.col("node"), F.min("dst")).alias("lbl")
        ).localCheckpoint(eager=False)
        # labels strictly decrease while any pointer is unresolved, so
        # a stable sum-of-labels fingerprint IS idempotence — one tiny
        # aggregate per jump, no change-join. Every lbl value is
        # itself a node of ``e`` (self or a neighbor; ``e`` is
        # symmetric), so the jump self-join is total. DECIMAL sum: ids
        # may span the full 64-bit hash range (q145 hashes names), and
        # a bigint sum overflows under ANSI mode.
        # r13 OPT (guide §5, VERDICT r12 #1): every checkpoint in this
        # loop is LAZY and the fingerprint aggregate that follows it is
        # the materializing action — a global agg computes EVERY
        # partition, so the cache is complete (doCheckpoint truncates
        # with no extra job) and the jump self-join below always reads
        # a fully-built cache. The eager form ran TWO jobs per jump
        # (checkpoint pass + fingerprint pass over the cache); q84's CC
        # tail was ~15 such jobs of pure job-launch overhead.
        def _fp(df: DataFrame):
            return df.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]

        fp = _fp(h)
        for _ in range(max_jumps):
            j = h.select(F.col("node").alias("j_node"), F.col("lbl").alias("j_lbl"))
            h = (
                h.join(j, h.lbl == j.j_node)
                .select("node", F.col("j_lbl").alias("lbl"))
                .localCheckpoint(eager=False)  # _fp below materializes
            )
            new_fp = _fp(h)
            if new_fp == fp:
                break
            fp = new_fp
        else:  # pragma: no cover - 2**64 depth is unreachable
            raise RuntimeError("pointer jumping did not converge")
        return h

    def contract(e: DataFrame, lbl: DataFrame) -> DataFrame:
        """Map both endpoints of ``e`` through ``lbl`` and drop
        self-loops: the quotient graph on representatives. Symmetry is
        preserved (both directions map pointwise)."""
        l_src = lbl.select(F.col("node").alias("_sn"), F.col("lbl").alias("_sl"))
        l_dst = lbl.select(F.col("node").alias("_dn"), F.col("lbl").alias("_dl"))
        return (
            e.join(l_src, e.src == l_src._sn)
            .join(l_dst, e.dst == l_dst._dn)
            .select(F.col("_sl").alias("src"), F.col("_dl").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            # LAZY (r13): the caller's convergence count() is the
            # materializing action; hook/contract on the next level
            # then read the complete cache
            .localCheckpoint(eager=False)
        )

    # Level 1 runs on the full edge set; on clique-shaped graphs
    # (near-dup clusters) the hook already lands every node on its
    # cluster minimum and the contracted quotient graph is empty.
    labels = hook(sym)
    quotient = contract(sym, labels)
    for _ in range(max_iter):
        if quotient.count() == 0:  # also materializes the checkpoint
            break
        lvl = hook(quotient)
        # fold this level's representative map into the global labels:
        # reps whose component already collapsed are absent from lvl
        # (their edges became self-loops), hence the left join.
        lmap = lvl.select(F.col("node").alias("_ln"), F.col("lbl").alias("_ll"))
        # LAZY (r13): labels has exactly one consumer per level (the
        # next level's fold, or the final action), and no action
        # inside this loop reads it. So the checkpoints do NOT truncate
        # level by level: the whole chain, one join per level, is
        # planned into the first job that reads the final labels, and
        # every marked checkpoint materializes together inside that
        # job. That saves one dedicated |V| materialization job per
        # level; lineage grows with the level count (<= max_iter).
        labels = (
            labels.join(lmap, labels.lbl == lmap._ln, "left")
            .select("node", F.coalesce("_ll", "lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        quotient = contract(quotient, lvl)
    else:  # pragma: no cover - adversarial diameter
        raise RuntimeError(f"components did not converge in {max_iter} levels")
    return labels.select("node", F.col("lbl").alias("component"))


@query(
    "q84_copurchase_components",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb
        HAVING COUNT(*) >= 2
    ), edges AS (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL
        SELECT pb, pa FROM pairs
    ), reach AS (
        SELECT src AS node, src AS lbl FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS partkey, MIN(lbl) AS component
    FROM reach GROUP BY node
    """,
    doc="Connected components over the part co-purchase graph (parts "
        "sharing >= 2 orders): the iterative-algorithm surface — a "
        "driver-side fixpoint loop of join+min rounds with "
        "localCheckpoint lineage cuts, converging in O(diameter) "
        "rounds. The DuckDB oracle computes the EXACT same components "
        "via a recursive CTE (transitive closure + min label), so the "
        "iterative result is hash-checked, not rows-only — the same "
        "machinery turns near-dup pairs (q51-q53, q57) into dedup "
        "clusters.",
)
def q84_copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _copurchase_pairs(spark, sf_dir)
    # pairs come out of a groupBy(pa, pb) with pa < pb — already distinct
    comps = connected_components(pairs, src="pa", dst="pb", assume_distinct=True)
    return comps.select(F.col("node").alias("partkey"), "component")


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase part pairs (pa < pb) sharing >= 2 orders —
    the shared edge set of q84/q120/q124/q125. Basket formulation: ONE
    shuffle groups each order's bounded part list; pairs come from the
    sorted array, never a lineitem self-join."""
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("parts")
    )
    combos = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts) - i - 1), "
        "y -> struct(x AS pa, y AS pb))))"
    )
    return (
        baskets.select(F.explode(combos).alias("p"))
        .select("p.pa", "p.pb")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("pa", "pb")
    )


_ORACLE_PAIRS = """
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb
        HAVING COUNT(*) >= 2
"""

KHOP_DEPTH = 3
KHOP_SEED_MOD = 500  # graph nodes with partkey % this == 0 are seeds


@query(
    "q124_khop_reachability",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_ORACLE_PAIRS}),
    edges AS (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL
        SELECT pb, pa FROM pairs
    ),
    seeds AS (
        SELECT DISTINCT src AS node FROM edges WHERE src % {KHOP_SEED_MOD} = 0
    ),
    walk AS (
        SELECT node, 0 AS d FROM seeds
        UNION
        SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.d < {KHOP_DEPTH}
    )
    SELECT node AS partkey, CAST(MIN(d) AS INTEGER) AS dist
    FROM walk GROUP BY node
    """,
    doc=f"Multi-source k-hop reachability (BFS to depth {KHOP_DEPTH}) "
        "over the co-purchase graph: the bounded graph-traversal dual "
        "of q84's full transitive closure — feature-store neighborhood "
        "expansion, blast-radius and fraud-ring queries all run this "
        "loop. Spark shape: a frontier loop — each hop joins ONLY the "
        "newly-reached frontier (not the full visited set) against the "
        "edge list, anti-joins the visited set, localCheckpoints the "
        "frontier; work per hop is proportional to the frontier's edge "
        "neighborhood, the minimum any BFS must touch. The DuckDB "
        "recursive CTE computes the same min-distance labeling, so an "
        "ITERATIVE traversal is hash-graded exactly.",
)
def q124_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 OPT: checkpoint the directed pairs once, THEN symmetrize —
    # the union's branches otherwise replay the basket-explode pair
    # lineage past its last exchange once per branch (see
    # connected_components), and the checkpoint halves to |E| rows.
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint(eager=True)
    edges = pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    frontier = (
        edges.select("src")
        .filter(F.col("src") % KHOP_SEED_MOD == 0)
        .distinct()
        .select(F.col("src").alias("node"))
        .localCheckpoint(eager=True)
    )
    visited = frontier.select("node", F.lit(0).alias("dist"))
    for d in range(1, KHOP_DEPTH + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        # r12 OPT: visited is a union of ALREADY-checkpointed frontier
        # frames — keep it lazy (the per-hop eager materialization of
        # the growing union was one extra job per hop for data the
        # anti-join can read from the cached pieces directly)
        visited = visited.unionByName(nxt.select("node", F.lit(d).alias("dist")))
        frontier = nxt
    return visited.select(F.col("node").alias("partkey"), F.col("dist").cast("int"))


@query(
    "q125_triangle_count",
    oracle=f"""
    WITH e AS ({_ORACLE_PAIRS}),
    tri AS (
        SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        FROM e e1
        JOIN e e2 ON e2.pa = e1.pb
        JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    member AS (
        SELECT a AS partkey FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY partkey
    """,
    doc="Per-node triangle counts over the co-purchase graph — the "
        "clustering-coefficient / community-density primitive — via "
        "DEGREE-ORDERED orientation (round-4 VERDICT.md item 5): each "
        "undirected edge points from its lower-(degree, id) endpoint "
        "to the higher, every triangle enumerates exactly once as two "
        "out-edges of its minimum-rank node plus a closure probe, and "
        "the wedge join costs sum-of-out-degree^2 where out-degrees "
        "are arboricity-bounded (O(sqrt(m)) worst case) instead of "
        "hub-degree^2 under the naive a<b<c orientation — on a "
        "power-law co-purchase graph the hub contributes ZERO wedges "
        "(all its edges point in; pytest-pinned on a star fixture). "
        "Node-id orientation remains the tie-break, so enumeration is "
        "deterministic; per-node membership counts are orientation-"
        "invariant and hash-match the oracle's a<b<c enumeration.",
)
def q125_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_pairs(spark, sf_dir)
    # checkpoint the (expensive) basket-explode pair lineage ONCE:
    # degree_oriented_edges reads e three times (two degree selects +
    # the orient join) and ReusedExchange dedup is not guaranteed
    e = e.localCheckpoint(eager=True)
    o = degree_oriented_edges(e).localCheckpoint(eager=True)
    member = _triangle_members(o)
    return member.groupBy("partkey").agg(F.count(F.lit(1)).alias("n_triangles"))


def degree_oriented_edges(e: DataFrame) -> DataFrame:
    """Orient the undirected (pa < pb) edge list from the lower-
    (degree, node-id) endpoint to the higher. Out-degrees under this
    orientation are bounded by the graph's degeneracy (<= O(sqrt(m))),
    which bounds the triangle wedge join at sum(out_deg^2) regardless
    of hub sizes — the standard power-law hardening. Carries dst's
    (deg, id) rank so the wedge stage can order its two endpoints
    without re-joining degrees."""
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionByName(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withd = e.join(
        deg.select(F.col("node").alias("pa"), F.col("deg").alias("da")), "pa"
    ).join(deg.select(F.col("node").alias("pb"), F.col("deg").alias("db")), "pb")
    fwd = F.struct(F.col("da"), F.col("pa")) < F.struct(F.col("db"), F.col("pb"))
    return withd.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    )


def _triangle_members(o: DataFrame) -> DataFrame:
    """One row per (triangle, member) from a degree-oriented edge
    list: wedges pair two out-edges of a pivot (endpoints ordered by
    (deg, id) so each wedge appears once), the closure probe joins the
    oriented (b, c) edge — which, when it exists, necessarily points
    b -> c because rank(b) < rank(c)."""
    w1 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst_deg").alias("bd")
    )
    w2 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("dst_deg").alias("cd")
    )
    wedges = w1.join(w2, "a").filter(
        F.struct(F.col("bd"), F.col("b")) < F.struct(F.col("cd"), F.col("c"))
    )
    closure = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closure, ["b", "c"])
    return (
        tri.select(F.col("a").alias("partkey"))
        .unionByName(tri.select(F.col("b").alias("partkey")))
        .unionByName(tri.select(F.col("c").alias("partkey")))
    )


PAGERANK_ITERS = 8
PAGERANK_DAMPING = 0.85


@query(
    "q120_pagerank",
    doc="PageRank over the part co-purchase graph (q84's edge set), "
        f"{PAGERANK_ITERS} fixed power iterations at damping "
        f"{PAGERANK_DAMPING}: the second iterative-graph surface "
        "beside connected components — each iteration is one "
        "contribution join (rank/out_degree shipped along edges) and "
        "one sum-per-target aggregate, with localCheckpoint lineage "
        "cuts; exactly the loop shape a 100 TB link graph runs, with "
        "the rank vector co-partitioned with the edge list so every "
        "iteration reuses the same hash partitioning. Rows-only: "
        "float contribution sums are order-dependent (no stable "
        "cross-engine hash); the semantics are pytest-pinned instead "
        "(probability mass conservation, degree-biased ranking, "
        "iteration monotonicity).",
)
def q120_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = _pagerank(
        spark,
        sf_dir,
        init=lambda n: F.lit(1.0 / n),
        contrib=F.col("r") / F.col("deg"),
        update=lambda n: F.lit((1.0 - PAGERANK_DAMPING) / n)
        + F.lit(PAGERANK_DAMPING) * F.sum("c"),
    )
    return ranks.select("node", F.round("r", 10).alias("rank"))


def _pagerank(spark: SparkSession, sf_dir: str, init, contrib, update) -> DataFrame:
    """q120/q159's power iteration over the symmetric co-purchase
    graph, returning (node, r) after PAGERANK_ITERS steps. The twins
    differ only in arithmetic: ``init(n_nodes)`` is the starting rank,
    ``contrib`` one edge's share of its source rank ``r`` over the
    source degree ``deg``, and ``update(n_nodes)`` the aggregate over
    the contributions ``c`` that gives a target's next rank."""
    # r12 OPT: checkpoint directed pairs, symmetrize lazily (see
    # connected_components — halves the checkpoint, runs the pair
    # lineage's post-exchange tail once instead of once per branch)
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint(eager=True)
    edges = pairs.unionByName(
        pairs.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    )
    deg = edges.groupBy(F.col("pa").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    # LAZY checkpoint (r13, guide §5): the count() right below is the
    # materializing action (computes every partition), so the eager
    # form ran the same |V| aggregate twice back-to-back
    deg = deg.localCheckpoint(eager=False)  # feeds n_nodes count AND the edge join
    n_nodes = deg.count()
    ranks = deg.select("node", init(n_nodes).alias("r"))
    edges_deg = (
        edges.join(deg, edges.pa == deg.node)
        .select("pa", "pb", "deg")
        .localCheckpoint(eager=True)
    )
    # r12 OPT (guide §2.4/§5): the loop runs a FIXED iteration count with
    # no data-dependent decisions, so per-iteration localCheckpoints were
    # pure overhead — each groupBy already materializes a shuffle
    # boundary (the natural recovery point), and one lazy 8-level plan
    # executes in a single job. No per-iteration nodes left join either:
    # the graph is symmetric and edge-defined, so every node has an
    # in-edge and the contribution aggregate covers all |V| nodes (the
    # q159 oracle relies on the same invariant). Measured 4.6 -> 2.9 s
    # (q120) and 4.9 -> 3.5 s (q159) at sf0.1, results unchanged.
    for _ in range(PAGERANK_ITERS):
        ranks = (
            edges_deg.join(ranks, edges_deg.pa == ranks.node)
            .select(F.col("pb").alias("node"), contrib.alias("c"))
            .groupBy("node")
            .agg(update(n_nodes).alias("r"))
        )
    return ranks


# --- portable PageRank (q159): the iterative family, hash-graded ------
#
# q120 is rows-only because float contribution sums are order-dependent
# (Spark's groupBy adds partial sums in arbitrary order, DuckDB in scan
# order — the same ranks differ in the last ulps). This twin runs the
# IDENTICAL loop — same edge set, same degree weights, same damping,
# same iteration count — in SCALED-INTEGER arithmetic (the q156
# "integer sufficient statistics" device): ranks live as BIGINT
# trillionths of probability mass, per-edge contributions are floor
# divisions, and integer sums are exact and order-independent, so every
# iteration replays bit-identically in DuckDB's unrolled-CTE oracle.
# Floor rounding loses < 1 unit (1e-12 of mass) per division, bounded
# by |E| + 2|V| units per iteration (one edge-contribution floor per
# edge, plus the damping and teleport floors per node — the bound the
# mass-conservation pytest enforces) — nanoscale against per-node
# ranks of ~1e9 units, and pinned against float q120 by pytest.

PAGERANK_SCALE = 10**12  # rank unit = 1e-12 probability mass


def _pagerank_portable_oracle() -> str:
    tele_num = 15 * PAGERANK_SCALE // 100  # (1 - 0.85) * SCALE, exact
    # MATERIALIZED on the shared CTEs is load-bearing: `ed` and `nn`
    # are referenced from every unrolled iteration, and without the
    # hint DuckDB inlines them — re-running the lineitem self-join
    # ~20x, which spilled tens of GB at derived sf1. Materialized, the
    # 38k-edge table is computed once.
    parts = [
        f"""
    WITH pairs AS MATERIALIZED ({_ORACLE_PAIRS}),
    edges AS MATERIALIZED (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL
        SELECT pb, pa FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
    ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.node = e.src),
    r0 AS (SELECT node, {PAGERANK_SCALE} // (SELECT n FROM nn) AS r FROM deg)"""
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f""",
    r{i} AS (
        SELECT ed.dst AS node,
               (85 * SUM(r.r // ed.deg)) // 100
                 + ({tele_num} // (SELECT n FROM nn)) AS r
        FROM ed JOIN r{i - 1} r ON r.node = ed.src
        GROUP BY ed.dst
    )"""
        )
    parts.append(
        f"""
    SELECT node AS partkey, CAST(r AS BIGINT) AS rank_e12
    FROM r{PAGERANK_ITERS}"""
    )
    return "".join(parts)


@query(
    "q159_pagerank_portable",
    oracle=_pagerank_portable_oracle(),
    doc=f"PageRank in PORTABLE scaled-integer arithmetic — makes the "
        "iterative power-iteration family value-graded (joining "
        "recursive-CTE-graded connected components, q84/q104): q120's "
        f"exact loop ({PAGERANK_ITERS} iterations, damping 0.85, same "
        "co-purchase edge set and degree weights) with ranks held as "
        f"BIGINT units of 1e-12 mass (SCALE={PAGERANK_SCALE}). Every "
        "step is integer-only — contribution = rank div degree (floor), "
        "exact order-independent BIGINT sums, new rank = (85*sum) div "
        "100 + teleport — so all 8 iterations replay bit-identically in "
        "the DuckDB oracle's unrolled CTE chain; no float ever enters "
        "the loop. Per-iteration floor loss < |E| + 2|V| rank units "
        "(1e-12 mass each; the mass-conservation pytest enforces this "
        "exact bound), pytest-pinned against float q120. The "
        "production float form (q120) remains the at-scale surface; "
        "this twin is its exact grading device. Scale shape is "
        "unchanged: one contribution join + one sum aggregate per "
        "iteration over a rank vector co-partitioned with the edges, "
        "localCheckpoint lineage cuts.",
)
def q159_pagerank_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = _pagerank(
        spark,
        sf_dir,
        init=lambda n: F.lit(PAGERANK_SCALE // n).cast("long"),
        contrib=F.expr("r div deg"),
        update=lambda n: F.expr("(85 * sum(c)) div 100")
        + F.lit((15 * PAGERANK_SCALE // 100) // n),
    )
    return ranks.select(F.col("node").alias("partkey"), F.col("r").alias("rank_e12"))
