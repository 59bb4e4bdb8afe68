"""Graph operators for dedup clustering.

Near-duplicate detection (dedup.py, similarity.py, fuzzy.py) emits
PAIRS; turning pairs into keep/drop decisions needs the transitive
closure — if A~B and B~C, all three are one duplicate cluster even when
A~C was never emitted. ``connected_components`` computes that closure
distributed, so a 100 TB dedup run can pick one canonical document per
cluster (the min-id member) instead of greedily dropping pair-by-pair
(which over- or under-deletes depending on pair order).

``connected_components`` picks its algorithm from the graph itself. It
probes with a few rounds of min-label flooding (rounds = diameter, one
join+groupBy per round, right for the quasi-clique graphs similarity
thresholds produce); if the labels still change after the probe, it
switches to the alternating large-star/small-star contraction of
Kiveris et al., "Connected Components in MapReduce and Beyond" (rounds
= O(log n) on any shape, two join+groupBy passes per round — the hedge
for chain-structured graphs where diameter explodes). The two are
property-tested equivalent on random graphs.

Every round loop here (both CC algorithms, PageRank, reachability,
label propagation, shortest path) runs through ``_iterate``: one
``localCheckpoint`` lineage cut and one driver action per round, and
convergence read from a scalar fingerprint — no driver-side data
collection beyond a handful of numbers.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# flood rounds before connected_components switches to the star
# contraction: a dedup-shaped graph (diameter 2-4) converges inside them
_PROBE_ROUNDS = 5


class NotConvergedError(RuntimeError):
    """An iterative operator reached its round bound before its
    fixpoint, so the labels it holds are not the answer."""


def _loop_partitions(df: DataFrame) -> int:
    """Partition count for pinned loop-frame placement: the session's
    shuffle-partition setting — scale-parameterized (clusters set it
    ~2-3x total cores; locally it defaults to the core count).

    Why pin at all (r07, measured): a loop-invariant frame that is
    ``localCheckpoint``-ed takes whatever partitioning its LAST stage
    had — and under AQE that stage was coalesced toward the advisory
    byte size, which for the metadata-narrow frames these loops carry
    (node ids, labels, integer masses) collapses to 1-2 partitions.
    Every subsequent round then scans and exchange-writes the frame
    from 1-2 tasks — the under-parallelized-scan waste class (guide
    §2.5, input skew) paid once PER ROUND. An explicit
    ``repartition(P, join_key)`` before the checkpoint pins the block
    count (AQE never coalesces a user-specified repartition), keeping
    every round's map side parallel; keying it by the loop's join key
    costs nothing extra and is the co-located placement a bucketed /
    non-AQE deployment would exploit outright. (An AQE-off static
    co-partitioning variant measured 1.3-2.3x slower on q194, q204 and
    q211; OPTIMIZATION_r07.md.)"""
    from ingestao_dados_poli_spark.partitioning import shuffle_partitions

    return shuffle_partitions(df.sparkSession)


def _iterate(
    step: Callable[[DataFrame | None], DataFrame],
    state: DataFrame | None,
    max_rounds: int,
    fingerprint: list[Column] | None = None,
) -> tuple[DataFrame | None, bool]:
    """``state = step(state)`` for at most ``max_rounds`` rounds, with
    one ``localCheckpoint`` and one driver action per round; returns
    ``(state, converged)``. The checkpoint truncates the round's
    LOGICAL plan: a round reads its state twice, so an uncut plan
    doubles per round (measured: analysis hangs at ~20 rounds).

    With ``fingerprint`` (aggregates over the state) the checkpoint is
    LAZY and the fingerprint collect, which materializes it, is the
    action (r07: an eager checkpoint + collect cost ~2 more jobs per
    round); the loop converges when the fingerprint repeats. Without,
    the round count is fixed, the EAGER checkpoint is the action (a
    lazy one lets both next-round references recompute the chain, r07:
    6x slower), and ``converged`` is True."""
    # an all-NULL fingerprint (sums over an empty state) already repeats:
    # an empty state is its own fixpoint
    prev = (None,) * len(fingerprint or ())
    for _ in range(max_rounds):
        state = step(state).localCheckpoint(eager=fingerprint is None)
        if fingerprint is not None:
            fp = tuple(state.agg(*fingerprint).collect()[0])
            if fp == prev:
                return state, True
            prev = fp
    return state, fingerprint is None


def _symmetrized(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) with both directions of every edge — the frame both
    connected-components algorithms walk."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # LAZY localCheckpoint, pinned to P partitions on the join key
    # (r07, see _loop_partitions): every round re-reads sym, and the
    # checkpoint's flat LogicalRDD both cuts lineage and gives the
    # self-joins fresh leaf plans; the explicit repartition keeps the
    # per-round scans of sym parallel instead of inheriting an
    # AQE-coalesced 1-2-block layout. No eager materialization action
    # (the first round's fingerprint materializes the blocks). A/B:
    # q65 0.88x, q200 0.69x vs the unpinned checkpoint.
    return sym.repartition(_loop_partitions(sym), "a").localCheckpoint(
        eager=False
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) — component = min node id reachable from node.

    ``edges`` is undirected (symmetrized internally, self-loops
    harmless). ``nodes`` optionally supplies the full vertex set so
    isolated nodes appear as singleton components; defaults to the
    nodes present in ``edges``.

    The graph picks the algorithm (the two are property-tested
    equivalent in ``test_graph.py``). ``_PROBE_ROUNDS`` rounds of
    min-label flooding (one equi-join + one map-side-combined groupBy
    per round, graph-DIAMETER rounds) come first: a dedup graph
    (similarity thresholds produce quasi-cliques, diameter 2-4)
    converges inside the probe. If the labels still change, the run
    switches to the large-star/small-star contraction (``_cc_star``):
    O(log n) rounds in the LONGEST PATH, two join+groupBy passes each
    — the hedge for chain-shaped graphs. Measured: a 256-node path
    converges in 8 star rounds where flooding needs 256; on a dense
    40-node random graph star takes 2 rounds vs flooding's 4, each ~2×
    the work. A star contraction still changing after ``max_iter``
    rounds raises ``NotConvergedError`` instead of returning partial
    labels.
    """
    sym = _symmetrized(edges, src, dst)
    out = _cc_flood(sym, _PROBE_ROUNDS)
    if out is None:
        out = _cc_star(sym, max_iter)

    if nodes is not None:
        all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
        singletons = all_nodes.join(out, "node", "left_anti").select(
            "node", F.col("node").alias("component")
        )
        out = out.unionByName(singletons)
    return out


def _cc_flood(sym: DataFrame, max_rounds: int) -> DataFrame | None:
    """Min-label flooding over a symmetrized edge frame. Floods ONLY
    nodes that appear in some edge — in a dedup run the matched nodes
    are a small fraction of the corpus, and isolated nodes can never
    change label (they're appended as singletons by the caller).

    Returns None when the label sum is still strictly decreasing after
    ``max_rounds`` rounds — the high-diameter signal that sends the
    caller to the star contraction instead of flooding for
    diameter-many rounds."""

    def step(labels: DataFrame) -> DataFrame:
        neighbor = sym.join(
            labels, sym["a"] == labels["node"]
        ).select(F.col("b").alias("node"), "label")
        return (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    labels = sym.select(F.col("a").alias("node")).distinct()
    labels, converged = _iterate(
        step, labels.withColumn("label", F.col("node")), max_rounds, [F.sum("label")]
    )
    if not converged:
        return None
    return labels.select("node", F.col("label").alias("component"))


def _cc_star(sym: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.
    2014). Each round:

    - large-star: every node hooks its STRICTLY LARGER neighbors to
      the minimum of its closed neighborhood — long chains halve;
    - small-star: every node hooks its smaller-or-equal neighbors
      (and itself) to that minimum — stars flatten.

    Edges stay oriented larger→smaller between steps, so each step is
    one groupBy(min) + one join, both on hash-uniform node ids; no
    neighborhood collect_list is ever materialized. Lineage is cut per
    round (localCheckpoint); convergence = the oriented edge set's
    (count, id-sum, xor-ish hash) fingerprint repeating, one scalar
    row per round. At the fixpoint the edge set IS the answer: one
    (node → component-min) star per component."""
    # nodes that appear in any edge — re-attached at the end in case
    # contraction leaves a root with no outgoing edge. LAZY
    # localCheckpoints: the first round's fingerprint collect
    # materializes them.
    endpoints = (
        sym.select(F.col("a").alias("node")).distinct().localCheckpoint(eager=False)
    )
    e = sym.filter(F.col("a") > F.col("b")).distinct().localCheckpoint(eager=False)

    def step(e: DataFrame) -> DataFrame:
        # large-star over the undirected view of e
        und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mn = (
            und.groupBy("a")
            .agg(F.min("b").alias("_mb"))
            .select("a", F.least("_mb", F.col("a")).alias("_m"))
        )
        ls = (
            und.join(mn, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
            .filter(F.col("a") > F.col("b"))
            .distinct()
        )
        # small-star over the (already larger→smaller) ls edges
        mn2 = ls.groupBy("a").agg(F.min("b").alias("_m"))
        return (
            ls.join(mn2, "a")
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
            .unionByName(mn2.select("a", F.col("_m").alias("b")))
            .filter(F.col("a") > F.col("b"))
            .distinct()
        )

    # decimal hash sum: a long sum of 64-bit hashes overflows (ANSI
    # mode throws); decimal(38,0) cannot here
    fingerprint = [
        F.count(F.lit(1)),
        F.sum("a"),
        F.sum("b"),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
    ]
    e, converged = _iterate(step, e, max_iter, fingerprint)
    if not converged:
        raise NotConvergedError(
            f"connected_components: star contraction still changing after "
            f"max_iter={max_iter} rounds"
        )

    # fixpoint edges are (member → root) stars; roots label themselves,
    # as do nodes whose edges contracted away entirely. Each member
    # holds exactly one outgoing edge at the fixpoint, so the min-agg
    # only reshapes edges into (node, component) rows.
    members = (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("component"))
    )
    selfroots = endpoints.join(members, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return members.unionByName(selfroots)


def component_sizes(components: DataFrame) -> DataFrame:
    """(component_size, n_components) histogram over a components frame."""
    return (
        components.groupBy("component")
        .agg(F.count(F.lit(1)).alias("component_size"))
        .groupBy("component_size")
        .agg(F.count(F.lit(1)).alias("n_components"))
    )


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    start_mass: int = 1_000_000,
    no_dangling: bool = False,
) -> DataFrame:
    """Iterative PageRank in EXACT integer arithmetic — the mass-passing
    formulation that makes an iterative float algorithm byte-identical
    across engines (and therefore oracle-checkable, where classic
    double-precision PageRank would hash-mismatch on summation order):

    every node starts with ``start_mass`` integer units; per iteration
    each node sends ``(mass * 17) div (20 * out_degree)`` units down
    each out-edge (damping 17/20 = 0.85), keeps nothing, and the
    undistributed remainder — the 15% teleport share, floor-division
    residues, and ALL mass of dangling (no-out-edge) nodes — pools and
    redistributes equally as ``pool div N`` to every node. Division
    residue of the pool itself (< N units per iteration) evaporates;
    with 1e6 start units the total drift over a handful of iterations
    is parts-per-thousand — ranking-irrelevant, and determinism is
    what buys the exact cross-engine check.

    Scale shape per iteration: one broadcast-out-degree join, one
    map-side-combined groupBy(dst) — both on hash-uniform node keys —
    and a 1-row pool aggregate crossJoined back (never collected);
    ``localCheckpoint`` cuts lineage each round like
    ``connected_components``. Returns (node, mass) — rank order =
    mass desc.

    Contract note (r07 ADVICE): the returned frame is LAZY — a flat
    plan over the final round's checkpointed ``give`` blocks (one
    join + agg + 1-row crossJoin away from materialized leaves). A
    caller that evaluates it more than once re-runs that final
    join/agg per action; evaluate once, or ``localCheckpoint()`` the
    result yourself if you need repeated actions. (q131 evaluates it
    exactly once; an unconditional eager cut here would charge every
    caller one extra driver action.)

    ``no_dangling=True`` (r08) is a CALLER GUARANTEE that every node
    has at least one out-edge AND one in-edge — true by construction
    for symmetrized edge lists (every undirected edge contributes both
    directions, q131's graph). Under it the node universe IS the
    out-degree key set, so the operator skips the nodes build (a full
    union+distinct pass over 2|E| rows), the per-round dangling-mass
    branch, and the per-round all-nodes LEFT re-join (2 exchanges per
    iteration) — byte-identical results on qualifying graphs (pinned
    by tests/test_graph.py), WRONG results if the guarantee is
    violated (a node with no out-edge silently vanishes instead of
    pooling its mass). Leave it False unless the graph is symmetric.
    """
    # Cut the edge list ONCE — every round joins it. LAZY checkpoints
    # (r07): the only driver action before the rounds is the n_nodes
    # count, which materializes e and nodes on the way (with eager cuts
    # q131 ran 48 jobs, 3.2 s of it inter-job gaps). e is pinned to P
    # partitions on "_s" (see _loop_partitions): A/B q131 0.91x.
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .repartition(_loop_partitions(edges), "_s")
        .localCheckpoint(eager=False)
    )
    # nodes and out_deg are ~|V| rows but DERIVED from the |E|-row
    # edge table; cached so no iteration re-runs the
    # distinct/groupBy over all edges (2 extra full edge passes per
    # round, ~35% of q131).
    out_deg = (
        e.groupBy(F.col("_s").alias("node"))
        .agg(F.count(F.lit(1)).alias("_deg"))
        .localCheckpoint(eager=False)
    )
    if no_dangling:
        # out_deg's key set IS the node universe (caller guarantee):
        # no separate nodes pass, no dangling branch.
        nodes = out_deg.select("node")
        n_nodes = out_deg.count()
    else:
        nodes = (
            e.select(F.col("_s").alias("node"))
            .unionByName(e.select(F.col("_d").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_nodes = nodes.count()  # scalar, config-cardinality driver value

    def give_of(ranks: DataFrame) -> DataFrame:
        if no_dangling:
            # inner join: every rank node has a degree row; give is the
            # unconditional integer quotient
            return ranks.join(out_deg, "node").select(
                F.col("node"),
                F.col("mass"),
                F.col("_deg"),
                F.expr("(mass * 17) div (20 * _deg)").cast("long").alias("_give"),
            )
        # per-edge integer give; dangling nodes (null degree) give 0
        return ranks.join(out_deg, "node", "left").select(
            F.col("node"),
            F.col("mass"),
            F.coalesce(F.col("_deg"), F.lit(0)).alias("_deg"),
            F.when(F.col("_deg").isNotNull(), F.expr("(mass * 17) div (20 * _deg)"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_give"),
        )

    def ranks_of(give: DataFrame | None) -> DataFrame:
        if give is None:  # before the first round
            return nodes.withColumn("mass", F.lit(start_mass).cast("long"))
        contrib = (
            e.join(give.select(F.col("node").alias("_s"), "_give"), "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("_give").alias("_in"))
        )
        pool = give.agg(
            F.sum(F.col("mass") - F.col("_give") * F.col("_deg")).alias("_pool")
        )
        share = F.expr(f"_pool div {n_nodes}")
        if no_dangling:
            # contrib already covers every node (all nodes have
            # in-edges): the all-nodes LEFT re-join is an identity
            return contrib.crossJoin(F.broadcast(pool)).select(
                "node",
                (F.col("_in") + share).cast("long").alias("mass"),
            )
        return nodes.join(contrib, "node", "left").crossJoin(
            F.broadcast(pool)
        ).select(
            "node",
            (F.coalesce(F.col("_in"), F.lit(0)) + share)
            .cast("long")
            .alias("mass"),
        )

    # The loop state is GIVE, not ranks (r07): give is the frame the
    # round reads TWICE (-> contrib and -> pool); cutting HERE
    # materializes the ranks⋈out_deg join exactly once per round, where
    # a ranks cut left that join to recompute under both references.
    # ranks itself then needs no cut: its plan is flat over RDD leaves
    # (nodes blocks, contrib over e+give blocks, broadcast pool),
    # referenced once by the next round.
    give, _ = _iterate(lambda give: give_of(ranks_of(give)), None, iterations)
    return ranks_of(give)


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle count over an undirected simple graph.

    Canonical-orientation algorithm: every edge is stored once as
    (lo < hi); triangles are counted by joining edge (a,b) with (b,c)
    and checking (a,c) exists — the orientation means each triangle
    matches EXACTLY once (a<b<c), so no divide-by-6 correction and,
    crucially, the wedge join fans out only on lo<hi-ordered pairs,
    which bounds the wedge count by sum(d_lo(v)^2) instead of
    sum(d(v)^2) — the degree-orientation trick that keeps hub vertices
    from exploding the intermediate (Suri & Vassilvitskii 2011's
    MapReduce formulation). Two equi-joins, both shuffle on a vertex
    key; at 100 TB pre-bucket the edge table by src for co-located
    wedge building. Returns one row: (n_triangles)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = ab.join(bc, "b").select("a", "b", "c")
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = wedges.join(ac, ["a", "c"], "left_semi")
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def bounded_reachability(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 4,
) -> DataFrame:
    """(src, dst, depth) — every pair reachable over DIRECTED edges in
    at most ``max_depth`` hops, labeled with the MINIMAL hop count
    (classic bounded BFS / transitive-closure prefix; the hierarchy
    query behind org-chart rollups, BOM explosions and referral-chain
    analytics).

    Frontier-style expansion: round d joins the depth-(d-1) frontier
    with the edge list, anti-joins the already-reached set so each pair
    is emitted ONCE at its shortest depth (on general graphs the
    recursive-CTE formulation would instead enumerate every PATH —
    exponential on dense graphs; on out-degree-≤1 function graphs the
    two agree, which is what q194's oracle exploits). Per round: one
    equi-join on the frontier's dst (hash-uniform), one dropDuplicates
    map-side-combined, one left_anti against reached. The loop state
    is the reached set with its frontier rows flagged; its row count
    is the round's fingerprint, so the loop stops early once a round
    adds no pair (an empty frontier). Scale shape: cost is bounded by
    the true k-hop neighborhood size — the anti-join keeps the
    frontier from re-walking old ground, which is what makes BFS on a
    100 TB edge list terminate instead of blowing up path-count-
    exponentially.
    """
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    # LAZY checkpoint: the first round's count materializes it
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )

    def step(reached: DataFrame) -> DataFrame:
        frontier = reached.filter("_new")
        nxt = (
            frontier.join(e, frontier["dst"] == e["_s"])
            .select(
                "src",
                F.col("_d").alias("dst"),
                (F.col("depth") + 1).alias("depth"),
                F.lit(True).alias("_new"),
            )
            .join(reached.select("src", "dst"), ["src", "dst"], "left_anti")
            .dropDuplicates(["src", "dst"])
        )
        return reached.withColumn("_new", F.lit(False)).unionByName(nxt)

    reached = e.select(
        F.col("_s").alias("src"),
        F.col("_d").alias("dst"),
        F.lit(1).alias("depth"),
        F.lit(True).alias("_new"),
    )
    reached, _ = _iterate(step, reached, max_depth - 1, [F.count(F.lit(1))])
    return reached.drop("_new")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    rounds: int = 2,
) -> DataFrame:
    """(node, label) after ``rounds`` of SYNCHRONOUS label propagation
    with a deterministic tie-break — community detection for graphs
    where connected components are too coarse (everything touching
    everything through weak links) and modularity methods too
    expensive. Labels start as node ids; each round every node adopts
    the most frequent label among its neighbors, ties broken by the
    SMALLEST label (classic LPA is randomized and order-dependent —
    useless for an oracle; the sync+min variant is a pure function of
    the graph, which is what lets q211 value-hash it against unrolled
    SQL rounds).

    Per round: one join of the symmetrized edge list against current
    labels (hash-uniform on node id), one map-side-combined
    (node, label) count, one map-side-combined per-node
    ``min(struct(-count, label))`` hash aggregation to pick the winner
    (the argmax with the smallest-label tie-break, no sort), and a left
    join back so ISOLATED nodes keep their label.
    ``localCheckpoint`` cuts lineage each round like the other
    iterative operators. Rounds is a cap, not a convergence test —
    LPA on adversarial graphs can oscillate under synchronous update,
    so a fixed small round count IS the algorithm here.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).filter(
        F.col("_s").isNotNull() & F.col("_d").isNotNull()
    )
    # LAZY checkpoint, pinned to P partitions on the per-round join key
    # (r07, see _loop_partitions): every round re-reads sym, and the
    # pin keeps those scans parallel instead of inheriting an
    # AQE-coalesced 1-2-block layout. A/B: q211 0.93x vs unpinned.
    sym = (
        e.unionByName(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
        .repartition(_loop_partitions(e), "_d")
        .localCheckpoint(eager=False)
    )
    if nodes is None:
        nodes = sym.select(F.col("_s").alias("node")).distinct()
    else:
        nodes = nodes.select(F.col(node_col).alias("node"))

    def step(labels: DataFrame) -> DataFrame:
        neigh = (
            sym.join(
                labels.select(F.col("node").alias("_d"), "label"), "_d"
            )
            .groupBy(F.col("_s").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        # argmax by (count DESC, label ASC) as min(struct(-count,
        # label)) — struct ordering is field-by-field, so the smallest
        # negated count picks the most frequent label and the label
        # field breaks ties toward the SMALLEST (r08; replaces a
        # row_number window: same two exchanges, but the second pass
        # is a partially-aggregable hash agg instead of a per-node
        # sort, and map-side combine caps the second shuffle at one
        # row per (map partition, node)). Count is a long, so the
        # negation is safe for any orderable label type.
        winner = (
            neigh.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_c")).alias("_negc"),
                        F.col("label").alias("_l"),
                    )
                ).alias("_m")
            )
            .select("node", F.col("_m._l").alias("_new"))
        )
        return labels.join(winner, "node", "left").select(
            "node", F.coalesce("_new", "label").alias("label")
        )

    labels, _ = _iterate(step, nodes.withColumn("label", F.col("node")), rounds)
    return labels


def bounded_shortest_path(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 3,
) -> DataFrame:
    """(src, dst, dist) — minimal total WEIGHT over directed paths of
    at most ``max_hops`` edges (bounded min-plus relaxation, the
    Bellman-Ford prefix). Extends ``bounded_reachability`` from "can I
    get there in k hops" to "what does the cheapest ≤k-hop route
    cost" — the routing/cost-attribution shape.

    Round r: candidate = best-so-far ⋈ edges (extend every known
    route by one edge), then min-aggregate per (src, dst) over old ∪
    new — each round is one equi-join on the relaxation frontier's
    dst plus one map-side-combined min groupBy, localCheckpoint-ed so
    lineage stays flat. Unlike path-enumerating recursive CTEs the
    state is ONE row per (src, dst) pair per round (min-plus
    semiring), so dense graphs cannot blow up path-exponentially —
    the property that lets this run on a 100 TB edge list. Keep
    weights integral for cross-engine exactness."""
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = (
        edges.select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_d"),
            F.col(weight).alias("_w"),
        )
        .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .groupBy("_s", "_d")
        .agg(F.min("_w").alias("_w"))
        .localCheckpoint(eager=False)
    )
    best = e.select(
        F.col("_s").alias("src"),
        F.col("_d").alias("dst"),
        F.col("_w").alias("dist"),
    ).localCheckpoint(eager=True)

    def step(best: DataFrame) -> DataFrame:
        extended = (
            best.join(e, best["dst"] == e["_s"])
            .select(
                best["src"].alias("src"),
                e["_d"].alias("dst"),
                (best["dist"] + e["_w"]).alias("dist"),
            )
        )
        return (
            best.unionByName(extended)
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
        )

    best, _ = _iterate(step, best, max_hops - 1)
    return best
