from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.operators import graph as G


def test_connected_components_chain_and_singleton(spark):
    # chain 1-2-3 (transitive: 1~3 never stated) + isolated 4
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["node"])
    comps = {
        r.node: r.component
        for r in G.connected_components(edges, nodes=nodes).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 4}


def test_connected_components_long_chain_converges(spark):
    # diameter 19: flooding needs multiple rounds; min label must still
    # reach the far end
    n = 20
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    comps = G.connected_components(edges).collect()
    assert {r.component for r in comps} == {0}
    assert len(comps) == n


def test_connected_components_two_cliques(spark):
    e = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)]
    edges = spark.createDataFrame(e, ["src", "dst"])
    comps = {r.node: r.component for r in G.connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_star_equivalent_to_flood_on_random_graphs(spark):
    """Property: the large-star/small-star contraction computes the
    SAME (node → min-id) labeling as flooding run to its fixpoint on
    random graphs of assorted density, including graphs with
    duplicate/self/reversed edges. (Seeded stdlib RNG, not hypothesis:
    each case costs Spark jobs, so a handful of seeded draws beats
    shrinking here.)"""
    import random

    for seed, n, m in [(1, 30, 15), (2, 30, 45), (3, 60, 30), (4, 12, 66)]:
        rng = random.Random(seed)
        e = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        sym = G._symmetrized(spark.createDataFrame(e, ["src", "dst"]), "src", "dst")
        flood = G._cc_flood(sym, n)  # n rounds exceed any diameter here
        assert flood is not None, f"seed={seed}: flood did not converge"
        star = {r.node: r.component for r in G._cc_star(sym, 25).collect()}
        assert star == {r.node: r.component for r in flood.collect()}, (
            f"seed={seed}: star != flood"
        )


def test_star_handles_path_graph_within_log_rounds(spark):
    """The motivating case: a 64-node path (diameter 63) outlasts the
    flood probe, and star converges in O(log n) rounds — max_iter=8
    suffices where flooding would need 64 rounds."""
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    star = G.connected_components(edges, max_iter=8).collect()
    assert {r.component for r in star} == {0}
    assert len(star) == n


def test_max_iter_cutoff_raises(spark):
    """A 64-node path outlasts the flood probe and needs more star
    rounds than ``max_iter=2``; the cutoff must raise rather than
    return the partial labels (60 components)."""
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    with pytest.raises(G.NotConvergedError, match="max_iter=2"):
        G.connected_components(edges, max_iter=2)


def test_star_singletons_and_isolated_nodes(spark, monkeypatch):
    # a zero-round probe never converges, so star labels this graph
    monkeypatch.setattr(G, "_PROBE_ROUNDS", 0)
    edges = spark.createDataFrame([(5, 5), (1, 2)], ["src", "dst"])
    nodes = spark.createDataFrame([(1,), (2,), (5,), (9,)], ["node"])
    comps = {
        r.node: r.component
        for r in G.connected_components(edges, nodes=nodes).collect()
    }
    assert comps == {1: 1, 2: 1, 5: 5, 9: 9}


def test_component_sizes(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)], ["node", "component"]
    )
    sizes = {r.component_size: r.n_components for r in G.component_sizes(comps).collect()}
    assert sizes == {3: 1, 1: 2}


def test_pagerank_integer_hand_computed(spark):
    """One iteration on A->B, B->A, A->C, hand-computed in exact
    integer arithmetic: A out-deg 2 gives 425/edge (17000 div 40),
    B gives 850, C is dangling; pool = 150+150+1000 = 1300,
    share = 433; masses (A,B,C) = (1283, 858, 858)."""
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("A", "C")], "src string, dst string"
    )
    out = G.pagerank_integer(edges, iterations=1, start_mass=1000)
    got = {r.node: r.mass for r in out.collect()}
    assert got == {"A": 1283, "B": 858, "C": 858}
    # three iterations conserve mass modulo the documented <N/iter drift
    out3 = G.pagerank_integer(edges, iterations=3, start_mass=1000)
    total = sum(r.mass for r in out3.collect())
    assert 3000 - 9 <= total <= 3000


def test_pagerank_no_dangling_matches_general_path(spark):
    """no_dangling=True (r08 fast path: skips the nodes pass, the
    dangling branch, and the per-round all-nodes re-join) must be
    byte-identical to the general path on a qualifying graph — here a
    SYMMETRIZED edge list, the guarantee's canonical construction
    (q131's shape)."""
    directed = [(1, 2), (2, 3), (3, 1), (1, 4), (4, 2), (5, 1)]
    sym = directed + [(b, a) for a, b in directed]
    edges = spark.createDataFrame(sym, "src long, dst long")
    for iters in (1, 3):
        general = {
            r.node: r.mass
            for r in G.pagerank_integer(
                edges, iterations=iters, start_mass=1000
            ).collect()
        }
        fast = {
            r.node: r.mass
            for r in G.pagerank_integer(
                edges, iterations=iters, start_mass=1000, no_dangling=True
            ).collect()
        }
        assert fast == general


def test_triangle_count_known_graphs(spark):
    from ingestao_dados_poli_spark.operators import graph as G

    def tri(edges):
        df = spark.createDataFrame(edges, ["src", "dst"])
        return G.triangle_count(df).collect()[0]["n_triangles"]

    # a single triangle, listed with duplicates and reversed edges
    assert tri([(1, 2), (2, 3), (3, 1), (2, 1), (1, 2)]) == 1
    # K4 has 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert tri(k4) == 4
    # a path has none
    assert tri([(1, 2), (2, 3), (3, 4)]) == 0
    # self-loops are ignored
    assert tri([(1, 1), (1, 2), (2, 3), (3, 1)]) == 1


def test_auto_selects_flood_for_clique_and_star_for_path(spark, monkeypatch):
    """connected_components must keep flooding on a dedup-shaped
    quasi-clique (converges inside the probe) and switch to the star
    contraction on a high-diameter path graph — callers never need to
    know their graph's shape to dodge the diameter cliff. Asserted by
    instrumenting _cc_star, plus correctness of the result either
    way."""
    calls = []
    real_star = G._cc_star

    def spy_star(sym, max_iter):
        calls.append("star")
        return real_star(sym, max_iter)

    monkeypatch.setattr(G, "_cc_star", spy_star)

    # quasi-clique: K6 — diameter 1, probe converges, no star call
    k6 = spark.createDataFrame(
        [(i, j) for i in range(6) for j in range(i + 1, 6)], ["src", "dst"]
    )
    comps = G.connected_components(k6).collect()
    assert {r.component for r in comps} == {0} and len(comps) == 6
    assert calls == []

    # adversarial path: diameter 63 >> _PROBE_ROUNDS — must pick star
    n = 64
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    comps = G.connected_components(path).collect()
    assert {r.component for r in comps} == {0} and len(comps) == n
    assert calls == ["star"]


def test_bounded_reachability_min_depth_vs_python_bfs(spark):
    """Engine output must equal a per-source Python BFS (min hop count,
    depth cap) on a graph with cycles, diamonds (two paths of unequal
    length to the same node) and an isolated edge — the shapes where
    path-enumeration and min-depth BFS disagree."""
    edges = [
        (1, 2), (2, 3), (3, 1),        # 3-cycle
        (1, 4), (4, 5), (2, 5),        # diamond: 1->...->5 via 2 paths
        (10, 11),                      # isolated edge
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r.src, r.dst): r.depth
        for r in G.bounded_reachability(df, max_depth=3).collect()
    }

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    want = {}
    for start in {s for s, _ in edges}:
        frontier, seen, depth = [start], {start}, 0
        while frontier and depth < 3:
            depth += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if v not in seen:
                        seen.add(v)
                        want[(start, v)] = depth
                        nxt.append(v)
            frontier = nxt
    # BFS marks the start as seen (no self pair unless via a cycle);
    # the engine emits (n, n) when a cycle returns to n — align the
    # python side by allowing revisits of the start node.
    for start in {s for s, _ in edges}:
        frontier, dist = [start], {start: 0}
        d = 0
        while frontier and d < 3:
            d += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
                    elif v == start and (start, start) not in want:
                        want[(start, start)] = d
            frontier = nxt
    assert got == want


def test_bounded_reachability_early_exit_and_empty(spark):
    # depth cap far beyond the graph's reach: loop must early-exit,
    # results identical to the exact closure of a 3-chain
    chain = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    rows = sorted(
        (r.src, r.dst, r.depth)
        for r in G.bounded_reachability(chain, max_depth=10).collect()
    )
    assert rows == [(1, 2, 1), (1, 3, 2), (2, 3, 1)]
    empty = spark.createDataFrame([], "src long, dst long")
    assert G.bounded_reachability(empty, max_depth=3).count() == 0


def test_label_propagation_sync_deterministic(spark):
    """Two triangles joined by one bridge edge: after 2 sync rounds
    each triangle converges to its own min label (the bridge can't
    outvote two triangle neighbors), and an isolated node keeps its
    own label. Re-running must give the identical labeling — the
    determinism that makes q211 oracle-able."""
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    nodes = spark.createDataFrame([(n,) for n in [1, 2, 3, 10, 11, 12, 99]], ["node"])
    out1 = {
        (r.node, r.label)
        for r in G.label_propagation(df, nodes=nodes, rounds=2).collect()
    }
    out2 = {
        (r.node, r.label)
        for r in G.label_propagation(df, nodes=nodes, rounds=2).collect()
    }
    assert out1 == out2
    labels = dict(out1)
    assert labels[99] == 99  # isolated keeps its label
    assert labels[1] == labels[2] == labels[3] == 1  # triangle A -> min 1
    # triangle B: 11 and 12 see {10,11,12} -> min-tie 10; 10's own
    # neighborhood includes bridge node 3, but two round-1 votes for
    # label 1 (10 and 3 adopt it) can't outnumber its triangle
    assert labels[11] == labels[12]


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    """Vote ties must resolve to the SMALLEST candidate label — the
    semantics the q211 oracle unrolls as row_number() ORDER BY c DESC,
    label ASC, now computed via min(struct(-count, label)) (r08).
    Node 5 sees neighbors {1, 2}: one vote each for labels 1 and 2
    after round 1 — the tie must go to 1, never 2."""
    edges = [(5, 1), (5, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = {
        r.node: r.label
        for r in G.label_propagation(df, rounds=1).collect()
    }
    assert labels[5] == 1
    # and a frequency win must beat a smaller minority label:
    # node 9 sees {1, 7, 8}; after the labels start as ids, 9 adopts
    # the minority-smallest only on ties — two votes for label 7
    # (nodes 7 and 8 both relabeled 7 needs 2 rounds) — keep round 1
    # simple: 9's neighbor labels are {1, 7, 7} via duplicate edges
    df2 = spark.createDataFrame(
        [(9, 7), (9, 7), (9, 1)], ["src", "dst"]
    )
    labels2 = {
        r.node: r.label
        for r in G.label_propagation(df2, rounds=1).collect()
    }
    assert labels2[9] == 7


@pytest.mark.parametrize(
    "op", [G.bounded_reachability, G.bounded_shortest_path], ids=lambda f: f.__name__
)
def test_round_bound_below_one_raises(spark, op):
    """A bound of 1 keeps exactly the 1-hop rows; a bound below 1 has
    no answer and raises instead of returning the 1-hop rows."""
    edges = spark.createDataFrame([(1, 2, 7), (2, 3, 7)], "src long, dst long, w long")
    bound = "max_depth" if op is G.bounded_reachability else "max_hops"
    rows = sorted(tuple(r)[:2] for r in op(edges, **{bound: 1}).collect())
    assert rows == [(1, 2), (2, 3)]
    for bad in (0, -1):
        with pytest.raises(ValueError, match=f"{bound} must be >= 1"):
            op(edges, **{bound: bad})


# Spark jobs each round loop ran on a 64-node path (and CC on no edges)
# under the suite's session (8 shuffle partitions) before the loops
# shared ``_iterate``; pinned as upper bounds, so a round that gains a
# driver action fails.
LOOP_JOB_BOUNDS = {
    "cc_no_edges": 5,
    "flood_probe": 32,
    "star": 66,
    "pagerank": 31,
    "reachability": 73,
    "label_propagation": 15,
    "shortest_path": 12,
}


@pytest.mark.parametrize("loop", sorted(LOOP_JOB_BOUNDS))
def test_round_loop_job_count(spark, count_jobs, loop):
    path = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(63)], "src long, dst long, w long"
    )
    sym = G._symmetrized(path, "src", "dst")
    no_edges = spark.createDataFrame([], "src long, dst long")
    out = []
    run = {
        "cc_no_edges": lambda: G.connected_components(no_edges),
        "flood_probe": lambda: G._cc_flood(sym, G._PROBE_ROUNDS),
        "star": lambda: G._cc_star(sym, 25),
        "pagerank": lambda: G.pagerank_integer(path, iterations=3),
        "reachability": lambda: G.bounded_reachability(path, max_depth=10),
        "label_propagation": lambda: G.label_propagation(path, rounds=2),
        "shortest_path": lambda: G.bounded_shortest_path(path, max_hops=3),
    }[loop]
    assert count_jobs(f"round-loop-{loop}", lambda: out.append(run())) <= (
        LOOP_JOB_BOUNDS[loop]
    )
    if loop == "flood_probe":
        assert out == [None]  # the path outlasts the probe


def test_q200_unpriced_part_is_never_canonical(spark, tmp_path):
    """q200's survivor is the highest-priced member with unpriced parts
    last, as in its oracle's ``ORDER BY price_cents DESC`` on DuckDB:
    a cluster priced (NULL, 5.00, 3.00) keeps the 5.00 part."""
    import sys
    from pathlib import Path

    import duckdb

    import __spark_entry__ as entry

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check_oracle import canon

    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * FROM (VALUES
            (1::BIGINT, 'almond antique blue', 'Brand#11', 'T', 5, NULL::DOUBLE),
            (2, 'almond antique blush', 'Brand#11', 'T', 5, 5.0),
            (3, 'almond antique bisque', 'Brand#11', 'T', 5, 3.0),
            (4, 'lace lemon navy', 'Brand#22', 'T', 9, 9.0))
            AS t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice))
        TO '{tmp_path}/part.parquet' (FORMAT parquet)"""
    )
    con.execute(f"CREATE VIEW part AS SELECT * FROM '{tmp_path}/part.parquet'")
    name = "q200_golden_record"
    got = entry.queries()[name](spark, str(tmp_path)).toPandas()
    want = con.execute(entry.oracle_sql()[name]).fetchdf()
    # columns sorted: canonical_name, canonical_partkey, component, ...
    assert canon(want) == [("almond antique blush", "2", "1", "3", "800")]
    assert canon(got) == canon(want)
