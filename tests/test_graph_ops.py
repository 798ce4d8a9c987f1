"""Graph operator tests on a hand-drawn river tree (SURVEY.md §5.1).

Tree (flow A→B, downstream to outlet node O):

        N4      N5   N6       N7
          \\    /      \\     /
           N2            N3          (e4,e5 → N2;  e6,e7 → N3)
             \\          /
              ----N1----              (e2: N2→N1, e3: N3→N1)
                  |
                  O   (outlet)        (e1: N1→O)

Coordinates give distinct lengths so Hack main-stem choices are unambiguous:
O(0,0) N1(0,10) N2(-10,20) N3(10,20) N4(-20,40) N5(-5,35) N6(5,35) N7(18,38)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.geom.wkb import linestring_wkb
from bdtopo2refhydro_spark.operators import (
    aggregate_segments,
    edges_touching,
    fix_network_connectivity,
    hack_order,
    identify_network_nodes,
    measure_from_outlet,
    principal_stem,
    prune_slivers,
    select_connected,
    snap_endpoints_knn,
    strahler_order,
)

N = {
    "O": (0.0, 0.0), "N1": (0.0, 10.0), "N2": (-10.0, 20.0), "N3": (10.0, 20.0),
    "N4": (-20.0, 40.0), "N5": (-5.0, 35.0), "N6": (5.0, 35.0), "N7": (18.0, 38.0),
}
TREE = [  # (url, upstream_node, downstream_node)
    ("e1", "N1", "O"),
    ("e2", "N2", "N1"),
    ("e3", "N3", "N1"),
    ("e4", "N4", "N2"),
    ("e5", "N5", "N2"),
    ("e6", "N6", "N3"),
    ("e7", "N7", "N3"),
]


def _edges(spark, triples, extra=()):
    rows = [
        (u, linestring_wkb([N[a], N[b]]))
        for u, a, b in triples
    ] + list(extra)
    return spark.createDataFrame(rows, "url string, geom_wkb binary")


@pytest.fixture(scope="module")
def tree(spark):
    e = identify_network_nodes(_edges(spark, TREE), tolerance=0.5)
    from bdtopo2refhydro_spark.functions import udfs as U

    return e.withColumn("len", U.st_length("geom_wkb")).cache()


@pytest.fixture(scope="module")
def outlet(spark, tree):
    return tree.filter("url = 'e1'").select(F.col("NODEB").alias("node"))


def test_identify_nodes_shares_ids(tree):
    rows = {r.url: (r.NODEA, r.NODEB) for r in tree.collect()}
    assert rows["e2"][1] == rows["e1"][0]  # e2 flows into e1's upstream node
    assert rows["e4"][1] == rows["e2"][0]
    assert rows["e6"][1] == rows["e3"][0]
    all_nodes = {n for ab in rows.values() for n in ab}
    assert len(all_nodes) == 8  # no hash collisions, 8 distinct nodes


def test_identify_nodes_dense_mode(spark):
    e = identify_network_nodes(_edges(spark, TREE), tolerance=0.5, mode="dense")
    nodes = set()
    for r in e.collect():
        nodes.add(r.NODEA)
        nodes.add(r.NODEB)
    assert nodes == set(range(1, 9))  # sequential ids


def test_knn_snap_merges_nearby_endpoints(spark):
    # two edges ending 0.4 apart with tolerance 1.0 must share a node, even
    # across a quantization-cell boundary (endpoints straddle x=1.0)
    rows = [
        ("a", linestring_wkb([[10.0, 10.0], [0.8, 0.0]])),
        ("b", linestring_wkb([[1.2, 0.0], [10.0, -10.0]])),
        ("c", linestring_wkb([[50.0, 50.0], [60.0, 60.0]])),
    ]
    df = spark.createDataFrame(rows, "url string, geom_wkb binary")
    snapped = snap_endpoints_knn(df, tolerance=1.0)
    r = {x.url: x for x in snapped.collect()}
    assert r["a"].NODEB == r["b"].NODEA
    assert r["c"].NODEA not in (r["a"].NODEB, r["a"].NODEA)


def test_select_connected_reaches_whole_tree(spark, tree, outlet):
    noise = [("x1", linestring_wkb([[500.0, 500.0], [510.0, 510.0]]))]
    e = identify_network_nodes(_edges(spark, TREE, noise), tolerance=0.5)
    visited = select_connected(e, outlet, "both")
    keys = {r.url for r in edges_touching(e, visited).collect()}
    assert keys == {t[0] for t in TREE}  # all tree edges, not the noise


def test_select_connected_directional(tree, outlet):
    # walking upstream from the outlet reaches everything; walking
    # downstream from a leaf node reaches only its path to the outlet
    up = select_connected(tree, outlet, "up")
    assert up.count() == 8
    leaf_n4 = tree.filter("url='e4'").select(F.col("NODEA").alias("node"))
    down = select_connected(tree, leaf_n4, "down")
    keys = {r.url for r in edges_touching(tree, down, direction="down").collect()}
    assert keys == {"e4", "e2", "e1"}  # only the path N4→outlet


def test_measure_from_outlet(tree, outlet):
    m = {r.url: r.MEASURE for r in measure_from_outlet(tree, outlet).collect()}
    assert m["e1"] == pytest.approx(0.0)
    assert m["e2"] == pytest.approx(10.0)  # dist(N1)
    assert m["e4"] == pytest.approx(10.0 + np.hypot(10, 10))  # dist(N2)


def test_strahler(tree):
    s = {r.url: r.STRAHLER for r in strahler_order(tree).collect()}
    assert s == {"e4": 1, "e5": 1, "e6": 1, "e7": 1, "e2": 2, "e3": 2, "e1": 3}


def test_hack(tree, outlet):
    h = {r.url: r.HACK for r in hack_order(tree, outlet).collect()}
    # UL(e2)=14.14+22.36 > UL(e3)=14.14+19.70 → e2 is main at N1
    # UL(e4)=22.36 > UL(e5)=15.81 → e4 main at N2
    # UL(e7)=19.70 > UL(e6)=15.81 → e7 main at N3
    assert h == {"e1": 1, "e2": 1, "e4": 1, "e5": 2, "e3": 2, "e7": 2, "e6": 3}


def test_principal_stem_drops_longer_parallel_channel(spark, outlet):
    # add a second channel N3→N1 with a detour (longer) — multichannel reach
    detour = ("e3b", linestring_wkb([N["N3"], (30.0, 15.0), N["N1"]]))
    e = identify_network_nodes(_edges(spark, TREE, [detour]), tolerance=0.5)
    from bdtopo2refhydro_spark.functions import udfs as U

    e = e.withColumn("len", U.st_length("geom_wkb"))
    out = e.filter("url = 'e1'").select(F.col("NODEB").alias("node"))
    kept = {r.url for r in principal_stem(e, out).collect()}
    assert "e3" in kept and "e3b" not in kept
    assert kept == {t[0] for t in TREE}


def test_prune_slivers(spark):
    # s1 short sliver (len 5 ≤ 500) flowing into a strahler-3 edge's NODEA;
    # iso: isolated short rank-1 edge; both must be dropped, tree kept
    extra = [
        ("s1", linestring_wkb([(3.0, 12.0), N["N1"]])),
        ("iso", linestring_wkb([(900.0, 900.0), (905.0, 900.0)])),
    ]
    e = identify_network_nodes(_edges(spark, TREE, extra), tolerance=0.5)
    from bdtopo2refhydro_spark.functions import udfs as U

    e = e.withColumn("len", U.st_length("geom_wkb"))
    e = strahler_order(e)
    kept = {r.url for r in prune_slivers(e).collect()}
    assert "iso" not in kept
    assert "s1" not in kept  # flows into e1 (strahler 3)
    assert {t[0] for t in TREE} <= kept


def test_fix_connectivity_readds_bridging_canal(spark):
    # two stream components bridged by canal 'c1'; far-away canal 'c2'
    # unrelated. Removing canals disconnects the upper component; fix must
    # re-add c1 but not c2.
    rows = [
        ("s1", linestring_wkb([(0.0, 10.0), (0.0, 0.0)])),       # lower stream
        ("c1", linestring_wkb([(0.0, 20.0), (0.0, 10.0)])),      # bridge canal
        ("s2", linestring_wkb([(0.0, 30.0), (0.0, 20.0)])),      # upper stream
        ("c2", linestring_wkb([(700.0, 0.0), (700.0, 10.0)])),   # stray canal
    ]
    df = spark.createDataFrame(rows, "url string, geom_wkb binary")
    e = identify_network_nodes(df, tolerance=0.5)
    subset = spark.createDataFrame([("s1",), ("s2",)], "url string")
    outlet_nodes = e.filter("url='s1'").select(F.col("NODEB").alias("node"))
    kept = {r.url for r in
            fix_network_connectivity(e, subset, outlet_nodes).collect()}
    assert kept == {"s1", "s2", "c1"}


def test_fix_connectivity_multi_round_repair(spark):
    # two canals IN SERIES between the components: round 1 can only admit
    # c1 (touching the reached set), which exposes c2 in round 2 — the
    # greedy frontier repair must take >1 outer round (VERDICT r1 #4).
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    rows = [
        ("s1", linestring_wkb([(0.0, 10.0), (0.0, 0.0)])),
        ("c1", linestring_wkb([(0.0, 20.0), (0.0, 10.0)])),
        ("c2", linestring_wkb([(0.0, 30.0), (0.0, 20.0)])),
        ("s2", linestring_wkb([(0.0, 40.0), (0.0, 30.0)])),
    ]
    df = spark.createDataFrame(rows, "url string, geom_wkb binary")
    e = identify_network_nodes(df, tolerance=0.5)
    subset = spark.createDataFrame([("s1",), ("s2",)], "url string")
    outlet_nodes = e.filter("url='s1'").select(F.col("NODEB").alias("node"))
    m = TraversalMetrics()
    kept = {r.url for r in
            fix_network_connectivity(e, subset, outlet_nodes,
                                     metrics=m).collect()}
    assert kept == {"s1", "s2", "c1", "c2"}
    g3_rounds = [r for r in m.rounds if r.get("op") == "fix_connectivity"]
    assert len(g3_rounds) > 1


def test_aggregate_segments_collapses_chains(spark):
    # path a→b→c (degree-2 interior nodes) + junction with two arms
    rows = [
        ("a", linestring_wkb([(0.0, 30.0), (0.0, 20.0)])),
        ("b", linestring_wkb([(0.0, 20.0), (0.0, 10.0)])),
        ("c", linestring_wkb([(0.0, 10.0), (0.0, 0.0)])),
        ("arm1", linestring_wkb([(-10.0, 40.0), (0.0, 30.0)])),
        ("arm2", linestring_wkb([(10.0, 40.0), (0.0, 30.0)])),
    ]
    df = spark.createDataFrame(rows, "url string, geom_wkb binary")
    e = identify_network_nodes(df, tolerance=0.5)
    segs = aggregate_segments(e).collect()
    # arm1, arm2 stay; a+b+c merge → 3 segments
    assert len(segs) == 3
    merged = [s for s in segs if s.n_reaches == 3][0]
    assert merged.LENGTH == pytest.approx(30.0)
    assert merged.first_url == "a"
    total = sum(s.LENGTH for s in segs)
    assert total == pytest.approx(30.0 + np.hypot(10, 10) * 2)


def test_knn_snap_cell_mode_arithmetic_ids(spark):
    """node_mode='cell' encodes the snapped cell arithmetically: two
    endpoints 0.5 apart across a cell border snap to one node whose id is
    qx * 2^26 + qy of the lexicographically smaller occupied cell."""
    from bdtopo2refhydro_spark.functions.cells import CELL_SHIFT
    from bdtopo2refhydro_spark.geom.wkb import linestring_wkb
    from bdtopo2refhydro_spark.operators import snap_endpoints_knn

    import numpy as np

    edges = spark.createDataFrame(
        [
            ("a", bytearray(linestring_wkb(np.array([[10.75, 5.0], [100.0, 100.0]])))),
            ("b", bytearray(linestring_wkb(np.array([[11.25, 5.0], [200.0, 200.0]])))),
        ],
        "url string, geom_wkb binary",
    )
    out = snap_endpoints_knn(edges, tolerance=1.0, node_mode="cell")
    rows = {r["url"]: r["NODEA"] for r in out.collect()}
    dim = 1 << CELL_SHIFT
    # both A-endpoints see each other (dist 0.5): snap to min cell (10, 5)
    assert rows["a"] == rows["b"] == 10 * dim + 5


def test_local_and_distributed_paths_agree(spark, tree, outlet):
    """The small-graph fast paths (operators/_local.py) must produce
    exactly the iterative self-join results: visited set, bit-identical
    distances, identical chain roots."""
    from bdtopo2refhydro_spark.operators.aggregate import _chain_roots
    from bdtopo2refhydro_spark.operators.orders import distance_from_outlet

    seeds = outlet
    v_local = {r["node"] for r in
               select_connected(tree, seeds, "both").collect()}
    v_dist = {r["node"] for r in
              select_connected(tree, seeds, "both",
                               force_distributed=True).collect()}
    assert v_local == v_dist and len(v_local) == 8

    d_local = {r["node"]: r["dist"] for r in
               distance_from_outlet(tree, seeds).collect()}
    d_dist = {r["node"]: r["dist"] for r in
              distance_from_outlet(tree, seeds,
                                   force_distributed=True).collect()}
    assert d_local == d_dist  # bit-identical floats

    import bdtopo2refhydro_spark.operators._local as L
    roots_local = {r["url"]: r["chain_id"] for r in
                   _chain_roots(tree.select("url", "NODEA", "NODEB"),
                                "url").collect()}
    old = L.SMALL_GRAPH_ROWS
    try:
        L.SMALL_GRAPH_ROWS = -1  # force the jumping loop
        import bdtopo2refhydro_spark.operators.aggregate as A
        A._SMALL_GRAPH_ROWS = -1
        roots_dist = {r["url"]: r["chain_id"] for r in
                      _chain_roots(tree.select("url", "NODEA", "NODEB"),
                                   "url").collect()}
    finally:
        L.SMALL_GRAPH_ROWS = old
        A._SMALL_GRAPH_ROWS = old
    assert roots_local == roots_dist


def _segments_by_arm(e):
    """aggregate_segments rows from A3's three arms, sorted by GID: lazy
    under a caller's row bound, measured single-task, and distributed
    pointer jumping."""
    import bdtopo2refhydro_spark.operators.aggregate as A

    def rows(df):
        return sorted(df.collect(), key=lambda r: r.GID)

    lazy = rows(aggregate_segments(e, n_rows=e.count()))
    local = rows(aggregate_segments(e))
    old = A._SMALL_GRAPH_ROWS
    try:
        A._SMALL_GRAPH_ROWS = -1  # force the jumping loop
        dist = rows(aggregate_segments(e))
    finally:
        A._SMALL_GRAPH_ROWS = old
    return lazy, local, dist


def test_aggregate_segments_arms_agree(spark, tree):
    """A3's lazy bounded arm, its measured local arm and the distributed
    pointer-jumping arm return identical segments — GID, stitched WKB,
    end nodes, LENGTH, n_reaches, first_url — not just identical roots.
    Cases: the hand-drawn tree (junction-dense, so every chain is one
    reach) and a ring of pass-through nodes closed at a junction that
    also drains to an outflow (one stitched 4-reach chain). A ring with no
    junction at all is out of contract (operators/_local.py, cycles)."""
    ring = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    rows = [(f"r{i}", linestring_wkb([ring[i], ring[(i + 1) % 4]]))
            for i in range(4)]
    rows.append(("t0", linestring_wkb([(0.0, 0.0), (-10.0, -10.0)])))
    ring_e = identify_network_nodes(
        spark.createDataFrame(rows, "url string, geom_wkb binary"),
        tolerance=0.5)
    for e, n_segments, n_longest in ((tree, 7, 1), (ring_e, 2, 4)):
        lazy, local, dist = _segments_by_arm(e)
        assert lazy == local == dist
        assert len(lazy) == n_segments
        assert max(r.n_reaches for r in lazy) == n_longest


def _deep_chain_edges(spark, n: int, branch_every: int = 0):
    """Directed path graph e_i: node i+1 → i with integer lens (exact in
    any summation order); node 0 is the outlet end. branch_every adds a
    side edge n+i → i at every multiple, creating junctions."""
    rows = [(f"p{i}", i + 1, i, float(1 + i % 7)) for i in range(n)]
    if branch_every:
        rows += [(f"s{i}", n + 1 + i, i, float(2 + i % 5))
                 for i in range(branch_every, n, branch_every)]
    return spark.createDataFrame(
        rows, "url string, NODEA long, NODEB long, len double")


def test_log_depth_paths_match_rounds_on_deep_chain(spark):
    """VERDICT r1 #5: the O(log depth) physical strategies (min-label CC
    for BFS, chain contraction for distance) must equal the O(depth)
    round loop exactly — and take logarithmically many rounds on a deep
    path graph (integer lens → float order immaterial)."""
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics
    from bdtopo2refhydro_spark.operators.orders import distance_from_outlet

    # depth 60 keeps the O(depth)-vs-O(log depth) gap observable (60
    # rounds vs ~7) at a fraction of the wall of the old 120-deep fixture
    # — the rounds path is pure per-round fixed cost on this box
    n = 60
    e = _deep_chain_edges(spark, n, branch_every=20).cache()
    outlet = spark.createDataFrame([(0,)], "node long")

    # BFS: cc vs rounds vs local all equal
    m_cc = TraversalMetrics()
    v_cc = {r.node for r in select_connected(
        e, outlet, "both", force_distributed=True, algorithm="cc",
        metrics=m_cc).collect()}
    v_rounds = {r.node for r in select_connected(
        e, outlet, "both", force_distributed=True, algorithm="rounds",
        metrics=TraversalMetrics()).collect()}
    v_local = {r.node for r in select_connected(e, outlet, "both").collect()}
    assert v_cc == v_rounds == v_local
    cc_rounds = len([r for r in m_cc.rounds
                     if r.get("op") == "connected_components"])
    assert 0 < cc_rounds <= 16  # ~log2(n) + convergence check, not n

    # distance: contract vs rounds vs local bit-identical (integer lens)
    m_c = TraversalMetrics()
    d_contract = {r.node: r.dist for r in distance_from_outlet(
        e, outlet, force_distributed=True, algorithm="contract",
        metrics=m_c).collect()}
    d_rounds = {r.node: r.dist for r in distance_from_outlet(
        e, outlet, force_distributed=True, algorithm="rounds",
        metrics=TraversalMetrics()).collect()}
    d_local = {r.node: r.dist for r in
               distance_from_outlet(e, outlet).collect()}
    assert d_contract == d_rounds == d_local
    # the contract path's own relaxation ran on the ~8-junction graph
    relax_rounds = len([r for r in m_c.rounds
                        if r.get("op") == "distance_from_outlet"
                        and "round" in r])
    contract_modes = [r for r in m_c.rounds if r.get("mode") == "contract"]
    assert contract_modes and contract_modes[0]["super_edges"] < n // 10


def test_order_contract_paths_match_rounds(spark):
    """upstream_length / hack_order / strahler_order contraction must
    equal the literal round loops exactly (integer lens → UL float order
    immaterial; HACK/STRAHLER are integers always)."""
    import bdtopo2refhydro_spark.operators.orders as O
    from bdtopo2refhydro_spark.operators import upstream_length

    # depth 40 with three junctions: deep enough that any contract/rounds
    # divergence in chain folding or junction handling shows; the rounds
    # path costs O(depth) Spark jobs, so depth is the test's wall time
    e = _deep_chain_edges(spark, 40, branch_every=10).cache()
    outlet = spark.createDataFrame([(0,)], "node long")

    def run(algorithm):
        ul = {r.url: r.UL for r in
              upstream_length(e, algorithm=algorithm).collect()}
        hk = {r.url: r.HACK for r in
              hack_order(e, outlet, algorithm=algorithm).collect()}
        st = {r.url: r.STRAHLER for r in
              strahler_order(e, algorithm=algorithm).collect()}
        return ul, hk, st

    local = run("auto")                     # below threshold → local
    old = O._SMALL_GRAPH_ROWS
    try:
        O._SMALL_GRAPH_ROWS = -1
        import bdtopo2refhydro_spark.operators.aggregate as A
        import bdtopo2refhydro_spark.operators._local as L
        A._SMALL_GRAPH_ROWS = -1
        L.SMALL_GRAPH_ROWS = -1
        contract = run("contract")
        rounds = run("rounds")
    finally:
        O._SMALL_GRAPH_ROWS = old
        A._SMALL_GRAPH_ROWS = old
        L.SMALL_GRAPH_ROWS = old
    assert contract == rounds == local


def test_bounded_max_iter_truncates_bfs(spark):
    """max_iter as a semantic depth bound must be honored (ADVICE r1):
    bounded calls pin the round-based path on every input size."""
    e = _deep_chain_edges(spark, 50)
    outlet = spark.createDataFrame([(0,)], "node long")
    v = {r.node for r in
         select_connected(e, outlet, "both", max_iter=3).collect()}
    assert v == {0, 1, 2, 3}


def test_local_and_distributed_orders_agree(spark, tree, outlet):
    """upstream / Hack / Strahler local fast paths must equal the
    distributed fixpoints exactly (floats bit-identical, same nulls)."""
    import bdtopo2refhydro_spark.operators.orders as O
    from bdtopo2refhydro_spark.operators import upstream_length

    def snap():
        ul = {r.url: r.UL for r in upstream_length(tree).collect()}
        hk = {r.url: r.HACK for r in hack_order(tree, outlet).collect()}
        st = {r.url: r.STRAHLER for r in strahler_order(tree).collect()}
        return ul, hk, st

    local = snap()
    old = O._SMALL_GRAPH_ROWS
    try:
        O._SMALL_GRAPH_ROWS = -1
        dist = snap()
    finally:
        O._SMALL_GRAPH_ROWS = old
    assert local == dist


def test_auto_strategy_follows_chain_fraction(spark):
    """algorithm='auto' above the size threshold must pick contraction on
    a chain-dominated graph and the round loop on a junction-dense one
    (the r3 pass-through-fraction probe; values must match either way)."""
    import bdtopo2refhydro_spark.operators.orders as O
    from bdtopo2refhydro_spark.operators import upstream_length
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    chainy = _deep_chain_edges(spark, 80)               # pure path: ~1.0
    # star: every edge i -> 0 shares one junction head, no chains
    star = spark.createDataFrame(
        [(f"b{i}", i, 0, 1.0) for i in range(1, 60)],
        "url string, NODEA long, NODEB long, len double")
    old = O._SMALL_GRAPH_ROWS
    try:
        O._SMALL_GRAPH_ROWS = -1
        m = TraversalMetrics()
        ul_c = {r.url: r.UL for r in
                upstream_length(chainy, metrics=m).collect()}
        assert {r["mode"] for r in m.rounds if "mode" in r} >= {"contract"}
        m = TraversalMetrics()
        ul_s = {r.url: r.UL for r in
                upstream_length(star, metrics=m).collect()}
        assert "rounds_chainpoor" in {r["mode"] for r in m.rounds
                                      if "mode" in r}
    finally:
        O._SMALL_GRAPH_ROWS = old
    assert ul_c == {r.url: r.UL for r in upstream_length(chainy).collect()}
    assert ul_s == {r.url: r.UL for r in upstream_length(star).collect()}


def test_subtree_counts_and_tree_betweenness_golden(spark):
    r"""Hand-computed tree:        0
                                 / \
                                1   2
                               / \    \
                              3   4    5
                              |
                              6
    Edges are child->parent, one per child node. n = 7 nodes.
    subtree edge counts: e1=4 (1,3,4,6), e2=2 (2,5), e3=2, e4=1,
    e5=1, e6=1. betweenness(e) = s*(7-s)."""
    edges = [("e1", 1, 0), ("e2", 2, 0), ("e3", 3, 1), ("e4", 4, 1),
             ("e5", 5, 2), ("e6", 6, 3)]
    df = spark.createDataFrame(edges, "url string, NODEA long, NODEB long")
    from bdtopo2refhydro_spark.operators.orders import (
        subtree_counts, tree_edge_betweenness)

    sub = {r["url"]: r["SUB"] for r in subtree_counts(df).collect()}
    assert sub == {"e1": 4, "e2": 2, "e3": 2, "e4": 1, "e5": 1, "e6": 1}

    got = {r["url"]: (r["sub_nodes"], r["n_nodes"], r["betweenness"])
           for r in tree_edge_betweenness(df).collect()}
    for u, s in sub.items():
        assert got[u] == (s, 7, s * (7 - s))


def test_subtree_counts_rounds_equals_local(spark):
    """The distributed bounded-round fixpoint == the single-task
    topological pass, on a forest with two components and a chain."""
    edges = ([("c%d" % i, i, i - 1) for i in range(1, 9)]  # chain 0..8
             + [("t1", 101, 100), ("t2", 102, 100), ("t3", 103, 101)])
    df = spark.createDataFrame(edges, "url string, NODEA long, NODEB long")
    from bdtopo2refhydro_spark.operators.orders import subtree_counts

    local = {r["url"]: r["SUB"]
             for r in subtree_counts(df, algorithm="auto").collect()}
    rounds = {r["url"]: r["SUB"]
              for r in subtree_counts(df, algorithm="rounds").collect()}
    assert local == rounds
    assert local["c1"] == 8 and local["c8"] == 1
    assert local["t1"] == 2 and local["t2"] == 1 and local["t3"] == 1


def test_boruvka_equals_kruskal_on_pseudorandom_graph(spark):
    """boruvka_mst == a sequential Kruskal union-find reference on a
    deterministic LCG multigraph (distinct weights -> unique MST)."""
    edges = []
    x = 7
    for i in range(90):
        x = (x * 1103515245 + 12345) % 2147483648
        u = x % 40
        v = (x // 40) % 40
        if u == v:
            v = (v + 1) % 40
        edges.append((f"e{i:03d}", u, v, i * 1000 + (x % 997)))

    parent = list(range(40))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    want = set()
    for eid, u, v, w in sorted(edges, key=lambda t: t[3]):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            want.add(eid)

    from bdtopo2refhydro_spark.operators.graph import boruvka_mst

    df = spark.createDataFrame(edges, "eid string, u long, v long, w long")
    got = {r["eid"] for r in boruvka_mst(df).collect()}
    assert got == want


def test_functional_cycles_rho_golden(spark):
    """Hand-built rho: tail 10->11->12 into 3-cycle {12,13,14}; plus a
    self-loop {5} with tail 4->5; plus a 2-cycle {20,21}."""
    f = [(10, 11), (11, 12), (12, 13), (13, 14), (14, 12),
         (4, 5), (5, 5), (20, 21), (21, 20)]
    df = spark.createDataFrame(f, "node long, nxt long")
    from bdtopo2refhydro_spark.operators.graph import (
        functional_graph_cycles)

    got = {r["node"]: (r["on_cycle"], r["cycle_id"])
           for r in functional_graph_cycles(df).collect()}
    assert got == {
        10: (False, 12), 11: (False, 12), 12: (True, 12),
        13: (True, 12), 14: (True, 12),
        4: (False, 5), 5: (True, 5),
        20: (True, 20), 21: (True, 20)}


def test_temporal_reachability_respects_time(spark):
    """1 -t3-> 2 -t1-> 3: node 3 is NOT time-reachable through 2
    (t1 < t3), but 1 -t5-> 3 direct works; arrival keeps the min."""
    edges = [(1, 2, 3), (2, 3, 1), (1, 3, 5), (3, 4, 6), (9, 1, 0)]
    df = spark.createDataFrame(edges, "u long, v long, t long")
    src = spark.createDataFrame([(1,)], "node long")
    from bdtopo2refhydro_spark.operators.graph import (
        temporal_reachability)

    got = {r["node"]: r["arrival"]
           for r in temporal_reachability(df, src).collect()}
    assert got == {1: 0, 2: 3, 3: 5, 4: 6}
