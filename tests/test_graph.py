"""Fixed-point PageRank and HITS (operators/graph.py): exactness against
pure-Python reference iterations, dangling-node handling, and mass
conservation."""

import pytest
from pyspark.sql import functions as F

from geospatial_web_scraper_spark.operators.graph import (
    HITS_SCALE,
    SCALE,
    hits_fixed_point,
    pagerank_fixed_point,
)


def _py_pagerank(n_nodes, edges, iters=5):
    """The spec, straight-line: same integer ops, any iteration order."""
    e = sorted(set(edges))
    od = {}
    for s, _ in e:
        od[s] = od.get(s, 0) + 1
    r = {v: SCALE // n_nodes for v in range(n_nodes)}
    base = (15 * SCALE // 100) // n_nodes
    for _ in range(iters):
        dang = sum(r[v] for v in range(n_nodes) if od.get(v, 0) == 0)
        contrib = {}
        for s, d in e:
            contrib[d] = contrib.get(d, 0) + r[s] // od[s]
        r = {
            v: base + (85 * (contrib.get(v, 0) + dang // n_nodes)) // 100
            for v in range(n_nodes)
        }
    return r, od, e


def _run(spark, n_nodes, edges, iters=5):
    nodes = spark.range(n_nodes).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    got = pagerank_fixed_point(nodes, e, iters=iters)
    return {r["node_id"]: r for r in got.collect()}


@pytest.mark.parametrize(
    "n_nodes,edges",
    [
        # hub-and-spoke: 0 -> {1,2,3}, all point back to 0
        (4, [(0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 0)]),
        # chain with a dangling tail and a self-loop
        (5, [(0, 1), (1, 2), (2, 3), (3, 3)]),
        # disconnected node 4 + duplicate edge (must dedup)
        (5, [(0, 1), (0, 1), (1, 0), (2, 3)]),
    ],
)
def test_matches_python_reference(spark, n_nodes, edges):
    want, od, e = _py_pagerank(n_nodes, edges)
    got = _run(spark, n_nodes, edges)
    ind = {}
    for _, d in e:
        ind[d] = ind.get(d, 0) + 1
    assert set(got) == set(range(n_nodes))
    for v in range(n_nodes):
        assert got[v]["rank_fp"] == want[v], (v, got[v], want[v])
        assert got[v]["out_deg"] == od.get(v, 0)
        assert got[v]["in_deg"] == ind.get(v, 0)


def test_mass_conserved_up_to_truncation(spark):
    n, edges = 6, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 0), (0, 3)]
    got = _run(spark, n, edges)
    total = sum(r["rank_fp"] for r in got.values())
    # floor divisions only ever LOSE mass, at most (n_edges + n + 2) units/iter
    assert total <= SCALE
    assert total >= SCALE - 5 * (len(edges) + n + 2)
    assert all(r["rank_fp"] > 0 for r in got.values())


def test_sink_collects_more_than_isolated(spark):
    # every node feeds 3; node 4 is isolated (teleport + dangling share only)
    got = _run(spark, 5, [(0, 3), (1, 3), (2, 3)])
    assert got[3]["rank_fp"] > got[4]["rank_fp"]


def test_empty_graph(spark):
    got = _run(spark, 3, [])
    # no edges: every node is dangling; ranks stay equal and positive
    vals = {r["rank_fp"] for r in got.values()}
    assert len(vals) == 1 and vals.pop() > 0


def _py_weighted(n_nodes, wedges, iters=5):
    od = {}
    for s, _, w in wedges:
        od[s] = od.get(s, 0) + w
    r = {v: SCALE // n_nodes for v in range(n_nodes)}
    base = (15 * SCALE // 100) // n_nodes
    for _ in range(iters):
        dang = sum(r[v] for v in range(n_nodes) if od.get(v, 0) == 0)
        contrib = {}
        for s, d, w in wedges:
            contrib[d] = contrib.get(d, 0) + r[s] * w // od[s]
        r = {
            v: base + (85 * (contrib.get(v, 0) + dang // n_nodes)) // 100
            for v in range(n_nodes)
        }
    return r


def test_weighted_matches_python_reference(spark):
    # 0 splits 3:1 between 1 and 2; 3 feeds 0; duplicate (0,1) rows must
    # weight-SUM (2+1 = 3), not dedup
    wedges = [(0, 1, 2), (0, 1, 1), (0, 2, 1), (1, 0, 5), (3, 0, 2)]
    nodes = spark.range(4).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = {
        r["node_id"]: r
        for r in pagerank_fixed_point(nodes, e, weight_col="w").collect()
    }
    exp = _py_weighted(4, [(0, 1, 3), (0, 2, 1), (1, 0, 5), (3, 0, 2)])
    for v in range(4):
        assert got[v]["rank_fp"] == exp[v], v
    assert got[0]["out_deg"] == 4 and got[0]["in_deg"] == 7
    # the 3:1 split must rank node 1 above node 2
    assert got[1]["rank_fp"] > got[2]["rank_fp"]


def _py_hits(n_nodes, edges, iters=5):
    """The HITS spec, straight-line: same integer ops, any sum order."""
    e = sorted(set(edges))
    h = {v: HITS_SCALE for v in range(n_nodes)}
    a = {v: 0 for v in range(n_nodes)}
    for _ in range(iters):
        ar = {}
        for s, d in e:
            ar[d] = ar.get(d, 0) + h[s]
        am = max(max(ar.values(), default=0), 1)
        a = {v: ar.get(v, 0) * HITS_SCALE // am for v in range(n_nodes)}
        hr = {}
        for s, d in e:
            hr[s] = hr.get(s, 0) + a[d]
        hm = max(max(hr.values(), default=0), 1)
        h = {v: hr.get(v, 0) * HITS_SCALE // hm for v in range(n_nodes)}
    return h, a


@pytest.mark.parametrize(
    "n_nodes,edges",
    [
        # bipartite hubs->authorities: 0,1 each link 2,3; 1 also links 4
        (5, [(0, 2), (0, 3), (1, 2), (1, 3), (1, 4)]),
        # chain + self-loop + isolated node 4
        (5, [(0, 1), (1, 2), (2, 3), (3, 3)]),
        # duplicate edge must dedup; disconnected component
        (5, [(0, 1), (0, 1), (1, 0), (2, 3)]),
        # no edges at all: rescale guard (max -> 1), all scores 0
        (3, []),
    ],
)
def test_hits_matches_python_reference(spark, n_nodes, edges):
    want_h, want_a = _py_hits(n_nodes, edges)
    nodes = spark.range(n_nodes).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    got = {r["node_id"]: r for r in hits_fixed_point(nodes, e).collect()}
    ind, od = {}, {}
    for s, d in set(edges):
        od[s] = od.get(s, 0) + 1
        ind[d] = ind.get(d, 0) + 1
    assert set(got) == set(range(n_nodes))
    for v in range(n_nodes):
        assert got[v]["hub_fp"] == want_h[v], (v, got[v], want_h[v])
        assert got[v]["auth_fp"] == want_a[v], (v, got[v], want_a[v])
        assert got[v]["out_deg"] == od.get(v, 0)
        assert got[v]["in_deg"] == ind.get(v, 0)


def test_hits_hub_and_authority_semantics(spark):
    """The defining asymmetry: a pure hub (outlinks only) gets hub score
    but zero authority; a pure authority the reverse; scores stay in
    [0, HITS_SCALE] with the max attained."""
    # 0 and 1 are hubs over {2, 3}; 1 also reaches 4 -> 1 is the top hub;
    # 2 and 3 are co-cited by both hubs -> top authorities
    edges = [(0, 2), (0, 3), (1, 2), (1, 3), (1, 4)]
    nodes = spark.range(5).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node_id"]: r for r in hits_fixed_point(nodes, e).collect()}
    assert got[1]["hub_fp"] == HITS_SCALE  # max rescale attained
    assert got[1]["hub_fp"] > got[0]["hub_fp"] > 0
    assert got[0]["auth_fp"] == 0 and got[1]["auth_fp"] == 0
    assert got[2]["auth_fp"] == got[3]["auth_fp"] == HITS_SCALE
    assert 0 < got[4]["auth_fp"] < HITS_SCALE  # single-hub citation
    assert got[2]["hub_fp"] == 0  # pure authorities never hub
    assert all(
        0 <= r[k] <= HITS_SCALE for r in got.values() for k in ("hub_fp", "auth_fp")
    )


@pytest.mark.parametrize("seed", [11, 23])
def test_random_graph_parity_both_operators(spark, seed):
    """Seeded random digraphs (duplicate edges, self-loops, dangling and
    isolated nodes all arise naturally): both fixed-point operators must
    match their straight-line Python references EXACTLY — the
    order-independence claim, exercised off the hand-built cases."""
    import random

    rng = random.Random(seed)
    n = 40
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(60, 120))
    ]
    nodes = spark.range(n).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges, "src long, dst long")
    want_pr, _, _ = _py_pagerank(n, edges)
    got_pr = {
        r["node_id"]: r["rank_fp"]
        for r in pagerank_fixed_point(nodes, e).collect()
    }
    assert got_pr == want_pr
    want_h, want_a = _py_hits(n, edges)
    got = {r["node_id"]: r for r in hits_fixed_point(nodes, e).collect()}
    assert {v: r["hub_fp"] for v, r in got.items()} == want_h
    assert {v: r["auth_fp"] for v, r in got.items()} == want_a


def test_weight_one_equals_unweighted(spark):
    edges = [(0, 1), (1, 2), (2, 0), (0, 2)]
    nodes = spark.range(3).select(F.col("id").alias("node_id"))
    e1 = spark.createDataFrame(edges, "src long, dst long")
    ew = e1.select("src", "dst", F.lit(1).alias("w"))
    un = {r["node_id"]: r["rank_fp"]
          for r in pagerank_fixed_point(nodes, e1).collect()}
    we = {r["node_id"]: r["rank_fp"]
          for r in pagerank_fixed_point(nodes, ew, weight_col="w").collect()}
    assert un == we


# ---------------------------------------------------------------- triangles


def _py_triangles(edges):
    """Brute-force spec: undirected dedup, loops dropped, per-node
    membership counts over all closed vertex triples."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({v for e in und for v in e})
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    counts = {v: 0 for v in nodes}
    import itertools

    for x, y, z in itertools.combinations(nodes, 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            counts[x] += 1
            counts[y] += 1
            counts[z] += 1
    deg = {v: len(adj[v]) for v in nodes}
    return {v: (deg[v], counts[v]) for v in nodes}


def _tri_run(spark, edges):
    from geospatial_web_scraper_spark.operators.graph import triangle_counts

    e = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node_id"]: (r["degree"], r["n_triangles"])
        for r in triangle_counts(e).collect()
    }


def test_triangles_k4_plus_pendant(spark):
    """K4: every node sits in 3 of the 4 triangles; a pendant hangs at
    zero; loops and duplicate/reversed edges fold away."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both dirs
    edges = k4 + [(0, 0), (3, 4), (4, 3), (1, 2)]  # loop, pendant, dup
    got = _tri_run(spark, edges)
    assert got == {
        0: (3, 3),
        1: (3, 3),
        2: (3, 3),
        3: (4, 3),
        4: (1, 0),
    }


def test_triangles_star_has_none(spark):
    """A pure star (the link-farm shape the orientation defuses) has
    degree but no triangles anywhere."""
    edges = [(0, i) for i in range(1, 30)]
    got = _tri_run(spark, edges)
    assert got[0] == (29, 0)
    assert all(got[i] == (1, 0) for i in range(1, 30))


@pytest.mark.parametrize("seed", [7, 23])
def test_triangles_random_graph_matches_bruteforce(spark, seed):
    """Erdős–Rényi-ish digraph with dups/loops: the oriented wedge join
    equals the O(n³) Python spec node-for-node."""
    import random

    rng = random.Random(seed)
    n = 40
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(260)
    ]
    got = _tri_run(spark, edges)
    assert got == _py_triangles(edges)


# ------------------------------------------------------- personalized PR


def _py_ppr(n_nodes, edges, seeds, iters=5):
    """The personalized spec, straight-line: teleport AND dangling mass
    go uniformly to the seed set only."""
    e = sorted(set(edges))
    od = {}
    for s, _ in e:
        od[s] = od.get(s, 0) + 1
    k = len(seeds)
    r = {v: (SCALE // k if v in seeds else 0) for v in range(n_nodes)}
    base = (15 * SCALE // 100) // k
    for _ in range(iters):
        dang = sum(r[v] for v in range(n_nodes) if od.get(v, 0) == 0)
        contrib = {}
        for s, d in e:
            contrib[d] = contrib.get(d, 0) + r[s] // od[s]
        r = {
            v: (base if v in seeds else 0)
            + (
                85
                * (contrib.get(v, 0) + (dang // k if v in seeds else 0))
            )
            // 100
            for v in range(n_nodes)
        }
    return r


def _ppr_run(spark, n_nodes, edges, seeds):
    from geospatial_web_scraper_spark.operators.graph import (
        personalized_pagerank,
    )

    nodes = spark.range(n_nodes).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    sdf = spark.createDataFrame([(s,) for s in seeds], "node_id long")
    return personalized_pagerank(nodes, e, sdf)


@pytest.mark.parametrize(
    "n_nodes,edges,seeds",
    [
        (6, [(0, 1), (1, 2), (2, 0), (3, 4), (0, 2), (5, 0)], {0}),
        (8, [(i, (i * 3 + 1) % 8) for i in range(8)] + [(2, 5)], {1, 4}),
        (5, [], {0, 3}),
    ],
)
def test_ppr_matches_python_reference(spark, n_nodes, edges, seeds):
    got = {
        r["node_id"]: r["rank_fp"]
        for r in _ppr_run(spark, n_nodes, edges, seeds).collect()
    }
    assert got == _py_ppr(n_nodes, edges, seeds)


def test_ppr_all_seeds_equals_plain_pagerank(spark):
    """seeds == every node makes the formulas coincide (|seeds| = N):
    digit-for-digit equality with pagerank_fixed_point."""
    edges = [(i, (i * 5 + 2) % 12) for i in range(12)] + [(3, 7), (7, 3)]
    ppr = {
        r["node_id"]: r["rank_fp"]
        for r in _ppr_run(spark, 12, edges, set(range(12))).collect()
    }
    nodes = spark.range(12).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges, "src long, dst long")
    plain = {
        r["node_id"]: r["rank_fp"]
        for r in pagerank_fixed_point(nodes, e).collect()
    }
    assert ppr == plain


def test_ppr_unreachable_is_exactly_zero(spark):
    """A node with no path from any seed holds rank EXACTLY 0 — integer
    zero, not a small float — while reachable non-seeds earn mass."""
    # seed 0 → 1 → 2; component {3, 4} is seedless
    rows = _ppr_run(
        spark, 5, [(0, 1), (1, 2), (3, 4), (4, 3)], {0}
    ).collect()
    got = {r["node_id"]: r for r in rows}
    assert got[3]["rank_fp"] == 0 and got[4]["rank_fp"] == 0
    assert got[1]["rank_fp"] > 0 and got[2]["rank_fp"] > 0
    assert got[0]["is_seed"] and not got[3]["is_seed"]


def test_ppr_empty_seeds_raises(spark):
    import pytest as _pytest

    from geospatial_web_scraper_spark.operators.graph import (
        personalized_pagerank,
    )

    nodes = spark.range(3).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pytest.raises(ValueError):
        personalized_pagerank(nodes, e, nodes.limit(0))


def test_ppr_seed_normalization(spark):
    """Duplicate seed rows and seed ids absent from `nodes` must not
    shrink the teleport denominator: the normalized call equals the
    clean-seed call digit-for-digit (review r5f)."""
    from geospatial_web_scraper_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    nodes = spark.range(4).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges, "src long, dst long")
    clean = spark.createDataFrame([(0,), (2,)], "node_id long")
    dirty = spark.createDataFrame(
        [(0,), (0,), (2,), (99,)], "node_id long"
    )  # dup + foreign
    a = {r["node_id"]: tuple(r) for r in
         personalized_pagerank(nodes, e, clean).collect()}
    b = {r["node_id"]: tuple(r) for r in
         personalized_pagerank(nodes, e, dirty).collect()}
    assert a == b


# --------------------------------------------------------------------------
# r5h: multi-source BFS link distance (bfs_distances)
# --------------------------------------------------------------------------

from geospatial_web_scraper_spark.operators.graph import (  # noqa: E402
    bfs_distances,
    opic_fixed_point,
)


def _py_bfs(n_nodes, edges, seeds, rounds=8):
    """The spec, straight-line: synchronous level expansion, first wins."""
    adj = {}
    for s, d in sorted(set(edges)):
        adj.setdefault(s, []).append(d)
    dist = {v: 0 for v in set(seeds) if 0 <= v < n_nodes}
    frontier = set(dist)
    for t in range(1, rounds + 1):
        if not frontier:
            break
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = t
        frontier = nxt
    return {v: dist.get(v, -1) for v in range(n_nodes)}


def _run_bfs(spark, n_nodes, edges, seeds, rounds=8):
    nodes = spark.range(n_nodes).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    s = spark.createDataFrame([(v,) for v in seeds], "node_id long")
    got = bfs_distances(nodes, e, s, rounds=rounds)
    return {r["node_id"]: r["dist"] for r in got.collect()}


@pytest.mark.parametrize(
    "n_nodes,edges,seeds",
    [
        # chain from a single seed; tail out of reach at rounds=2
        (6, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)], [0]),
        # two seeds racing into a diamond: min distance must win
        (5, [(0, 2), (1, 2), (2, 3), (3, 4)], [0, 1]),
        # cycle + disconnected node (stays -1)
        (5, [(0, 1), (1, 2), (2, 0)], [0]),
        # duplicate seeds + duplicate edges (both must dedup)
        (4, [(0, 1), (0, 1), (1, 2)], [0, 0]),
    ],
)
def test_bfs_matches_python_reference(spark, n_nodes, edges, seeds):
    assert _run_bfs(spark, n_nodes, edges, seeds) == _py_bfs(
        n_nodes, edges, seeds
    )


def test_bfs_round_cap_truncates(spark):
    # chain 0->1->2->3->4->5 with rounds=2: nodes past level 2 stay -1
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
    got = _run_bfs(spark, 6, edges, [0], rounds=2)
    assert got == {0: 0, 1: 1, 2: 2, 3: -1, 4: -1, 5: -1}


def test_bfs_early_stop_equals_exact_cap(spark):
    # rounds far past convergence changes nothing (both engines no-op)
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    assert _run_bfs(spark, 5, edges, [0], rounds=3) == _run_bfs(
        spark, 5, edges, [0], rounds=50
    )


def test_bfs_seeds_outside_nodes_dropped(spark):
    # a seed id not in `nodes` must not seed anything
    got = _run_bfs(spark, 3, [(0, 1)], [0, 99])
    assert got == {0: 0, 1: 1, 2: -1}


def test_bfs_random_graph_parity(spark):
    import random

    rng = random.Random(421)
    n = 40
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(160)
    ]
    seeds = [rng.randrange(n) for _ in range(4)]
    assert _run_bfs(spark, n, edges, seeds) == _py_bfs(n, edges, seeds)


# --------------------------------------------------------------------------
# r5h: synchronous OPIC (opic_fixed_point)
# --------------------------------------------------------------------------


def _py_opic(n_nodes, edges, rounds=5):
    """The spec, straight-line: same integer ops, any iteration order."""
    e = sorted(set(edges))
    od = {}
    for s, _ in e:
        od[s] = od.get(s, 0) + 1
    c = {v: SCALE // n_nodes for v in range(n_nodes)}
    h = {v: 0 for v in range(n_nodes)}
    for _ in range(rounds):
        dang = sum(c[v] for v in range(n_nodes) if od.get(v, 0) == 0)
        g = {}
        for s, d in e:
            g[d] = g.get(d, 0) + c[s] // od[s]
        h = {v: h[v] + c[v] for v in range(n_nodes)}
        c = {v: g.get(v, 0) + dang // n_nodes for v in range(n_nodes)}
    return {v: (od.get(v, 0), c[v], h[v] + c[v]) for v in range(n_nodes)}


def _run_opic(spark, n_nodes, edges, rounds=5):
    nodes = spark.range(n_nodes).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    got = opic_fixed_point(nodes, e, rounds=rounds)
    return {
        r["node_id"]: (r["out_deg"], r["cash_fp"], r["hist_fp"])
        for r in got.collect()
    }


@pytest.mark.parametrize(
    "n_nodes,edges",
    [
        # hub-and-spoke
        (4, [(0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 0)]),
        # chain with dangling tail + self-loop
        (5, [(0, 1), (1, 2), (2, 3), (3, 3)]),
        # disconnected node + duplicate edge (must dedup)
        (5, [(0, 1), (0, 1), (1, 0), (2, 3)]),
    ],
)
def test_opic_matches_python_reference(spark, n_nodes, edges):
    assert _run_opic(spark, n_nodes, edges) == _py_opic(n_nodes, edges)


def test_opic_wealth_never_increases(spark):
    # floor division only loses cash: total in-hand cash is monotonically
    # non-increasing, and never exceeds the initial S (up to the div floor)
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1)]
    got = _run_opic(spark, 5, edges, rounds=7)
    assert sum(c for _, c, _ in got.values()) <= SCALE


def test_opic_hub_banks_more_history(spark):
    # the hub receives 3 full shares per round, each leaf one third:
    # the banked history must rank the hub first
    got = _run_opic(spark, 4, [(0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 0)])
    assert got[0][2] > got[1][2] == got[2][2] == got[3][2]


def test_opic_random_graph_parity(spark):
    import random

    rng = random.Random(733)
    n = 30
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    assert _run_opic(spark, n, edges, rounds=4) == _py_opic(
        n, edges, rounds=4
    )


def test_opic_empty_graph(spark):
    nodes = spark.range(0).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame([], "src long, dst long")
    assert opic_fixed_point(nodes, e).count() == 0


# ---------------------------------------------------------------------------
# lpa_communities — deterministic synchronous label propagation (r5k)
# ---------------------------------------------------------------------------

from geospatial_web_scraper_spark.operators.graph import (  # noqa: E402
    lpa_communities,
)


def _py_lpa(n, edges, rounds=4):
    """Pure-Python mirror of the synchronous LPA fold."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbr = {v: [] for v in range(n)}
    for a, b in und:
        nbr[a].append(b)
        nbr[b].append(a)
    lab = {v: v for v in range(n)}
    for _ in range(rounds):
        new = {}
        for v in range(n):
            if not nbr[v]:
                new[v] = lab[v]
                continue
            cnt = {}
            for u in nbr[v]:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            new[v] = min(cnt, key=lambda L: (-cnt[L], L))
        lab = new
    size = {}
    for L in lab.values():
        size[L] = size.get(L, 0) + 1
    return {v: (lab[v], size[lab[v]]) for v in range(n)}


def _run_lpa(spark, n, edges, rounds=4):
    nodes = spark.range(n).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    got = lpa_communities(nodes, e, rounds=rounds).collect()
    return {r["node_id"]: (r["label"], r["comm_size"]) for r in got}


def test_lpa_two_cliques_with_bridge(spark):
    # two triangles 0-1-2 and 3-4-5 joined by the 2-3 bridge: labels
    # settle to min-id within each clique, the bridge never flips a side
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    got = _run_lpa(spark, 6, edges)
    assert got == _py_lpa(6, edges)
    labs = {got[v][0] for v in (0, 1, 2)}, {got[v][0] for v in (3, 4, 5)}
    assert all(len(s) == 1 for s in labs) and labs[0] != labs[1]


def test_lpa_isolated_node_keeps_own_label(spark):
    got = _run_lpa(spark, 4, [(0, 1), (1, 0), (0, 0)])
    assert got[2] == (2, 1) and got[3] == (3, 1)


def test_lpa_tie_breaks_to_smallest_label(spark):
    # node 2's neighbors 0 and 1 each carry their own label once after
    # round 0 → tie resolves to label 0 on the first update
    got = _run_lpa(spark, 3, [(0, 2), (1, 2)], rounds=1)
    assert got[2][0] == 0
    assert got == _py_lpa(3, [(0, 2), (1, 2)], rounds=1)


def test_lpa_random_graph_parity(spark):
    import random

    rng = random.Random(911)
    n = 40
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(160)]
    for rounds in (1, 3, 4):
        assert _run_lpa(spark, n, edges, rounds=rounds) == _py_lpa(
            n, edges, rounds=rounds
        )


def test_lpa_plan_has_no_window(spark):
    nodes = spark.range(8).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    plan = (
        lpa_communities(nodes, e, rounds=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan  # argmax is max(struct), never a window
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# kcore_members — synchronous peel (r5k)
# ---------------------------------------------------------------------------

from geospatial_web_scraper_spark.operators.graph import (  # noqa: E402
    kcore_members,
)


def _py_kcore(n, edges, k, rounds=16):
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    alive = set(range(n))
    for _ in range(rounds):
        deg = {}
        for a, b in und:
            if a in alive and b in alive:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
        new = {v for v, d in deg.items() if d >= k}
        if new == alive:
            break
        alive = new
    deg = {}
    for a, b in und:
        if a in alive and b in alive:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
    return {v: (v in alive, deg.get(v, 0)) for v in range(n)}


def _run_kcore(spark, n, edges, k, rounds=16):
    nodes = spark.range(n).select(F.col("id").alias("node_id"))
    e = spark.createDataFrame(edges, "src long, dst long")
    got = kcore_members(nodes, e, k=k, rounds=rounds).collect()
    return {r["node_id"]: (r["in_core"], r["deg_in_core"]) for r in got}


def test_kcore_triangle_with_pendant_chain(spark):
    # triangle 0-1-2 plus chain 2-3-4: the chain peels in two rounds,
    # the triangle is the 2-core
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    got = _run_kcore(spark, 5, edges, k=2)
    assert got == _py_kcore(5, edges, 2)
    assert got[0] == (True, 2) and got[3] == (False, 0)


def test_kcore_cascade_peel(spark):
    # a path 0-1-2-3-4 fully unravels at k=2: every round peels the
    # current endpoints — the monotone-cascade case
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    got = _run_kcore(spark, 5, edges, k=2)
    assert all(not v[0] for v in got.values())


def test_kcore_k4_survives_k3(spark):
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = _run_kcore(spark, 5, edges, k=3)
    assert all(got[v] == (True, 3) for v in range(4))
    assert got[4] == (False, 0)


def test_kcore_random_graph_parity(spark):
    import random

    rng = random.Random(313)
    n = 35
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(100)]
    for k in (2, 3, 4):
        assert _run_kcore(spark, n, edges, k=k) == _py_kcore(n, edges, k)


def test_kcore_round_cap_is_parity_safe(spark):
    # capped at 1 round vs converged: the cap only truncates the peel,
    # and the python mirror with the same cap agrees exactly
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    got = _run_kcore(spark, 5, edges, k=2, rounds=1)
    assert got == _py_kcore(5, edges, 2, rounds=1)


# ---------------------------------------------------------------------------
# degree_assortativity (r5k)
# ---------------------------------------------------------------------------

from geospatial_web_scraper_spark.operators.graph import (  # noqa: E402
    degree_assortativity,
)


def _assort(spark, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    return degree_assortativity(e).collect()[0].asDict()


def test_assortativity_star_is_negative(spark):
    # a star is maximally disassortative: the hub (deg 4) only meets
    # leaves (deg 1) → r = -1
    got = _assort(spark, [(0, i) for i in range(1, 5)])
    assert got["assort6"] == -1.0
    assert got["m2"] == 8 and got["n_nodes"] == 5


def test_assortativity_regular_graph_is_zero_guard(spark):
    # a cycle is regular (all deg 2) — zero variance → guarded 0.0
    got = _assort(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    assert got["assort6"] == 0.0


def test_assortativity_matches_python_mirror(spark):
    import random

    rng = random.Random(577)
    n = 30
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    m2 = 2 * len(und)
    sx = sum(deg[a] + deg[b] for a, b in und)
    sxy = sum(2 * deg[a] * deg[b] for a, b in und)
    sx2 = sum(deg[a] ** 2 + deg[b] ** 2 for a, b in und)
    expect = round((m2 * sxy - sx * sx) / (m2 * sx2 - sx * sx), 6)
    got = _assort(spark, edges)
    assert (got["m2"], got["sx"], got["sxy"], got["sx2"]) == (m2, sx, sxy, sx2)
    assert abs(got["assort6"] - expect) < 2e-6


def test_pagerank_kernel_extracted_graph_matches_formula_graph(spark):
    # the linkgraph CLI derivation: edges from the Arrow extraction
    # kernel over fetchable pages' html, xxhash64(url) node ids — must
    # reproduce the catalog's formula-derived PageRank digit-for-digit
    # as a rank multiset (kernel ≡ formula ≡ graph operator, end to end)
    from geospatial_web_scraper_spark import corpus, entry_queries as eq
    from geospatial_web_scraper_spark.operators.extract import extract_rows

    pages = corpus.corpus_df(spark, 300)
    nodes = (
        pages.select("url").distinct()
        .withColumn("node_id", F.xxhash64("url"))
    )
    fetchable = pages.filter(
        (F.col("status") == 200)
        & F.col("content_type").startswith("text/html")
    )
    links = extract_rows(fetchable, 1).filter(~F.col("link_is_geo"))
    edges = links.select(
        F.xxhash64("url").alias("src"), F.xxhash64("link_url").alias("dst")
    ).join(nodes.select(F.col("node_id").alias("dst")), "dst", "leftsemi")
    cli = sorted(
        r["rank_fp"]
        for r in pagerank_fixed_point(
            nodes.select("node_id"), edges
        ).collect()
    )
    cat = sorted(
        r["rank_fp"] for r in eq.QUERIES["link_pagerank"](spark, "x").collect()
    )
    assert cli == cat


# ---------------------------------------------------------------------------
# graph_summary (r5k)
# ---------------------------------------------------------------------------

from geospatial_web_scraper_spark.operators.graph import (  # noqa: E402
    graph_summary,
)


def test_graph_summary_hand_graph(spark):
    # 0→1, 1→0 (reciprocal pair), 0→2, 2→2 (self-loop), 1→3 (3 dangling)
    e = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2), (2, 2), (1, 3), (0, 1)],
        "src long, dst long",
    )
    got = graph_summary(e).collect()[0].asDict()
    assert got == {
        "n_nodes": 4,
        "n_edges": 4,  # distinct non-loop directed
        "n_self_loops": 1,
        "n_recip_pairs": 1,
        "recip_ppm": 2 * 1_000_000 // 4,
        "max_out_deg": 2,
        "max_in_deg": 1,
        "n_dangling": 1,  # node 3 never a source
    }


def test_graph_summary_no_edges_between_loops(spark):
    e = spark.createDataFrame([(5, 5)], "src long, dst long")
    got = graph_summary(e).collect()[0].asDict()
    assert got["n_edges"] == 0 and got["n_self_loops"] == 1
    assert got["n_nodes"] == 1 and got["recip_ppm"] == 0
    assert got["n_dangling"] == 0  # the self-loop IS an outlink
