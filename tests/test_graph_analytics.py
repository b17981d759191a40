"""Graph-analytics kernels vs independent pure-Python references.

The Spark implementations (operators/graph_analytics.py) are iterative
hash-joins; these tests recompute PageRank / triangles / BFS with
plain dicts and sets on the same edge lists — a second implementation,
not a round-trip — and also pin determinism under permutation and
partitioning changes.
"""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
    PR_SCALE,
    bfs_khop,
    pagerank_int,
    triangle_counts,
)


def _edges_df(spark, pairs, parts=5):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a long, b long"
    ).repartition(parts)


# ---------------------------------------------------------------- references

def ref_pagerank(pairs, iterations=5, damping_pct=85, directed=False):
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    nodes = set(adj)
    for outs in adj.values():
        nodes |= outs
    n = len(nodes)
    if n == 0:
        return {}
    teleport = ((100 - damping_pct) * PR_SCALE) // (100 * n)
    rank = {v: PR_SCALE // n for v in nodes}
    for _ in range(iterations):
        mass = {v: 0 for v in nodes}
        for u, outs in adj.items():
            c = (damping_pct * rank[u]) // (100 * len(outs))
            for v in outs:
                mass[v] += c
        rank = {v: teleport + mass[v] for v in nodes}
    return rank


def ref_triangles(pairs):
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {v: 0 for v in adj}
    for v, nbrs in adj.items():
        for x, y in itertools.combinations(sorted(nbrs), 2):
            if y in adj[x]:
                tri[v] += 1
    # each triangle counted once per vertex (v is the apex of the pair)
    out = {}
    for v, nbrs in adj.items():
        d = len(nbrs)
        t = tri[v]
        coeff = 0.0 if d < 2 else round(2.0 * t / (d * (d - 1)), 6)
        out[v] = (d, t, coeff)
    return out


def ref_bfs(pairs, seeds, max_hops):
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for hop in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = hop
        frontier = nxt
        if not frontier:
            break
    return dist


def _random_graph(seed, n=40, m=120):
    rng = random.Random(seed)
    pairs = set()
    while len(pairs) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    return sorted(pairs)


# --------------------------------------------------------------------- tests

def test_pagerank_matches_reference(spark):
    pairs = _random_graph(7)
    got = {
        r["node"]: r["rank_int"]
        for r in pagerank_int(_edges_df(spark, pairs), iterations=5).collect()
    }
    assert got == ref_pagerank(pairs, iterations=5)


def test_pagerank_directed_star(spark):
    # 1->0, 2->0, 3->0: all mass flows to 0; 1..3 keep only teleport
    pairs = [(1, 0), (2, 0), (3, 0)]
    got = {
        r["node"]: r["rank_int"]
        for r in pagerank_int(
            _edges_df(spark, pairs), iterations=3, directed=True
        ).collect()
    }
    assert got == ref_pagerank(pairs, iterations=3, directed=True)
    assert got[0] > got[1] == got[2] == got[3]


def test_pagerank_permutation_and_partition_invariant(spark):
    pairs = _random_graph(11)
    base = sorted(pagerank_int(_edges_df(spark, pairs, parts=2),
                               iterations=4).collect())
    rng = random.Random(3)
    shuffled = pairs[:]
    rng.shuffle(shuffled)
    flipped = [(b, a) for a, b in shuffled]  # undirected: orientation-free
    again = sorted(pagerank_int(_edges_df(spark, flipped, parts=9),
                                iterations=4).collect())
    assert base == again


def test_pagerank_mass_conservation_bound(spark):
    # floor rounding only ever LOSES mass: total ≤ SCALE, and within
    # n·(teleport rounding + per-edge rounding) of it
    pairs = _random_graph(23)
    ranks = pagerank_int(_edges_df(spark, pairs), iterations=6)
    total = ranks.agg(F.sum("rank_int")).collect()[0][0]
    n = ranks.count()
    assert total <= PR_SCALE
    assert total >= PR_SCALE - n * (n + 200)  # generous floor-loss bound


def _wedges_df(spark, triples, parts=5):
    return spark.createDataFrame(
        [(int(a), int(b), int(w)) for a, b, w in triples],
        "a long, b long, w long",
    ).repartition(parts)


def ref_pagerank_weighted(triples, iterations=5, damping_pct=85,
                          cap=10**8):
    wadj: dict[int, dict[int, int]] = {}
    for a, b, w in triples:
        if a == b:
            continue
        for u, v in ((a, b), (b, a)):
            wadj.setdefault(u, {})
            wadj[u][v] = wadj[u].get(v, 0) + w
    for u in wadj:
        for v in wadj[u]:
            wadj[u][v] = min(wadj[u][v], cap)
    nodes = set(wadj)
    n = len(nodes)
    if n == 0:
        return {}
    teleport = ((100 - damping_pct) * PR_SCALE) // (100 * n)
    wout = {u: sum(ws.values()) for u, ws in wadj.items()}
    rank = {v: PR_SCALE // n for v in nodes}
    for _ in range(iterations):
        mass = {v: 0 for v in nodes}
        for u, ws in wadj.items():
            for v, w in ws.items():
                mass[v] += (damping_pct * rank[u] * w) // (100 * wout[u])
        rank = {v: teleport + mass[v] for v in nodes}
    return rank


def test_pagerank_weighted_matches_reference(spark):
    rng = random.Random(13)
    triples = [(a, b, rng.randrange(1, 9))
               for a, b in _random_graph(13, n=30, m=80)]
    got = {
        r["node"]: r["rank_int"]
        for r in pagerank_int(
            _wedges_df(spark, triples), iterations=5, weight="w"
        ).collect()
    }
    assert got == ref_pagerank_weighted(triples, iterations=5)


def test_pagerank_weighted_unit_weights_equal_unweighted(spark):
    pairs = _random_graph(17)
    unw = sorted(pagerank_int(_edges_df(spark, pairs), iterations=4).collect())
    w1 = sorted(
        pagerank_int(
            _wedges_df(spark, [(a, b, 1) for a, b in pairs]),
            iterations=4, weight="w",
        ).collect()
    )
    assert unw == w1


def test_pagerank_weighted_parallel_edges_combine(spark):
    # (1,2) seen with weights 3 and 4 ≡ one (1,2) edge of weight 7
    split = [(1, 2, 3), (1, 2, 4), (2, 3, 5)]
    merged = [(1, 2, 7), (2, 3, 5)]
    a = sorted(pagerank_int(_wedges_df(spark, split), iterations=3,
                            weight="w").collect())
    b = sorted(pagerank_int(_wedges_df(spark, merged), iterations=3,
                            weight="w").collect())
    assert a == b
    # weight asymmetry shows: 2 splits its mass 7:5 toward 1
    ranks = dict((r["node"], r["rank_int"]) for r in a)
    assert ranks[1] > ranks[3]


def test_triangles_k4_and_house(spark):
    # K4: every vertex has degree 3 and sits in 3 triangles, coeff 1.0
    k4 = list(itertools.combinations(range(4), 2))
    rows = {r["node"]: r for r in triangle_counts(_edges_df(spark, k4)).collect()}
    for v in range(4):
        assert (rows[v]["degree"], rows[v]["triangles"], rows[v]["clustering"]) == (3, 3, 1.0)

    # house: square 0-1-2-3 plus roof vertex 4 on edge 2-3
    house = [(0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (3, 4)]
    got = {
        r["node"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_counts(_edges_df(spark, house)).collect()
    }
    expect = ref_triangles(house)
    assert got == expect
    assert got[4] == (2, 1, 1.0)
    assert got[0] == (2, 0, 0.0)


def test_triangles_match_reference_random(spark):
    pairs = _random_graph(5, n=30, m=140)  # dense enough for many triangles
    got = {
        r["node"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_counts(_edges_df(spark, pairs)).collect()
    }
    assert got == ref_triangles(pairs)
    assert sum(t for _, t, _ in got.values()) % 3 == 0  # 3 vertices/triangle


def test_triangles_degree_tie_correctness(spark):
    # regular graphs are all-ties in the degree orientation — the
    # id-fallback ordering must still find each triangle exactly once.
    # 6-cycle with long chords: 0-1-2-3-4-5-0 plus 0-2, 2-4, 4-0
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0),
             (0, 2), (2, 4), (4, 0)]
    got = {
        r["node"]: (r["degree"], r["triangles"])
        for r in triangle_counts(_edges_df(spark, pairs)).collect()
    }
    ref = {v: (d, t) for v, (d, t, _) in ref_triangles(pairs).items()}
    assert got == ref


def test_bfs_khop_chain_and_cap(spark):
    chain = [(i, i + 1) for i in range(8)]
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_khop(_edges_df(spark, chain), seeds, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # cap stops the walk


def test_bfs_khop_matches_reference_random(spark):
    pairs = _random_graph(13)
    seed_nodes = [v for v in range(40) if v % 7 == 2]
    seeds = spark.createDataFrame([(v,) for v in seed_nodes], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_khop(_edges_df(spark, pairs), seeds, max_hops=2).collect()}
    assert got == ref_bfs(pairs, seed_nodes, 2)


def test_bfs_min_distance_on_cycle(spark):
    # two seeds on a cycle: every node takes the NEARER seed's distance
    n = 10
    cyc = [(i, (i + 1) % n) for i in range(n)]
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_khop(_edges_df(spark, cyc), seeds, max_hops=4).collect()}
    assert got == ref_bfs(cyc, [0, 5], 4)
    assert got[2] == 2 and got[3] == 2  # 3 is 2 away from 5, not 3 from 0


# table_digest of every A→E output table built from the session
# ``corpus`` fixture (20 datagen conversations + a 300-turn hot one):
# pins the warehouse content, so a refactor of stages C-E that changes
# any merge, pair score (beyond 1e-12) or metric value fails here
GOLDEN_DIGESTS = {
    "candidate_nodes": "34fdd513c596623bd1be0eb5b709f276bcc92305ef693faaf29e80afc632fd44",
    "node_pairs": "32f6c8069ca0b2c499a31682d5eb0e16eec5953cb91ad5d275b0699e1ed0f974",
    "components": "061b91de84355d3fec946f45bfcced6062da80e5800069671e9dcdef22c2c5bf",
    "kg_nodes": "fc7c766ade1fcf553199b3c059205494c8cbc683bae2be9f782a1f14011e2db4",
    "kg_edges": "64d3c6daae911147c2c5f5ae14246143b37deef0097fa89a4834d948c74feee6",
    "kg_node_metrics": "ad04ff435714ae0bdc8329fb3360901f57032d5e36d246be55103459aecad49c",
    "kg_edge_metrics": "8d3ce2c7c309666180c11ebd17ef354e2bda8185e0611c004fefd83686705e10",
    "node_buckets": "94b55e64267a975a5aa5e8a6717689ff5dfced517d5eb8b8d71732647395233c",
}


def test_stage_e_kg_node_metrics(spark, corpus, warehouse):
    """--analytics lands kg_node_metrics: one row per kg_node, metrics
    equal to running the kernels directly on the undirected kg_edges
    pair set, isolated nodes all-zero, and the table version stable
    under an idempotent re-run.  The whole A→E warehouse matches its
    golden digest, and the run record's counts match the tables."""
    from digest import table_digest

    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        run_pipeline,
    )

    df, _ = corpus
    run_pipeline(spark, df, warehouse, analytics=True)
    cat = Catalog(spark, warehouse)
    assert {t: table_digest(cat, t) for t in GOLDEN_DIGESTS} == GOLDEN_DIGESTS
    recorded = {
        r["metric"]: int(r["value"])
        for r in cat.read("_ckpt_metrics").filter(
            "metric IN ('n_kg_nodes', 'n_kg_edges', 'n_candidate_pairs',"
            " 'n_signatures_computed', 'n_nodes_scored', 'n_edges_scored')"
        ).collect()
    }
    assert recorded == {
        "n_kg_nodes": cat.read("kg_nodes").count(),
        "n_kg_edges": cat.read("kg_edges").count(),
        "n_candidate_pairs": cat.read("node_pairs").count(),
        "n_signatures_computed": cat.read("candidate_nodes").count(),
        "n_nodes_scored": cat.read("kg_node_metrics").count(),
        "n_edges_scored": cat.read("kg_edge_metrics").count(),
    }
    nodes = cat.read("kg_nodes")
    metrics = cat.read("kg_node_metrics")
    assert metrics.count() == nodes.count()
    assert set(metrics.columns) == {
        "node_id", "pagerank_int", "degree", "triangles", "clustering",
        "community"}

    pairs = [
        (r["a"], r["b"])
        for r in cat.read("kg_edges")
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct().collect()
    ]
    pr = ref_pagerank(pairs, iterations=5)
    tri = ref_triangles(pairs)
    got = {r["node_id"]: r for r in metrics.collect()}
    for v, rank in pr.items():
        assert got[v]["pagerank_int"] == rank
    for v, (d, t, c) in tri.items():
        assert (got[v]["degree"], got[v]["triangles"], got[v]["clustering"]) == (d, t, c)
    comm = ref_lpa(pairs, 4)
    for v, label in comm.items():
        assert got[v]["community"] == label
    connected = set(pr)
    for v, r in got.items():
        if v not in connected:
            assert (r["pagerank_int"], r["degree"], r["triangles"],
                    r["clustering"], r["community"]) == (0, 0, 0, 0.0, v)

    # edge metrics: one row per undirected pair, support = common
    # neighbors within the pair basis (what ref_ktruss measures at
    # fixpoint-0, i.e. supports() over the full edge set)
    em = {(r["a"], r["b"]): r["support"]
          for r in cat.read("kg_edge_metrics").collect()}
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert em == {(a, b): len(adj[a] & adj[b]) for a, b in pairs}

    # run record carries the LPA partition quality (exact-int Newman Q)
    qrows = [r for r in cat.read("_ckpt_metrics")
             .filter("stage = 'E_analytics' AND metric = 'modularity_q'")
             .collect()]
    assert qrows and all(-1.0 <= float(r["value"]) <= 1.0 for r in qrows)

    # idempotent resume: same rows, and stage E re-commits atomically
    before = sorted(map(tuple, metrics.collect()))
    before_e = sorted(em.items())
    run_pipeline(spark, df, warehouse, analytics=True)
    after = sorted(map(tuple, Catalog(spark, warehouse)
                       .read("kg_node_metrics").collect()))
    assert before == after
    after_e = sorted(
        ((r["a"], r["b"]), r["support"])
        for r in Catalog(spark, warehouse).read("kg_edge_metrics").collect())
    assert before_e == after_e


def test_stage_e_weighted_pagerank(spark, corpus, warehouse):
    """--analytics-weighted: the PageRank column equals the weighted
    reference with w = summed evidence counts per undirected pair;
    degree/triangles/clustering stay the structural values."""
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        run_pipeline,
    )

    df, _ = corpus
    run_pipeline(spark, df, warehouse, analytics=True,
                 analytics_weighted=True)
    cat = Catalog(spark, warehouse)
    edge_rows = cat.read("kg_edges").select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
        F.greatest(F.coalesce(F.size("conv_ids"), F.lit(1)),
                   F.lit(1)).cast("long").alias("w"),
    ).collect()
    agg: dict[tuple[int, int], int] = {}
    for r in edge_rows:
        agg[(r["a"], r["b"])] = agg.get((r["a"], r["b"]), 0) + r["w"]
    triples = [(a, b, w) for (a, b), w in agg.items()]
    pr = ref_pagerank_weighted(triples, iterations=5)
    tri = ref_triangles([(a, b) for a, b, _ in triples])
    got = {r["node_id"]: r for r in cat.read("kg_node_metrics").collect()}
    assert pr, "corpus produced an empty KG edge set"
    for v, rank in pr.items():
        assert got[v]["pagerank_int"] == rank
    for v, (d, t, c) in tri.items():
        assert (got[v]["degree"], got[v]["triangles"],
                got[v]["clustering"]) == (d, t, c)
    # weighting changes ranks only where some node splits its mass
    # over neighbors of DIFFERING weights (a degree-1 node passes 100%
    # regardless of w) — gate the difference check on that structure
    wout: dict[int, list[int]] = {}
    for a, b, w in triples:
        wout.setdefault(a, []).append(w)
        wout.setdefault(b, []).append(w)
    if any(len(set(ws)) > 1 for ws in wout.values()):
        unweighted = ref_pagerank([(a, b) for a, b, _ in triples],
                                  iterations=5)
        assert any(unweighted[v] != pr[v] for v in pr)


def ref_kcore(pairs, k):
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < k]:
            for u in adj[v]:
                adj[u].discard(v)
            del adj[v]
            changed = True
    return {v: len(ns) for v, ns in adj.items() if ns}


def test_kcore_matches_reference(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        kcore,
    )

    pairs = _random_graph(31, n=40, m=140)
    for k in (2, 3, 4):
        got = {r["node"]: r["degree"]
               for r in kcore(_edges_df(spark, pairs), k).collect()}
        assert got == ref_kcore(pairs, k), f"k={k}"


def test_kcore_ring_plus_clique(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        kcore,
    )

    # a 6-ring (every vertex degree 2) hanging off a K5 (degree ≥ 4):
    # the 3-core is exactly the K5; the 2-core keeps everything
    ring = [(i + 100, (i + 1) % 6 + 100) for i in range(6)]
    k5 = list(itertools.combinations(range(5), 2))
    bridge = [(0, 100)]
    g = ring + k5 + bridge
    core3 = {r["node"] for r in kcore(_edges_df(spark, g), 3).collect()}
    assert core3 == set(range(5))
    core2 = {r["node"] for r in kcore(_edges_df(spark, g), 2).collect()}
    # the bridge edge (degree-1 endpoints outside both cycles) peels off
    assert core2 == set(range(5)) | {100 + i for i in range(6)}


def test_kcore_capped_rounds_semantics(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        kcore,
    )

    # a chain peels one layer per synchronous round: after 2 rounds of
    # k=2 peeling, 0-9 chain has lost both endpoints twice
    chain = [(i, i + 1) for i in range(9)]
    capped = {r["node"] for r in kcore(_edges_df(spark, chain), 2,
                                       max_rounds=2).collect()}
    assert capped == set(range(2, 8))
    full = kcore(_edges_df(spark, chain), 2).collect()
    assert full == []  # a chain has no 2-core


def test_kcore_contract_cap_converged(spark):
    """The graph_kcore contract query caps peeling at 16 rounds for
    the unrolled oracle; assert the cap has actually converged on the
    oracle-fixture graph, so capped == true 3-core there (measured
    peel depths: 4 at sf0.001, 12 at sf0.01, empty-by-4 at sf0.1)."""
    import __spark_entry__ as em
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        kcore,
    )

    e = em._copurchase_edges(spark, "/root/testdata/sf0.001")
    capped = sorted(map(tuple, kcore(e, 3, max_rounds=16).collect()))
    full = sorted(map(tuple, kcore(e, 3).collect()))
    assert capped == full and len(full) > 0


def test_graph_kernel_plans_no_cartesian_and_bounded_stats(spark):
    """Plan locks for the kernel family: no nested-loop/cartesian join
    anywhere (the degree-oriented wedge join and the peel semi-joins
    must stay hash joins), and the iterative kernels' final plans keep
    HONEST Catalyst sizeInBytes (the persist→count→localCheckpoint
    sandwich, components.py r4 fix — without it estimates compound per
    iteration into astronomical BigIntegers)."""
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        kcore,
    )

    pairs = _random_graph(41, n=60, m=200)
    e = _edges_df(spark, pairs)
    plans = {
        "pagerank": pagerank_int(e, iterations=4),
        "pagerank_w": pagerank_int(
            _wedges_df(spark, [(a, b, 2) for a, b in pairs]),
            iterations=4, weight="w"),
        "triangles": triangle_counts(e),
        "bfs": bfs_khop(e, e.select(F.col("a").alias("node")).limit(3), 3),
        "kcore": kcore(e, 2),
    }
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        ktruss,
    )

    plans["ktruss"] = ktruss(e, 3, max_rounds=4)
    for name, df in plans.items():
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        size = str(qe.optimizedPlan().stats().sizeInBytes())
        assert len(size) < 15, f"{name}: {len(size)}-digit sizeInBytes"


# ----------------------------------------------------- label propagation

def ref_lpa(pairs, rounds=4):
    """Synchronous LPA with smallest-label tie-break — the pure-Python
    mirror of operators/graph_analytics.label_propagation."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v, nbrs in adj.items():
            counts: dict[int, int] = {}
            for u in nbrs:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            new[v] = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new
    return labels


def test_lpa_two_cliques_bridge(spark):
    """Two 4-cliques joined by one bridge edge settle into exactly two
    communities, labeled by each clique's minimum id."""
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        label_propagation,
    )

    c1 = list(itertools.combinations([0, 1, 2, 3], 2))
    c2 = list(itertools.combinations([10, 11, 12, 13], 2))
    g = c1 + c2 + [(3, 10)]
    got = {r["node"]: r["label"]
           for r in label_propagation(_edges_df(spark, g), rounds=4).collect()}
    assert got == ref_lpa(g, 4)
    assert {got[v] for v in (0, 1, 2, 3)} == {0}
    assert {got[v] for v in (11, 12, 13)} == {10}


def test_lpa_matches_reference_random(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        label_propagation,
    )

    for seed in (7, 21):
        pairs = _random_graph(seed, n=30, m=70)
        got = {r["node"]: r["label"]
               for r in label_propagation(_edges_df(spark, pairs), 4).collect()}
        assert got == ref_lpa(pairs, 4), f"seed={seed}"


def test_lpa_partition_and_permutation_invariant(spark):
    """Synchronous rounds + total-order tie-break make LPA a pure
    function of the edge SET — shuffling row order and partition count
    must not change a single label."""
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        label_propagation,
    )

    pairs = _random_graph(33, n=30, m=70)
    base = sorted(map(tuple, label_propagation(
        _edges_df(spark, pairs, parts=3), 4).collect()))
    shuffled = list(reversed(pairs))
    alt = sorted(map(tuple, label_propagation(
        _edges_df(spark, shuffled, parts=11), 4).collect()))
    assert base == alt


def test_lpa_plan_no_cartesian_bounded_stats(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        label_propagation,
    )

    df = label_propagation(_edges_df(spark, _random_graph(5, 40, 100)), 3)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(str(qe.optimizedPlan().stats().sizeInBytes())) < 15


# ------------------------------------------------------- link prediction

def ref_link_prediction(pairs, min_common=2, cap=64):
    """Python mirror of graph_analytics.link_prediction."""
    adj: dict[int, set[int]] = {}
    edges = set()
    for a, b in pairs:
        if a == b:
            continue
        a, b = min(a, b), max(a, b)
        edges.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    from collections import Counter

    cnt: Counter = Counter()
    ra: Counter = Counter()
    for c, nbrs in adj.items():
        if len(adj[c]) > cap:
            continue
        share = 10**9 // len(adj[c])
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cnt[(ns[i], ns[j])] += 1
                ra[(ns[i], ns[j])] += share
    out = {}
    for (a, b), common in cnt.items():
        if common < min_common or (a, b) in edges:
            continue
        out[(a, b)] = (common,
                       round(common / (len(adj[a]) + len(adj[b]) - common), 6),
                       ra[(a, b)])
    return out


def test_link_prediction_square(spark):
    """4-cycle: each diagonal pair shares both midpoints (common=2,
    jaccard = 2/(2+2-2) = 1.0); adjacent pairs are excluded."""
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        link_prediction,
    )

    g = [(0, 1), (1, 2), (2, 3), (3, 0)]
    got = {(r["a"], r["b"]): (r["common"], r["jaccard"], r["ra_int"])
           for r in link_prediction(_edges_df(spark, g)).collect()}
    # RA: both midpoints have deg 2 -> 2 * (10^9 // 2) = 10^9
    assert got == {(0, 2): (2, 1.0, 10**9), (1, 3): (2, 1.0, 10**9)}


def test_link_prediction_matches_reference_random(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        link_prediction,
    )

    for seed in (3, 19):
        pairs = _random_graph(seed, n=35, m=110)
        got = {(r["a"], r["b"]): (r["common"], r["jaccard"], r["ra_int"])
               for r in link_prediction(_edges_df(spark, pairs)).collect()}
        assert got == ref_link_prediction(pairs), f"seed={seed}"


def test_link_prediction_hub_cap(spark):
    """A star hub above the center-degree cap generates NO candidate
    pairs through itself — hub suppression — but its own degree still
    feeds the Jaccard denominator of pairs found through small
    centers."""
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        link_prediction,
    )

    hub = [(100, i) for i in range(10)]          # deg(100) = 10 > cap 4
    side = [(0, 50), (1, 50), (0, 51), (1, 51)]  # 0,1 share centers 50,51
    g = hub + side
    got = {(r["a"], r["b"]): (r["common"], r["jaccard"], r["ra_int"])
           for r in link_prediction(_edges_df(spark, g),
                                    min_common=2, max_center_degree=4).collect()}
    assert got == ref_link_prediction(g, 2, 4)
    # pairs through the hub only (e.g. (2,3)) are absent
    assert (2, 3) not in got
    # (0,1) found through 50/51 (deg 2 each -> RA = 10^9);
    # deg(0)=deg(1)=3 (hub edge counts) for the jaccard denominator
    assert got[(0, 1)] == (2, 0.5, 10**9)


def test_link_prediction_plan_no_cartesian(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        link_prediction,
    )

    df = link_prediction(_edges_df(spark, _random_graph(9, 40, 100)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# -------------------------------------------------- personalized pagerank

def ref_ppr(pairs, seeds, iterations=5, damping_pct=85):
    """Python mirror of graph_analytics.personalized_pagerank."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = set(adj)
    S = sorted(set(seeds) & nodes)
    s = len(S)
    if s == 0:
        return {v: 0 for v in nodes}
    teleport = ((100 - damping_pct) * PR_SCALE) // (100 * s)
    rank = {v: (PR_SCALE // s if v in set(S) else 0) for v in nodes}
    for _ in range(iterations):
        mass = {v: 0 for v in nodes}
        for u, nbrs in adj.items():
            if rank[u] <= 0:
                continue
            share = (damping_pct * rank[u]) // (100 * len(nbrs))
            for v in nbrs:
                mass[v] += share
        rank = {v: (teleport if v in set(S) else 0) + mass[v]
                for v in nodes}
    return rank


def test_ppr_matches_reference_random(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        personalized_pagerank,
    )

    for seed in (11, 29):
        pairs = _random_graph(seed, n=30, m=70)
        seeds = [v for v in range(30) if v % 5 == 0]
        sdf = spark.createDataFrame([(v,) for v in seeds], "node long")
        got = {r["node"]: r["rank_int"]
               for r in personalized_pagerank(
                   _edges_df(spark, pairs), sdf, 5).collect()}
        assert got == ref_ppr(pairs, seeds, 5), f"seed={seed}"


def test_ppr_proximity_and_unreached_zero(spark):
    """On a path 0-1-2-3-4 plus a disconnected edge (10,11), seeding
    at 0: rank decays with distance from the seed (compared within a
    parity class — a path is bipartite, so mass oscillates between
    even and odd levels each iteration), every reached node is
    positive, and the disconnected component scores exactly 0."""
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        personalized_pagerank,
    )

    g = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)]
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["rank_int"]
           for r in personalized_pagerank(_edges_df(spark, g), sdf, 5).collect()}
    assert got == ref_ppr(g, [0], 5)
    assert got[0] > got[2] > got[4]          # even levels decay
    assert got[1] > got[3]                   # odd levels decay
    assert min(got[v] for v in range(5)) > 0
    assert got[10] == got[11] == 0


def test_ppr_out_of_graph_and_empty_seeds(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        personalized_pagerank,
    )

    g = [(0, 1), (1, 2)]
    # seed 99 is not a vertex: ignored, s counts only in-graph seeds
    sdf = spark.createDataFrame([(0,), (99,)], "node long")
    got = {r["node"]: r["rank_int"]
           for r in personalized_pagerank(_edges_df(spark, g), sdf, 3).collect()}
    assert got == ref_ppr(g, [0], 3)
    # no in-graph seeds: all-zero ranks over the vertex set
    none = spark.createDataFrame([(99,)], "node long")
    z = {r["node"]: r["rank_int"]
         for r in personalized_pagerank(_edges_df(spark, g), none, 3).collect()}
    assert z == {0: 0, 1: 0, 2: 0}


# --------------------------------------------------------- weighted sssp

def ref_sssp(wpairs, seeds, max_rounds=6):
    """Python mirror of graph_analytics.sssp_weighted: synchronous
    full-relaxation Bellman-Ford capped at max_rounds (dist after
    round i = cheapest path using <= i edges)."""
    adj: dict[int, dict[int, int]] = {}
    for a, b, w in wpairs:
        if a == b:
            continue
        for u, v in ((a, b), (b, a)):
            cur = adj.setdefault(u, {})
            cur[v] = min(cur.get(v, w), w)
    nodes = set(adj)
    dist = {s: 0 for s in set(seeds) & nodes}
    for _ in range(max_rounds):
        nxt = dict(dist)
        for u, d in dist.items():
            for v, w in adj[u].items():
                if v not in nxt or d + w < nxt[v]:
                    nxt[v] = d + w
        if nxt == dist:
            break
        dist = nxt
    return dist


def test_sssp_matches_reference_random(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        sssp_weighted,
    )

    for seed in (13, 37):
        rng = random.Random(seed * 1000)
        wpairs = [(a, b, rng.randrange(1, 9)) for a, b in
                  _random_graph(seed, n=30, m=70)]
        seeds = [v for v in range(30) if v % 7 == 1]
        sdf = spark.createDataFrame([(v,) for v in seeds], "node long")
        got = {r["node"]: r["dist"]
               for r in sssp_weighted(
                   _wedges_df(spark, wpairs), sdf, 6, weight="w").collect()}
        assert got == ref_sssp(wpairs, seeds, 6), f"seed={seed}"


def test_sssp_weighted_path_beats_direct_edge(spark):
    """Triangle 0-1-2 with a heavy direct edge (0,2,10) and a light
    two-hop detour (0,1,1)+(1,2,2): dist(2) = 3 via the detour, and
    unit-cost mode (weight=None) gives hop counts instead."""
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        sssp_weighted,
    )

    g = [(0, 1, 1), (1, 2, 2), (0, 2, 10), (3, 4, 1)]
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"]
           for r in sssp_weighted(_wedges_df(spark, g), sdf, 6,
                                  weight="w").collect()}
    assert got == {0: 0, 1: 1, 2: 3}  # (3,4) component unreached
    hops = {r["node"]: r["dist"]
            for r in sssp_weighted(_wedges_df(spark, g), sdf, 6).collect()}
    assert hops == {0: 0, 1: 1, 2: 1}


def test_sssp_round_cap_invariant(spark):
    """On a weighted path 0-1-2-3-4 (w=2 each), round cap r reaches
    exactly r hops: Bellman-Ford's <=i-edge invariant, the semantics
    the unrolled oracle replays."""
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        sssp_weighted,
    )

    g = [(i, i + 1, 2) for i in range(4)]
    sdf = spark.createDataFrame([(0,)], "node long")
    for r in (1, 2, 4):
        got = {row["node"]: row["dist"]
               for row in sssp_weighted(_wedges_df(spark, g), sdf, r,
                                        weight="w").collect()}
        assert got == {i: 2 * i for i in range(min(r, 4) + 1)}, f"rounds={r}"


def test_sssp_parallel_edge_min_combine_and_empty_seeds(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        sssp_weighted,
    )

    g = [(0, 1, 5), (0, 1, 2), (1, 0, 7)]  # parallel edges, min wins
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"]
           for r in sssp_weighted(_wedges_df(spark, g), sdf, 3,
                                  weight="w").collect()}
    assert got == {0: 0, 1: 2}
    # out-of-graph-only seeds: empty result
    none = spark.createDataFrame([(99,)], "node long")
    assert sssp_weighted(_wedges_df(spark, g), none, 3,
                         weight="w").count() == 0


# ------------------------------------------------------------------- k-truss

def ref_ktruss(pairs, k, max_rounds=None):
    """Synchronous edge peel: delete every edge with < k-2 triangles,
    all at once, per round; support measured on the FINAL edge set."""
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}

    def supports(es):
        adj: dict[int, set[int]] = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {(a, b): len(adj[a] & adj[b]) for a, b in es}

    rounds = 0
    while edges:
        supp = supports(edges)
        keep = {e for e in edges if supp[e] >= k - 2}
        rounds += 1
        if keep == edges or (max_rounds is not None and rounds >= max_rounds):
            edges = keep
            break
        edges = keep
    return supports(edges)


def test_ktruss_matches_reference_random(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        ktruss,
    )

    pairs = _random_graph(47, n=30, m=110)
    for k in (3, 4):
        got = {(r["a"], r["b"]): r["support"]
               for r in ktruss(_edges_df(spark, pairs), k).collect()}
        assert got == ref_ktruss(pairs, k), f"k={k}"


def test_ktruss_k5_and_double_ring(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        ktruss,
    )

    # K5: every edge closes 3 triangles -> survives k<=5, empties at 6
    k5 = list(itertools.combinations(range(5), 2))
    t5 = ktruss(_edges_df(spark, k5), 5).collect()
    assert {(r["a"], r["b"]) for r in t5} == set(k5)
    assert all(r["support"] == 3 for r in t5)
    assert ktruss(_edges_df(spark, k5), 6).count() == 0

    # double ring (i,i+1)+(i,i+2), n=12: (i,i+1) edges sit in 2
    # triangles, (i,i+2) in 1 -> 3-truss keeps all; 4-truss cascades
    # to empty ((i,i+2) edges peel first, stranding the rest)
    n = 12
    dr = [(i, (i + 1) % n) for i in range(n)] + \
         [(i, (i + 2) % n) for i in range(n)]
    got3 = {(r["a"], r["b"]): r["support"]
            for r in ktruss(_edges_df(spark, dr), 3).collect()}
    assert got3 == ref_ktruss(dr, 3) and len(got3) == 2 * n
    assert ktruss(_edges_df(spark, dr), 4).count() == 0


def test_ktruss_capped_rounds_semantics(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        ktruss,
    )

    # the 4-truss cascade on the double ring takes >1 round: capped
    # at 1 round only the (i,i+2) edges are gone, and the Spark capped
    # result must equal the reference's capped result exactly
    n = 12
    dr = [(i, (i + 1) % n) for i in range(n)] + \
         [(i, (i + 2) % n) for i in range(n)]
    got = {(r["a"], r["b"]): r["support"]
           for r in ktruss(_edges_df(spark, dr), 4, max_rounds=1).collect()}
    ref = ref_ktruss(dr, 4, max_rounds=1)
    assert got == ref
    assert len(got) == n and all(v == 0 for v in got.values())


def test_ktruss_contract_cap_converged(spark):
    """The graph_ktruss contract query caps peeling at 8 rounds for
    the unrolled oracle; assert the cap has actually converged on the
    oracle-fixture graph, so capped == true 3-truss there (measured
    peel depths: 2 at sf0.001 with 2244 surviving edges, 2 at sf0.01
    with 181 — k=3 keeps the driver-gate SF non-empty where the
    4-truss peels to nothing)."""
    import __spark_entry__ as em
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        ktruss,
    )

    e = em._copurchase_edges(spark, "/root/testdata/sf0.001")
    capped = sorted(map(tuple, ktruss(e, 3, max_rounds=8).collect()))
    full = sorted(map(tuple, ktruss(e, 3).collect()))
    assert capped == full and len(full) > 0


# ---------------------------------------------------------------- modularity

def ref_modularity(pairs, labels):
    """Exact-integer Newman Q — mirror of graph_analytics.modularity."""
    sym = set()
    for a, b in pairs:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    m2 = len(sym)
    if m2 == 0:
        return (0, 0, 0, 0.0)
    e_in = sum(1 for s, t in sym if labels[s] == labels[t])
    deg: dict[int, int] = {}
    for s, _ in sym:
        deg[s] = deg.get(s, 0) + 1
    dc: dict[int, int] = {}
    for v, d in deg.items():
        dc[labels[v]] = dc.get(labels[v], 0) + d
    dd_sum = sum(x * x for x in dc.values())
    q = round((e_in * m2 - dd_sum) / (m2 * m2), 6)
    return (m2, e_in, dd_sum, q)


def test_modularity_k2_and_ring_singletons(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        modularity,
    )

    # single edge, one community: Q = (2*2 - 4)/4 = 0 (textbook case)
    lab1 = spark.createDataFrame([(0, 0), (1, 0)], "node long, label long")
    row = modularity(_edges_df(spark, [(0, 1)]), lab1).collect()[0]
    assert (row["m2"], row["e_in"], row["dd_sum"], row["modularity"]) \
        == (2, 2, 4, 0.0)

    # n-ring with singleton labels: e_in = 0, dd = 4n -> Q = -1/n
    n = 10
    ring = [(i, (i + 1) % n) for i in range(n)]
    labs = spark.createDataFrame([(i, i) for i in range(n)],
                                 "node long, label long")
    row = modularity(_edges_df(spark, ring), labs).collect()[0]
    assert (row["m2"], row["e_in"], row["dd_sum"]) == (2 * n, 0, 4 * n)
    assert row["modularity"] == round(-1.0 / n, 6)


def test_modularity_matches_reference_lpa_partitions(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        label_propagation, modularity,
    )

    # two K5s + bridge: LPA finds the cliques, Q is high
    k5a = list(itertools.combinations(range(5), 2))
    k5b = [(a + 10, b + 10) for a, b in k5a]
    g = k5a + k5b + [(0, 10)]
    labs = ref_lpa(g, 4)
    got = modularity(
        _edges_df(spark, g),
        label_propagation(_edges_df(spark, g), rounds=4),
    ).collect()[0]
    exp = ref_modularity(g, labs)
    assert (got["m2"], got["e_in"], got["dd_sum"], got["modularity"]) == exp
    assert got["modularity"] > 0.3

    # random graph, LPA labels
    pairs = _random_graph(53, n=40, m=120)
    labs = ref_lpa(pairs, 4)
    got = modularity(
        _edges_df(spark, pairs),
        label_propagation(_edges_df(spark, pairs), rounds=4),
    ).collect()[0]
    assert (got["m2"], got["e_in"], got["dd_sum"], got["modularity"]) \
        == ref_modularity(pairs, labs)


# -------------------------------------------------------------- graph summary

def ref_summary(pairs):
    per = ref_triangles(pairs)
    n = len(per)
    sd = sum(d for d, _, _ in per.values())
    st = sum(t for _, t, _ in per.values())
    wedges = sum(d * (d - 1) // 2 for d, _, _ in per.values())
    return {
        "n_vertices": n,
        "m_edges": sd // 2,
        "wedges": wedges,
        "n_triangles": st // 3,
        "max_degree": max(d for d, _, _ in per.values()),
        "avg_degree": round(sd / n, 6),
        "transitivity": 0.0 if wedges == 0 else round(st / wedges, 6),
    }


def test_graph_summary_shapes_and_reference(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        summarize_graph,
    )

    # K5: every wedge closes -> transitivity exactly 1.0
    k5 = list(itertools.combinations(range(5), 2))
    row = summarize_graph(_edges_df(spark, k5)).collect()[0].asDict()
    assert row == {"n_vertices": 5, "m_edges": 10, "wedges": 30,
                   "n_triangles": 10, "max_degree": 4,
                   "avg_degree": 4.0, "transitivity": 1.0}

    # ring: wedges but no triangles -> transitivity 0.0
    n = 8
    ring = [(i, (i + 1) % n) for i in range(n)]
    row = summarize_graph(_edges_df(spark, ring)).collect()[0].asDict()
    assert row["wedges"] == n and row["n_triangles"] == 0
    assert row["transitivity"] == 0.0

    # random graph vs the Python reference
    pairs = _random_graph(59, n=35, m=100)
    row = summarize_graph(_edges_df(spark, pairs)).collect()[0].asDict()
    assert row == ref_summary(pairs)


def ref_modularity_weighted(wtriples, labels):
    """Weighted Q mirror: parallel edges combine by sum (pagerank
    weighted contract)."""
    wadj: dict[tuple, int] = {}
    for a, b, w in wtriples:
        if a == b:
            continue
        for s, t in ((a, b), (b, a)):
            wadj[(s, t)] = wadj.get((s, t), 0) + w
    w2 = sum(wadj.values())
    if w2 == 0:
        return (0, 0, 0, 0.0)
    e_in = sum(w for (s, t), w in wadj.items() if labels[s] == labels[t])
    strength: dict[int, int] = {}
    for (s, _), w in wadj.items():
        strength[s] = strength.get(s, 0) + w
    sc: dict[int, int] = {}
    for v, st in strength.items():
        sc[labels[v]] = sc.get(labels[v], 0) + st
    dd_sum = sum(x * x for x in sc.values())
    return (w2, e_in, dd_sum, round((e_in * w2 - dd_sum) / (w2 * w2), 6))


def test_modularity_weighted(spark):
    from aisafetyintervention_literatureextraction_spark.operators.graph_analytics import (
        modularity,
    )

    # w ≡ 1 on a simple graph recovers the unweighted Q exactly
    pairs = _random_graph(61, n=30, m=90)
    labels = {v: v % 3 for p in pairs for v in p}
    labs_df = spark.createDataFrame(sorted(labels.items()),
                                    "node long, label long")
    unw = modularity(_edges_df(spark, pairs), labs_df).collect()[0]
    w1 = modularity(_wedges_df(spark, [(a, b, 1) for a, b in pairs]),
                    labs_df, weight="w").collect()[0]
    assert tuple(unw) == tuple(w1)

    # weighted reference on uneven weights, incl. parallel-edge combine
    rng = random.Random(67)
    wtriples = [(a, b, rng.randrange(1, 7)) for a, b in pairs]
    wtriples += wtriples[:10]  # parallel duplicates: combine by sum
    got = modularity(_wedges_df(spark, wtriples), labs_df,
                     weight="w").collect()[0]
    assert tuple(got) == ref_modularity_weighted(wtriples, labels)

    # a heavy CROSS-community edge drags Q down vs the same unit graph
    k3a = [(0, 1, 1), (1, 2, 1), (0, 2, 1)]
    k3b = [(10, 11, 1), (11, 12, 1), (10, 12, 1)]
    labs2 = spark.createDataFrame(
        [(v, 0) for v in (0, 1, 2)] + [(v, 1) for v in (10, 11, 12)],
        "node long, label long")
    light = modularity(_wedges_df(spark, k3a + k3b + [(0, 10, 1)]),
                       labs2, weight="w").collect()[0]["modularity"]
    heavy = modularity(_wedges_df(spark, k3a + k3b + [(0, 10, 50)]),
                       labs2, weight="w").collect()[0]["modularity"]
    assert heavy < light
