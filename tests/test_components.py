"""G5 tests — connected components vs known closures; CC is the
order-independent closure of the reference's sequential pairwise merge
(reference merge.py:107-109 / db.py:106-155)."""

import pyspark.sql.functions as F


from aisafetyintervention_literatureextraction_spark.operators.components import (
    connected_components,
)
from aisafetyintervention_literatureextraction_spark.session import page_size


def _cc(spark, n_nodes, edge_list):
    v = spark.createDataFrame([(i,) for i in n_nodes], "node_id long")
    e = spark.createDataFrame(edge_list or [(0, 0)], "a_id long, b_id long")
    if not edge_list:
        e = e.limit(0)
    comps = connected_components(v, e)
    out = {}
    for r in comps.collect():
        out.setdefault(r["component_id"], set()).add(r["node_id"])
    return sorted(sorted(s) for s in out.values())


def test_two_components(spark):
    got = _cc(spark, range(6), [(0, 1), (1, 2), (3, 4)])
    assert got == [[0, 1, 2], [3, 4], [5]]


def test_chain_closure_transitive(spark):
    """A–B and B–C pairs ⇒ one {A,B,C} component — the transitive
    closure the reference's sequential merge only reaches when pair
    order is lucky (stale-id hazard, SURVEY.md §2.9)."""
    got = _cc(spark, range(3), [(0, 1), (1, 2)])
    assert got == [[0, 1, 2]]


def test_long_path_converges(spark):
    n = 33
    got = _cc(spark, range(n), [(i, i + 1) for i in range(n - 1)])
    assert got == [list(range(n))]


def test_no_edges_identity(spark):
    got = _cc(spark, range(4), [])
    assert got == [[0], [1], [2], [3]]


def test_pointer_jumping_logarithmic(spark):
    """Diameter-255 chain must converge in O(log D) iterations — the
    pointer-jump step doubles resolved depth per round, so max_iter=12
    suffices where plain hop-propagation would need 255 (ADVICE r1:
    long near-dup chains silently hit max_iter)."""
    n = 256
    v = spark.createDataFrame([(i,) for i in range(n)], "node_id long")
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a_id long, b_id long")
    comps = connected_components(v, e, max_iter=12)
    assert {r["component_id"] for r in comps.collect()} == {0}


def test_nonconvergence_raises(spark):
    """Hitting max_iter with labels still moving must fail loudly, not
    return wrong labels."""
    import pytest

    n = 64
    v = spark.createDataFrame([(i,) for i in range(n)], "node_id long")
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(v, e, max_iter=1)


def test_one_job_per_round(spark):
    """Each round pins its labels with ONE job, and the changed-label
    count rides it: with AQE and broadcast joins off (no map-stage or
    broadcast jobs) a round submits exactly one job, a 2-node graph
    converges in two rounds, and a capped chain still raises."""
    import pytest
    from sparkjobs import submitted_jobs

    conf = {"spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        v = spark.createDataFrame([(i,) for i in range(64)], "node_id long")
        e = spark.createDataFrame([(i, i + 1) for i in range(63)], "a_id long, b_id long")
        with submitted_jobs(spark) as jobs:
            with pytest.raises(RuntimeError, match="did not converge"):
                connected_components(v, e, max_iter=1)
            one_round = jobs()
        with submitted_jobs(spark) as jobs:
            comps = connected_components(
                spark.createDataFrame([(0,), (1,)], "node_id long"),
                spark.createDataFrame([(0, 1)], "a_id long, b_id long"))
            two_rounds = jobs()
        assert {r["component_id"] for r in comps.collect()} == {0}
    finally:
        for k, val in old.items():
            spark.conf.set(k, val)
    assert len(one_round) == 1, one_round
    assert len(two_rounds) == 2, two_rounds


def test_component_id_is_min_node(spark):
    v = spark.createDataFrame([(10,), (7,), (3,)], "node_id long")
    e = spark.createDataFrame([(10, 7), (7, 3)], "a_id long, b_id long")
    comps = connected_components(v, e)
    assert {r["component_id"] for r in comps.collect()} == {3}


def test_warm_start_labels(spark):
    """Warm-started propagation (previous run's labels + new edges)
    converges to the same labels as a cold run — components can only
    merge when edges are added."""
    v = spark.createDataFrame([(i,) for i in range(8)], "node_id long")
    e_old = spark.createDataFrame([(0, 1), (2, 3), (4, 5)], "a_id long, b_id long")
    old = connected_components(v, e_old)
    # new edge merges {0,1} with {2,3}; 6/7 stay singletons
    e_new = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5), (1, 2)], "a_id long, b_id long"
    )
    warm = connected_components(v, e_new, initial_labels=old)
    cold = connected_components(v, e_new)
    assert sorted(map(tuple, warm.collect())) == sorted(map(tuple, cold.collect()))


def test_giant_component_skew_mitigation_locked(spark):
    """G5 skew guard (r3 VERDICT next-step #4): one component holding
    >=50% of all nodes makes `component_id` a hot join key by
    construction. The mitigation is AQE skew-join splitting — safe
    here because the jump join's build side is unique-keyed — and this
    test locks (a) the session confs that enable it and (b) label
    correctness on exactly that topology (hub star + pair tail)."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

    n = 4000
    half = n // 2
    verts = spark.range(n).select(F.col("id").alias("node_id"))
    star = spark.range(1, half).select(
        F.lit(0).cast("long").alias("a_id"), F.col("id").alias("b_id")
    )
    pairs = spark.range(half, n - 1, 2).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    labels = connected_components(verts, star.union(pairs), max_iter=20)
    sizes = {r["component_id"]: r["n"] for r in
             labels.groupBy("component_id").agg(F.count("*").alias("n")).collect()}
    assert sizes[0] == half                      # the giant component
    assert all(v == 2 for k, v in sizes.items() if k != 0)
    assert len(sizes) == 1 + half // 2


def test_shuffle_writer_defaults_locked(spark):
    """Every exchange takes the serialized sort-shuffle writer (no
    per-reducer bypass-merge temp files), and the page size the memory
    manager actually uses is at most a quarter of this JVM's G1 region,
    so a page and its array header stay below G1's humongous-object
    threshold of half a region."""
    assert spark.conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0"
    jvm = spark.sparkContext._jvm
    page = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    diag = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert diag.getVMOption("UseG1GC").getValue() == "true"
    region = int(diag.getVMOption("G1HeapRegionSize").getValue())
    assert page <= min(region // 4, 1024 * 1024)
    assert page == page_size(spark.conf.get("spark.driver.memory"))


def test_page_size_follows_g1_regions():
    """G1 regions are heap / 2048 rounded down to a power of two, 1 MB
    to 32 MB; pages are a quarter region, at most 1 MB."""
    kib = 1024
    assert page_size("1g") == page_size("2g") == 256 * kib
    assert page_size("4g") == page_size("4096m") == page_size("4096") == 512 * kib
    assert page_size("8g") == page_size("8G") == page_size("64g") == 1024 * kib


def test_iteration_stats_do_not_explode(spark):
    """Catalyst sizeInBytes must stay HONEST through the iteration:
    localCheckpoint preserves origin-plan statistics, and join
    estimates multiply, so without the persist-then-checkpoint
    sandwich the estimate's BigInteger doubles in digits every
    iteration and the driver ends up spending tens of seconds per
    iteration in BigInteger.multiply (measured on a 20k-node chain:
    0.6 s → 67 s/iter). A deep chain forces ~12 iterations; the
    returned plan's sizeInBytes must be a sane number, not an
    astronomically compounded estimate."""
    from pyspark.sql import functions as F

    n = 4000
    verts = spark.range(n).select(F.col("id").alias("node_id"))
    chain = spark.range(n - 1).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    labels = connected_components(verts, chain, max_iter=30)
    assert {r["component_id"] for r in labels.select("component_id").distinct().collect()} == {0}
    size = str(labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert len(size) < 15, f"stats exploded: {len(size)}-digit sizeInBytes"
