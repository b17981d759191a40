"""Graph analytics over the constructed KG — beyond-reference ops.

The reference stops at graph *construction* (db.py upserts into
FalkorDB and leaves analysis to Cypher).  A 100 TB training-data
pipeline needs the analysis side too: which entities are central
(PageRank, weighted and personalized), how clustered the mention
graph is (triangles / clustering coefficient), what sits within k
hops or at what path cost from a seed set (BFS, weighted SSSP),
which dense regions form communities (LPA, k-core, k-truss), and
which edges the extractor likely missed (link prediction: common
neighbors / Jaccard / resource allocation).  These are the classic
distributed-graph kernels, implemented Spark-first as iterative
hash-joins — the same execution shape the north rule prescribes for
connected components.

Scale design notes (shared by every kernel):

- **Integer-exact math.**  ``pagerank_int`` runs entirely in scaled
  int64 arithmetic (rank × 10^9, floor division), so results are
  bit-identical regardless of partitioning, reduce order, or engine —
  float PageRank is order-dependent under distributed summation and
  can never be oracle-checked exactly.
- **Iteration hygiene.**  Every loop runs on ``iterate``, which pins
  the round state with ``_pin(truncate=True)`` — ONE job: a lazy
  localCheckpoint cuts the lineage to a plan leaf, and persisting that
  leaf makes the job's InMemoryRelation carry its real materialized
  sizeInBytes, the Catalyst-stats pin the r4 fix requires (origin-plan
  estimates compound through iterative self-joins until the driver
  stalls in BigInteger math).  A loop's convergence count rides the
  same job as an Observation.
- **Static structure cached once.**  Edges / out-degree contributions
  are checkpointed before the loop; per-iteration shuffles move only
  the rank/frontier relation, not the edge list's lineage.
- **Degree-oriented triangle join.**  Edges are oriented from the
  (degree, id)-smaller endpoint to the larger before the wedge join,
  the standard MR-triangle-counting trick: the wedge fan-out per
  vertex is bounded by its *oriented* out-degree, O(sqrt(m)) on any
  graph, so one celebrity vertex cannot blow up the shuffle the way
  a naive neighbor self-join would.  ``_triangles`` is the one copy
  of that join: ``triangle_counts`` and ``ktruss`` enumerate through
  it, and ``link_prediction`` shares its degree relation.
- **Shared static relations.**  Spark's CacheManager matches cached
  plans by result, so a caller that pins a relation a kernel derives
  (``_symmetrize(edges)``, the ``_triangles`` rows of some edges) has
  the kernel read that cache instead of recomputing it; ``_pin_once``
  skips the pin job of a relation already cached.  Stage E shares one
  symmetrized relation between PageRank, LPA and modularity, and one
  triangle enumeration between node triangles and edge supports.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.caching import track

PR_SCALE = 10**9  # rank fixed-point scale: rank 1.0 == 10^9


def _symmetrize(edges: DataFrame) -> DataFrame:
    """(a, b) undirected edge list → distinct directed (src, dst)
    both ways, self-loops dropped."""
    e = edges.select(F.col("a").cast("long").alias("a"),
                     F.col("b").cast("long").alias("b")).filter("a <> b")
    return (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )


WEIGHT_CAP = 10**8  # per-edge weight clamp: keeps d·rank·w < 2^63


import functools
from contextlib import contextmanager


@contextmanager
def _session_conf(df: DataFrame, key: str, value: str):
    """Set one session conf for the block; restored on exit."""
    spark = df.sparkSession
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _adaptive_coalesce(df: DataFrame):
    """Enable AQE partition coalescing for a kernel's adaptive jobs
    (r6): its static relations and the plans it returns.  ``get_spark``
    sessions already coalesce; the ``bench.py`` and ``bench_extra.py``
    legs pin it OFF because their fused reassembly→extraction stage
    must not shrink below the core count.  The graph kernels have the
    opposite profile — tiny shuffles whose fixed post-shuffle
    partitions cost more task-launch overhead than compute; coalescing
    adapts the partition count to the ACTUAL shuffle bytes, so it is
    scale-adaptive, not a local-core-count constant.  The wedge-join
    enumerations (triangle_counts, link_prediction, ktruss) stay out —
    their fan-out is generated DURING the stage, so byte-based
    coalescing could starve them of cores.  ``iterate``'s round pins
    are planned without AQE (see ``_pin``).  The session conf is
    restored on exit; the caller's returned lazy plan executes under
    the caller's own setting."""
    return _session_conf(df, "spark.sql.adaptive.coalescePartitions.enabled", "true")


def _coalesced_kernel(fn):
    """Decorator: run the kernel's eager loop jobs under
    ``_adaptive_coalesce`` (kernels take the edge DataFrame first)."""
    @functools.wraps(fn)
    def wrapper(edges, *args, **kwargs):
        with _adaptive_coalesce(edges):
            return fn(edges, *args, **kwargs)
    return wrapper


def _pin(df: DataFrame, prev: DataFrame | None = None, truncate: bool = False,
         measure: Column | None = None) -> tuple[DataFrame, int]:
    """Materialize and cache ``df`` with ONE job (a noop write over the
    persisted plan); returns it with ``measure``, an aggregate over its
    rows (default: the row count) that rides the same job as an
    Observation.  The cached InMemoryRelation carries its REAL
    materialized sizeInBytes — the r4 Catalyst-stats pin.

    The pinned plan is planned WITHOUT AQE, so all of its shuffles run
    as stages of that one job: under AQE each would first run as a
    map-stage job of its own, and a kernel round's few tiny shuffles
    are bound by that per-job latency, not by compute.  Broadcast
    joins of small relations still collect their build side with a
    job each.

    ``truncate`` first cuts the lineage with a lazy localCheckpoint,
    so the pinned relation is a plan leaf; the checkpoint blocks stay
    readable after the cache is dropped (the leaf's stats are then the
    estimate its plan had when pinned).  Without it the cached plan
    keeps its full lineage and CacheManager matches it by result —
    ``_pin_once``'s reuse of shared static relations needs that.  A
    truncated plan must not end in an ordered operator (a sort-merge
    join) whose key column a redundant alias renamed, e.g.
    ``col("node").cast("long").alias("node")`` on a long column: the
    non-adaptive plan's ordering then names an attribute the
    checkpoint's output does not have, and reading the cached leaf
    fails (NoSuchElementException in InMemoryRelation.withOutput).

    TRUNCATION IS CORRECTNESS-ADJACENT for loop state: the ANALYZED
    logical plan of a cached relation keeps full lineage, so if a
    round's plan references the previous state C times, plan-tree size
    grows C^r — at C≈15 (ktruss's triangle enumeration) round 5 is
    millions of nodes and the driver OOMs just STRINGIFYING the plan
    (TreeNode.generateTreeString; observed, not hypothetical).  Loop
    state therefore always pins truncated (``iterate``), and a
    multi-reference state (ktruss, kcore, SSSP's and BFS's frontier
    unions) pins every round; single-reference state (PageRank, LPA,
    PPR) may ride lazily through rounds between pins.

    ``prev`` (the prior generation) unpersists only after the new one
    is materialized, since its blocks feed the new one's build."""
    obs = Observation()
    agg = F.count(F.lit(1)) if measure is None else measure
    with _session_conf(df, "spark.sql.adaptive.enabled", "false"):
        if truncate:
            df = df.localCheckpoint(eager=False)
        pinned = track(df)  # persist + register for release_caches
        pinned.observe(obs, agg.alias("m")).write.format("noop").mode("overwrite").save()
    if prev is not None:
        prev.unpersist()
    return pinned, obs.get["m"]


def iterate(step, state: DataFrame, rounds: int | None = None,
            converged: tuple | None = None, pin_every: int = 1,
            keep: bool = False) -> tuple[DataFrame, bool]:
    """The loop of every iterative kernel: rounds
    ``state = step(state, i)`` for i = 0, 1, ... up to ``rounds``
    (None: until ``converged`` says stop).

    Every ``pin_every``-th round and the last pin the new state with
    ``_pin(truncate=True)`` — one job per pin — and unpersist the
    state the previous pin held, unless ``keep``: states the result
    still reads (BFS's and SSSP's frontier unions) stay cached, so
    their plans keep the materialized sizes.  Rounds between pins ride
    lazily into the next pin's job, which is only safe for
    single-reference state (see ``_pin``).

    ``converged`` is ``(measure, done)``: ``measure`` an aggregate
    Column over the new state, observed by the pin job (default
    ``count(*)`` when None), and ``done(value, prev)`` decides from it
    and the previous pin's value (None at the first pin) whether the
    loop stops.  Returns the final state and whether ``done`` stopped
    the loop."""
    measure, done = converged or (None, None)
    if rounds is None and done is None:
        raise ValueError("iterate needs a round cap or a convergence test")
    pinned, prev_value = state, None
    i = 0
    while rounds is None or i < rounds:
        state = step(state, i)
        i += 1
        if i % pin_every and i != rounds:
            continue
        state, value = _pin(state, prev=None if keep else pinned,
                            truncate=True, measure=measure)
        pinned = state
        if done is not None and done(value, prev_value):
            return state, True
        prev_value = value
    return state, False


def _until_stable(n0: int) -> tuple:
    """``iterate``'s convergence test for the peels: stop once a round
    deletes nothing (or nothing is left); ``n0`` is the row count of
    the state the loop starts from."""
    return None, lambda n, prev: n == 0 or n == (n0 if prev is None else prev)


def _pin_once(df: DataFrame) -> DataFrame:
    """``_pin`` for static (non-loop) relations that several kernels
    build from the same input: when an identical plan is already
    cached (CacheManager matches plans by result, not by object),
    reuse it without another job; otherwise pin it (one job)."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    return _pin(df)[0]


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """(a, b) pairs → distinct undirected simple edges as long
    (least, greatest), self-loops dropped."""
    a, b = F.col("a").cast("long"), F.col("b").cast("long")
    return (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter("a <> b")
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """Pinned ``(node, degree)`` of a canonical edge set."""
    return _pin_once(
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )


def _triangles(e: DataFrame) -> tuple[DataFrame, DataFrame, list]:
    """The degree-oriented wedge join — the one triangle enumeration
    behind ``triangle_counts``, ``ktruss`` and stage E's edge supports.

    Over a canonical (a<b, distinct) edge set: orient every edge
    low→high by (degree, id); wedges (u→v, u→w) close into a triangle
    iff v and w are adjacent.  Wedge endpoints are ordered by plain id
    (comparing oriented ids is NOT safe under degree ties) and the
    closing edge is probed in both directions, so each triangle is
    found exactly once.

    Returns ``(deg, tri, temps)``: ``deg`` is the pinned
    ``(node, degree)`` relation, ``tri`` the lazy triangle rows as
    SORTED vertex triples ``(x, y, z)`` with x < y < z, ``temps`` the
    pinned intermediates the caller unpersists once nothing derived
    from ``tri`` is still to be materialized.  Pins go through
    ``_pin_once``: a second call on the same edges reuses them."""
    deg = _degrees(e)
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    oriented = _pin_once(
        e.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("dega") < F.col("degb"))
                | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            )
            .otherwise(F.struct(F.col("b").alias("src"), F.col("a").alias("dst")))
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    closer = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = (
        e1.join(e2, "u")
        .filter(F.col("v") < F.col("w"))
        .join(
            closer.union(
                closer.select(F.col("w").alias("v"), F.col("v").alias("w"))
            ),
            ["v", "w"],
            "leftsemi",
        )
        .select(F.array_sort(F.array("u", "v", "w")).alias("t"))
        .select(
            F.col("t")[0].alias("x"),
            F.col("t")[1].alias("y"),
            F.col("t")[2].alias("z"),
        )
    )
    return deg, tri, [deg, oriented]


@_coalesced_kernel
def pagerank_int(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    directed: bool = False,
    weight: str | None = None,
) -> DataFrame:
    """Deterministic fixed-point PageRank: ``iterations`` rounds of

        rank'(v) = (100-d)*SCALE DIV (100*n)
                 + sum over in-neighbors u of
                     d*rank(u)*w(u,v) DIV (100*W_out(u))

    with every operation in int64 (DIV = floor division), so the
    result is exact and engine/partitioning-independent.  Mass lost to
    floor rounding is deliberate — determinism over normalization.
    Dangling mass is likewise dropped (irrelevant for undirected
    graphs, where every vertex in an edge has outdeg ≥ 1).

    Input: ``edges(a, b)`` int-keyed pairs; undirected by default
    (each edge walks both ways).  Returns ``(node, rank_int)`` over
    every vertex incident to an edge.

    ``weight`` names an integer edge-weight column (e.g. the KG's
    per-edge evidence count): parallel edges combine by summed weight,
    each edge's share of u's mass is w/W_out(u), and the unweighted
    recurrence is recovered exactly at w ≡ 1.  Weights clamp to
    ``WEIGHT_CAP`` (10^8) after combination — the largest value for
    which 85·SCALE·w stays below 2^63 (rank(u) ≤ total mass ≤ SCALE).

    Overflow headroom (unweighted): total mass ≤ n · SCALE/n = SCALE,
    so d·rank(u) ≤ 85 · 10^9 ≪ 2^63.
    """
    if weight is not None:
        e = edges.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col(weight).cast("long").alias("w"),
        ).filter("a <> b")
        if not directed:
            e = e.select("a", "b", "w").union(
                e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
            )
        sym = (
            e.groupBy(F.col("a").alias("src"), F.col("b").alias("dst"))
            .agg(F.least(F.sum("w"), F.lit(WEIGHT_CAP)).alias("w"))
        )
    elif directed:
        sym = (
            edges.select(F.col("a").cast("long").alias("src"),
                         F.col("b").cast("long").alias("dst"))
            .filter("src <> dst").distinct()
        )
    else:
        sym = _symmetrize(edges)
    if weight is None:
        sym = sym.withColumn("w", F.lit(1).cast("long"))
    # r6 static prep (guide §2.4): ONE pinned relation instead of four
    # eager localCheckpoints — sym is a lazily-persisted leaf feeding
    # the struct build (materialized once inside struct's pin job),
    # vertices derive from the cached struct (src ∪ dst — src alone
    # suffices undirected but misses sink-only nodes when directed),
    # and the initial rank relation stays a lazy projection of
    # vertices (round 1 computes it inline — a literal column, not
    # worth its own job).
    sym = track(sym)
    outdeg = sym.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("outdeg")  # == COUNT(*) when w ≡ 1
    )
    # static per-edge structure: (src, dst, w, W_out(src)) — cached
    # once, per-iteration joins touch only the rank relation
    struct, _ = _pin(
        sym.join(outdeg, sym.src == outdeg.node)
        .select("src", "dst", "w", "outdeg")
    )
    vertices, n = _pin(
        struct.select(F.col("src").alias("node"))
        .union(struct.select(F.col("dst").alias("node")))
        .distinct()
    )
    if n == 0:
        return vertices.select("node", F.lit(0).cast("long").alias("rank_int"))

    teleport = ((100 - damping_pct) * PR_SCALE) // (100 * n)
    ranks = vertices.select(
        "node", F.lit(PR_SCALE // n).cast("long").alias("rank_int")
    )

    def round_(ranks: DataFrame, i: int) -> DataFrame:
        contrib = (
            struct.join(ranks, struct.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(f"({damping_pct} * rank_int * w) DIV (100 * outdeg)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        if directed:
            # zero-fill: a directed vertex may receive no mass
            return (
                vertices.join(contrib, "node", "left")
                .select(
                    "node",
                    (F.lit(teleport).cast("long")
                     + F.coalesce(F.col("in_mass"), F.lit(0).cast("long"))
                     ).alias("rank_int"),
                )
            )
        # undirected: sym carries both directions, so every vertex
        # has in-degree >= 1 and contrib already covers the whole
        # vertex set — the per-round zero-fill join is a no-op
        # (r6: one fewer join per round, identical rows)
        return contrib.select(
            "node",
            (F.lit(teleport).cast("long") + F.col("in_mass"))
            .alias("rank_int"),
        )

    # single-reference state: pin every SECOND round (and at exit) —
    # the intermediate round rides lazily into the next pin job
    # (r5 VERDICT #5's frontier-batching applied to the rank kernels)
    return iterate(round_, ranks, iterations, pin_every=2)[0]


@_coalesced_kernel
def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Seeded ("personalized") PageRank: teleport mass returns ONLY to
    the seed set, so rank measures proximity to the seeds — the
    standard "entities most related to X" query over the constructed
    KG.  Same integer-exact fixed-point contract as ``pagerank_int``
    (rank × 10^9, floor division, undirected), so the result is
    engine/partitioning-independent and the oracle unrolls the
    recurrence in BIGINT SQL:

        rank0(v)  = SCALE DIV s            if v ∈ S else 0
        rank'(v)  = [(100−d)·SCALE DIV (100·s)  if v ∈ S else 0]
                  + Σ_{u→v} d·rank(u) DIV (100·outdeg(u))

    with s = |S ∩ V|.  Seeds outside the graph's vertex set are
    ignored.  Returns ``(node, rank_int)`` over every vertex (0 for
    vertices the seed mass never reaches).

    Scale note: the per-iteration state is the REACHED set only
    (vertices with positive rank) — a zero-rank vertex contributes
    nothing to the recurrence, so the full-vertex-state variant's
    per-round |V|-row left join + |V|-row checkpoint is pure
    overhead.  Measured head-to-head (interleaved in ONE session so
    JVM warmup/host weather hit both variants, 24M edges / 977
    seeds, local[4]): reached-set 204.4 / 190.8 s vs full-state
    213.5 / 197.2 s — a modest ~4% here because the bench seed set
    reaches ~all vertices by round 3; for the operator's real query
    shape (a handful of seed entities in a 100 TB KG) the reached
    set stays orders of magnitude smaller than |V| and every round's
    shuffle/checkpoint tracks it, not the graph.  Each round is
    ``(seed teleport rows) ∪ (contributions)`` → sum-combine → drop
    zeros; unreached vertices are zero-filled by ONE left join at
    the end.  (Bench-methodology caveat from the same experiment: a
    kernel's wall measured solo in a fresh JVM is ~2× its wall in
    family position — never compare across those regimes.)
    """
    # r6 static prep: sym is a lazily-persisted leaf; struct's pin job
    # materializes it once; vertices come from the cached struct
    # (undirected: every node appears as a src) — 8 static
    # materialization jobs down to 3 (guide §2.4)
    sym = track(_symmetrize(edges))
    outdeg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outdeg"))
    struct, _ = _pin(
        sym.join(outdeg, sym.src == outdeg.node)
        .select("src", "dst", "outdeg")
    )
    # vertices stay LAZY over the cached struct: they are consumed
    # once, by the final zero-fill join (r6 — the eager pin was a
    # whole job for a relation the last join materializes anyway);
    # the seed membership semi-join probes struct.src directly, which
    # is the same membership set without the distinct
    vertices = struct.select(F.col("src").alias("node")).distinct()
    seed_v, s = _pin(
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .join(struct.select(F.col("src").alias("node")), "node", "semi")
    )
    if s == 0:
        return vertices.select(
            "node", F.lit(0).cast("long").alias("rank_int"))

    teleport = ((100 - damping_pct) * PR_SCALE) // (100 * s)
    # reached-set state: only vertices with rank > 0
    ranks = seed_v.select(
        "node", F.lit(PR_SCALE // s).cast("long").alias("rank_int"))

    def round_(ranks: DataFrame, i: int) -> DataFrame:
        contrib = (
            struct.join(ranks, struct.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(f"({damping_pct} * rank_int) DIV (100 * outdeg)")
                .alias("part"),
            )
        )
        return (
            seed_v.select(
                "node", F.lit(teleport).cast("long").alias("part"))
            .union(contrib)
            .groupBy("node")
            .agg(F.sum("part").alias("rank_int"))
            .filter(F.col("rank_int") > 0)
        )

    # single-reference state: pin every second round + at exit
    ranks = iterate(round_, ranks, iterations, pin_every=2)[0]
    return (
        vertices.join(ranks, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("rank_int"), F.lit(0).cast("long"))
            .alias("rank_int"),
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation + degree + local clustering
    coefficient over an undirected simple graph ``edges(a, b)``.

    Triangles come from the shared degree-oriented wedge join
    (``_triangles``).  Returns
    ``(node, degree, triangles, clustering)`` — clustering is the
    integer-derived ratio 2·tri / (deg·(deg−1)) rounded to 6 places
    (0.0 when deg < 2), which is a single float division of exact
    ints on any engine.
    """
    # no loop here, so lineage never grows: one-job stats pins only
    deg, tri, _ = _triangles(_pin_once(_canonical_edges(edges)))
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        )
        .withColumn(
            "clustering",
            F.when(
                F.col("degree") < 2, F.lit(0.0)
            ).otherwise(
                F.round(
                    2.0 * F.col("triangles")
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                )
            ),
        )
    )


@_coalesced_kernel
def bfs_khop(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Minimum-hop distance from a seed set, capped at ``max_hops``:
    classic frontier BFS as ``max_hops`` hash-join rounds.  Returns
    ``(node, dist)`` for every vertex reachable within the cap
    (seeds at dist 0).  ``seeds`` must have a ``node`` column.

    Each round joins only the *frontier* (nodes first reached last
    round) against the edge list and anti-joins the visited set, so
    per-round shuffle volume tracks the frontier size, not the graph.

    ``visited`` stays a LAZY union over the per-hop frontiers —
    materializing the union every hop (one extra job) buys nothing.
    Each frontier is a truncated plan leaf (``iterate``): the union
    references ALL of them every hop, so cache-chaining would double
    plan size per hop (see ``_pin`` docstring).
    """
    sym = track(_symmetrize(edges))  # materialized by the first hop's pin
    seeds0, _ = _pin(
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0)),
        truncate=True,
    )
    frontiers = [seeds0]

    def hop(frontier: DataFrame, i: int) -> DataFrame:
        if i:
            frontiers.append(frontier)
        visited_nodes = frontiers[0].select("node")
        for f in frontiers[1:]:
            visited_nodes = visited_nodes.union(f.select("node"))
        return (
            sym.join(frontier, sym.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited_nodes, "node", "left_anti")
            .withColumn("dist", F.lit(i + 1))
        )

    last, _ = iterate(hop, seeds0, max_hops,
                      (None, lambda n_new, _: n_new == 0), keep=True)
    if last is not frontiers[-1]:  # no hop ran: the seeds are the result
        frontiers.append(last)
    visited = frontiers[0]
    for f in frontiers[1:]:
        visited = visited.union(f)
    return visited


@_coalesced_kernel
def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 6,
    weight: str | None = None,
) -> DataFrame:
    """Weighted shortest-path distance from a seed set: synchronous
    Bellman-Ford, ``max_rounds`` relaxation rounds.  Over the
    constructed KG this answers "how strongly is X connected to the
    seed concepts" with real path costs (e.g. inverse evidence counts)
    where ``bfs_khop`` only counts hops.

    All-integer min-plus arithmetic, so the result is bit-exact on any
    engine/partitioning and an unrolled-SQL oracle can replay it:
    after round i, ``dist(v)`` is EXACTLY the cheapest path from the
    seed set using ≤ i edges (the classic Bellman-Ford invariant) —
    a capped run is well-defined the same way ``kcore``'s capped peel
    is.  Returns ``(node, dist)`` for vertices reached within the
    round cap (seeds at 0); unreached vertices are absent.

    ``weight`` names a positive integer cost column; parallel edges
    combine by MIN cost; ``None`` means unit cost (= hop count).
    Undirected: every edge is walkable both ways.

    Scale shape: the relaxation join touches only the IMPROVED set
    (nodes whose dist dropped last round) — per-round shuffle tracks
    the active frontier, not the graph, and the loop exits early at
    the fixpoint.  Frontier relaxation computes the same round-i
    invariant as full-edge relaxation: a node propagates exactly when
    its value improves, and older (larger) values it would re-send
    are already dominated.  Every frontier generation pins as a
    truncated plan leaf (``iterate``, the r4 stats fix): ``visited``
    references all of them.
    """
    if weight is None:
        e = _symmetrize(edges).withColumn("w", F.lit(1).cast("long"))
    else:
        d = edges.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col(weight).cast("long").alias("w"),
        ).filter("a <> b")
        e = (
            d.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
            .union(d.select(F.col("b").alias("src"),
                            F.col("a").alias("dst"), "w"))
            .groupBy("src", "dst")
            .agg(F.min("w").alias("w"))
        )
    # r6: sym is a lazily-persisted leaf (track), materialized once
    # inside the seed pin job
    sym = track(e)
    vertices = sym.select(F.col("src").alias("node")).distinct()
    seeds0, _ = _pin(
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .join(vertices, "node", "semi")
        .withColumn("dist", F.lit(0).cast("long"))
    )
    # ``visited`` is the groupBy-min over ALL pinned frontier
    # generations (the BFS lazy-union trick), recomputed per round from
    # their leaves; by associativity of MIN it equals a maintained
    # visited relation, with no pin of its own.
    frontiers = [seeds0]

    def visited_now():
        u = frontiers[0]
        for f in frontiers[1:]:
            u = u.union(f)
        return u.groupBy("node").agg(F.min("dist").alias("dist"))

    def relax(frontier: DataFrame, i: int) -> DataFrame:
        if i:
            frontiers.append(frontier)
        cand = (
            sym.join(frontier, sym.src == frontier.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("nd"),
            )
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        return (
            cand.join(visited_now(), "node", "left")
            .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist"))
        )

    last, _ = iterate(relax, seeds0, max_rounds,
                      (None, lambda n_improved, _: n_improved == 0), keep=True)
    frontiers.append(last)
    return visited_now()


@_coalesced_kernel
def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007), made deterministic: every vertex starts
    labeled with its own id, and each round every vertex
    simultaneously adopts the label that is most frequent among its
    neighbors, ties broken by the SMALLEST label.  Classic async LPA
    is order-dependent; the synchronous + total-order-tie-break
    variant is a pure function of (graph, rounds), so the result is
    identical on any engine/partitioning and an unrolled-SQL oracle
    can replay it round for round (same trick as ``kcore``'s capped
    peel).  Returns ``(node, label)``; nodes sharing a label after
    ``rounds`` rounds are one community.

    Scale shape per round: one hash-join (neighbor labels) + one
    groupBy(node, label) vote count + one max_by reduce — all
    shuffle-on-node, no window, with partial aggregation map-side.
    The vote relation is |E| rows pre-combine, same order as one
    PageRank contribution round.  Labels are single-reference state:
    ``iterate`` pins every second round and at exit (r4 Catalyst-stats
    fix).
    """
    # sym is a lazily-persisted leaf and the initial labels a lazy
    # projection of it: the first pin job materializes both
    sym = track(_symmetrize(edges))
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def round_(labels: DataFrame, i: int) -> DataFrame:
        votes = (
            sym.join(labels, sym.dst == labels.node)
            .select(F.col("src").alias("nd"), "label")
            .groupBy("nd", "label")
            .agg(F.count("*").alias("c"))
        )
        # max over (count, -label): most frequent label, smallest on
        # ties — (-label) is unique within a node's vote rows, so the
        # struct ordering is total and max_by is deterministic
        return (
            votes.groupBy("nd")
            .agg(
                F.max_by(
                    "label",
                    F.struct(F.col("c"), (-F.col("label")).alias("nl")),
                ).alias("label")
            )
            .select(F.col("nd").alias("node"), "label")
        )

    return iterate(round_, labels, rounds, pin_every=2)[0]


def summarize_graph(edges: DataFrame) -> DataFrame:
    """Global structure summary of an undirected simple graph in ONE
    row: vertex/edge/wedge/triangle counts (exact int64), max and
    mean degree, and transitivity (the global clustering coefficient,
    3·triangles/wedges — equal to Σ per-node triangles / Σ wedges
    since the per-node counts triple-count each triangle).  Ratios
    are single 6-dp double divisions of exact ints (the
    clustering/jaccard contract).  Built as one aggregation over
    ``triangle_counts`` — no new join shapes, so the celebrity-safe
    wedge-join analysis there carries over unchanged.

    Returns ``(n_vertices, m_edges, wedges, n_triangles, max_degree,
    avg_degree, transitivity)``.
    """
    tc = triangle_counts(edges)
    base = tc.agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.expr("sum(degree) DIV 2").alias("m_edges"),
        F.expr("sum(degree * (degree - 1) DIV 2)")
        .cast("long").alias("wedges"),
        F.expr("sum(triangles) DIV 3").alias("n_triangles"),
        F.max("degree").cast("long").alias("max_degree"),
        F.sum("degree").alias("_sd"),
        F.sum("triangles").alias("_st"),
    )
    return base.select(
        "n_vertices", "m_edges", "wedges", "n_triangles", "max_degree",
        F.round(F.col("_sd") / F.col("n_vertices"), 6).alias("avg_degree"),
        F.when(F.col("wedges") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("_st") / F.col("wedges"), 6))
        .alias("transitivity"),
    )


@_coalesced_kernel
def modularity(
    edges: DataFrame,
    labels: DataFrame,
    weight: str | None = None,
) -> DataFrame:
    """Newman modularity Q of a vertex partition (Newman & Girvan
    2004) over an undirected graph — the standard quality score for
    the LPA communities stage E produces:

        Q = E_in/W − Σ_c S_c²/W²  =  (E_in·W − Σ_c S_c²) / W²

    with W = total directed symmetrized edge weight (= |directed
    edges| = 2m when unweighted), E_in = weight of directed edges
    whose endpoints share a label, S_c = total strength (weighted
    degree) of community c.  Every term is an EXACT int64 aggregate
    (no float sums, so the result is engine/partitioning-
    independent); the single float division of exact ints rounds to
    6 places, the same contract as ``triangle_counts.clustering`` /
    ``link_prediction.jaccard``.  Exactness bound: dd_sum ≤ W² < 2^63
    requires W ≤ 3.03·10⁹ (≈1.5 billion undirected unit edges) —
    beyond that, recompute the final expression in DECIMAL(38).

    ``weight`` names an integer edge-weight column (e.g. the KG's
    evidence count): parallel edges combine by SUM, the
    ``pagerank_int(weight=...)`` contract, and w ≡ 1 on a simple
    graph recovers the unweighted Q exactly.  Without ``weight``,
    parallel edges collapse (distinct), matching every other
    unweighted kernel.

    Returns ONE row ``(m2, e_in, dd_sum, modularity)`` — ``m2`` is W.
    ``labels`` must cover the graph's vertex set (LPA output does by
    construction); unlabeled vertices would be dropped by the inner
    joins.  Empty graph → (0, 0, 0, 0.0).

    Scale shape: two hash joins (labels onto edge endpoints) + three
    full aggregations — one pass over the edge list, no iteration.
    """
    # r6: lazily-persisted leaf — the w_total scalar aggregate right
    # below materializes it (one job instead of the old sandwich's two)
    if weight is None:
        sym = track(
            _symmetrize(edges).withColumn("w", F.lit(1).cast("long")))
    else:
        d = edges.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col(weight).cast("long").alias("w"),
        ).filter("a <> b")
        sym = track(
            d.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
            .union(d.select(F.col("b").alias("src"),
                            F.col("a").alias("dst"), "w"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    w_total = sym.agg(F.sum("w")).collect()[0][0]
    # int64-exactness bound (ADVICE r5): dd_sum <= W^2 needs W within
    # int64 sqrt range — fail loudly instead of wrapping silently
    if w_total and w_total > 3_037_000_499:
        raise ValueError(
            f"modularity: total directed weight {w_total} exceeds the "
            "int64-exact bound 3_037_000_499 (dd_sum = Σ S_c² would "
            "overflow); recompute in DECIMAL(38) before using this")
    spark = edges.sparkSession
    if not w_total:
        return spark.createDataFrame(
            [(0, 0, 0, 0.0)],
            "m2 long, e_in long, dd_sum long, modularity double",
        )
    lab = labels.select(F.col("node").cast("long").alias("node"),
                        F.col("label").cast("long").alias("label"))
    la = lab.select(F.col("node").alias("src"), F.col("label").alias("la"))
    lb = lab.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    e_in = (
        sym.join(la, "src").join(lb, "dst")
        .agg(F.sum(
            F.when(F.col("la") == F.col("lb"), F.col("w"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("e_in"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("deg"))
    dd = (
        deg.join(lab, "node")
        .groupBy("label").agg(F.sum("deg").alias("dc"))
        .agg(F.sum(F.col("dc") * F.col("dc")).alias("dd_sum"))
    )
    # 1x1 scalar combine (broadcast, deliberate)
    return (
        e_in.crossJoin(dd)
        .select(
            F.lit(w_total).cast("long").alias("m2"),
            F.col("e_in").cast("long").alias("e_in"),
            F.col("dd_sum").cast("long").alias("dd_sum"),
            F.round(
                (F.col("e_in") * F.lit(w_total) - F.col("dd_sum"))
                / F.lit(float(w_total) * float(w_total)),
                6,
            ).alias("modularity"),
        )
    )


def link_prediction(
    edges: DataFrame,
    min_common: int = 2,
    max_center_degree: int = 64,
) -> DataFrame:
    """Missing-edge candidates for KG completion: every NON-adjacent
    pair scored by common-neighbor count and Jaccard overlap.  In the
    constructed KG this proposes relations the extractor never saw
    stated directly — the classic common-neighbors link predictor
    (Liben-Nowell & Kleinberg 2003).

    Returns ``(a, b, common, jaccard, ra_int)`` with a < b, ``common``
    ≥ ``min_common``, pair not already an edge;
    ``jaccard = common / (deg(a) + deg(b) − common)`` rounded to 6
    places (one float division of exact ints — engine-stable, same
    contract as triangle_counts.clustering).  ``ra_int`` is the
    resource-allocation index (Zhou et al. 2009) in scaled int64:
    Σ over common neighbors c of ``PR_SCALE DIV deg(c)`` — an
    integer SUM, so unlike Adamic-Adar's Σ 1/log deg (a float sum,
    order-dependent under distributed reduce) it is bit-exact on any
    engine/partitioning and oracle-checkable.  RA weights rare shared
    neighbors over promiscuous ones — the better KG-completion signal
    when hub concepts dominate.

    Scale shape: the pair generator is a wedge self-join on the
    neighbor lists, whose fan-out is Σ deg(c)² over wedge CENTERS — a
    single celebrity hub contributes deg² pairs.  ``max_center_degree``
    excludes hubs as centers (deterministic, part of the operator
    contract, mirrored by the SQL oracle): standard hub suppression in
    link prediction, since a pair "connected" only through a
    million-degree hub carries no signal.  With the cap, per-center
    fan-out is ≤ cap², and the wedge relation is bounded by
    |E| · cap.  Degrees for the Jaccard denominator stay UNcapped —
    the cap prunes candidate generation, not the score.
    """
    e = _pin_once(_canonical_edges(edges))  # one-job stats pins, no loop
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = _degrees(e).withColumnRenamed("degree", "deg")
    centers = deg.filter(F.col("deg") <= max_center_degree).select(
        F.col("node").alias("src"), F.col("deg").alias("cdeg")
    )
    # wedge rows carry the CENTER's degree so RA needs no extra join
    nbrs = sym.join(centers, "src")
    left = nbrs.select(F.col("src").alias("c"), F.col("dst").alias("a"),
                       "cdeg")
    right = nbrs.select(F.col("src").alias("c"), F.col("dst").alias("b"))
    cn = (
        left.join(right, "c")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("common"),
            F.sum(F.expr(f"{PR_SCALE} DIV cdeg")).alias("ra_int"),
        )
        .filter(F.col("common") >= min_common)
        .join(e, ["a", "b"], "left_anti")
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    return (
        cn.join(da, "a").join(db, "b")
        .select(
            "a",
            "b",
            F.col("common").cast("long").alias("common"),
            F.round(
                F.col("common")
                / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("jaccard"),
            F.col("ra_int").cast("long").alias("ra_int"),
        )
    )


def _support_from_triangles(live: DataFrame, tri: DataFrame) -> DataFrame:
    """(a, b, support) for every edge of ``live``, counting the
    triangles of ``tri`` (which must be exactly the triangles inside
    ``live``)."""
    tri_edges = (
        tri.select(F.explode(F.array(
            F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
            F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
            F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
        )).alias("e"))
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    return (
        live.join(tri_edges, ["a", "b"], "left")
        .select(
            "a", "b",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("support"),
        )
    )


def ktruss(
    edges: DataFrame,
    k: int,
    max_rounds: int | None = None,
) -> DataFrame:
    """k-truss decomposition by synchronous edge peeling: repeatedly
    delete every edge participating in fewer than k−2 triangles until
    none remains — the EDGE-cohesion analog of ``kcore``'s vertex
    peel, and the standard "dense nucleus" extractor over the
    constructed KG (a 4-truss relation set is one where every claimed
    relation is corroborated by ≥2 triangle closures).  The k-truss
    is confluent (unique fixpoint, deletion-order-independent), so the
    result is deterministic on any engine/partitioning.

    ``max_rounds`` caps the peel (None = run to fixpoint); a capped
    run is "the edge set after R synchronous peel rounds" — the
    SQL-unrollable form, same contract as ``kcore``/``sssp``.  Returns
    ``(a, b, support)`` for surviving canonical edges with support
    measured ON the final edge set.

    r6 incremental-support shape (r5 VERDICT #4): the degree-oriented
    wedge enumeration runs ONCE, on the initial edge set; afterwards
    the triangle LIST is maintained instead of re-derived — a triangle
    survives a peel round iff all three of its edges do (triangles of
    a subgraph are the subset of the supergraph's triangles fully
    inside it, so the maintained list stays exactly the live set's
    triangle set — the synchronous-peel invariant is unchanged).
    Per-round cost drops from a full wedge join (Σ oriented-outdeg²)
    to three semi-joins over the shrinking triangle list plus one
    explode/count — the deleted edges' neighborhoods, not the graph.
    Both states pin every round (live is referenced by three
    semi-joins, tri by two consumers); a round drops the triangles of
    the edges the previous round deleted before it peels.
    """
    live, n0 = _pin(_canonical_edges(edges), truncate=True)
    _, tri, temps = _triangles(live)
    tris = [_pin(tri, truncate=True)[0]]
    for t in temps:
        t.unpersist()

    def surviving(tri: DataFrame, live: DataFrame) -> DataFrame:
        lv = live.select(F.col("a").alias("la"), F.col("b").alias("lb"))
        return (
            tri.join(lv, (F.col("x") == F.col("la"))
                     & (F.col("y") == F.col("lb")), "semi")
            .join(lv, (F.col("x") == F.col("la"))
                  & (F.col("z") == F.col("lb")), "semi")
            .join(lv, (F.col("y") == F.col("la"))
                  & (F.col("z") == F.col("lb")), "semi")
        )

    def peel(live: DataFrame, i: int) -> DataFrame:
        if i:  # the previous round deleted edges (else the loop stopped)
            tris.append(_pin(surviving(tris[-1], live), prev=tris[-1],
                             truncate=True)[0])
        return (
            _support_from_triangles(live, tris[-1])
            .filter(F.col("support") >= k - 2)
            .select("a", "b")
        )

    live, settled = iterate(peel, live, max_rounds, _until_stable(n0))
    tri = tris[-1] if settled else surviving(tris[-1], live)
    return _pin(_support_from_triangles(live, tri), truncate=True)[0]


@_coalesced_kernel
def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every vertex of degree < k (and its edges) until none remains.
    Returns ``(node, degree)`` — the surviving vertices with their
    degree INSIDE the core.  The k-core is confluent (the fixpoint is
    unique regardless of deletion order), so the result is
    deterministic for any partitioning/engine.

    ``max_rounds`` caps the peel loop (None = run to fixpoint).  A
    capped run is still well-defined — "the graph after R synchronous
    peel rounds" — which is what the unrolled-SQL oracle checks; the
    kernel tests assert the cap used by the contract query has already
    converged on its graphs, so both names denote the k-core there.

    Scale shape: each round is one groupBy (degree count) + one
    semi-join (edge filter against surviving vertices) over a
    monotonically SHRINKING edge set; ``iterate`` pins the live set
    EVERY round (it is referenced 3x per round — see the fan-out rule
    in ``_pin``).  Rounds needed is the degeneracy-peel depth —
    O(log n) on real-world graphs.
    """
    live, n0 = _pin(_symmetrize(edges), truncate=True)

    def peel(live: DataFrame, i: int) -> DataFrame:
        deg = live.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("degree")
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        return (
            live.join(keep.withColumnRenamed("node", "src"), "src", "semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "semi")
            .select("src", "dst")
        )

    live, _ = iterate(peel, live, max_rounds, _until_stable(n0))
    return live.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
