"""Stage C tests — node-text serialization parity, LSH blocking,
alias-cluster merging, threshold separation."""

import itertools

import pyspark.sql.functions as F

from aisafetyintervention_literatureextraction_spark.datagen import GOLDEN_NODES
from aisafetyintervention_literatureextraction_spark.functions.text import node_text
from aisafetyintervention_literatureextraction_spark.ontology import CANONICAL_ALIASES
from aisafetyintervention_literatureextraction_spark.operators.canonicalize import (
    _feature_tokens,
    alias_identity_edges,
    bucket_join_pairs,
    candidate_nodes,
    node_bucket_rows,
    verify_pairs,
    with_node_text,
)
from aisafetyintervention_literatureextraction_spark.operators.components import (
    connected_components,
)
from aisafetyintervention_literatureextraction_spark.operators.extraction import extract_nodes
from aisafetyintervention_literatureextraction_spark.operators.reassembly import reassemble


def test_node_text_reference_semantics(spark):
    """A6 — byte-parity with reference db.py:81-95: k=v joined '; ',
    lists joined ', ', empty values dropped."""
    df = spark.createDataFrame(
        [
            ("rlhf", "concept", ["rl from hf", "pref tuning"], "desc here", "Method", None, None),
            ("fix it", "intervention", [], "", None, 4, 2),
        ],
        "name string, type string, aliases array<string>, description string,"
        "concept_category string, intervention_lifecycle int, intervention_maturity int",
    )
    out = df.select(
        node_text(F.col("name"), F.col("type"), F.col("aliases"), F.col("description"),
                  F.col("concept_category"), F.col("intervention_lifecycle"),
                  F.col("intervention_maturity")).alias("t")
    ).collect()
    assert out[0]["t"] == (
        "name=rlhf; aliases=rl from hf, pref tuning; type=concept; "
        "description=desc here; concept_category=Method"
    )
    # empty aliases + empty description dropped entirely
    assert out[1]["t"] == (
        "name=fix it; type=intervention; intervention_lifecycle=4; intervention_maturity=2"
    )


def _nodes_raw(spark, corpus):
    df, _ = corpus
    docs = reassemble(df).documents
    return extract_nodes(docs, engine="sql")


def _merge_edges(nodes, jaccard_threshold, cosine_threshold):
    """Stage C's from-scratch edge plan over ``nodes``: the bucket
    self-join verified, unioned with the alias-identity edges, one row
    per pair at its max similarity."""
    buckets = node_bucket_rows(nodes)
    fuzzy = verify_pairs(
        bucket_join_pairs(buckets, buckets), nodes, jaccard_threshold, cosine_threshold
    )
    return (
        alias_identity_edges(nodes).unionByName(fuzzy)
        .groupBy("a_id", "b_id").agg(F.max("similarity").alias("similarity"))
    )


def test_alias_clusters_merge(spark, corpus):
    """Every CANONICAL_ALIASES cluster collapses to one component;
    golden nodes never merge with each other."""
    nodes = with_node_text(candidate_nodes(_nodes_raw(spark, corpus))).persist()
    edges = _merge_edges(nodes, 0.6, 0.7)
    comps = connected_components(nodes.select("node_id"), edges)
    labeled = {
        r["name"]: r["component_id"]
        for r in nodes.join(comps, "node_id").select("name", "component_id").collect()
    }
    for canon, aliases in CANONICAL_ALIASES.items():
        variants = [canon] + aliases
        cids = {labeled[v] for v in variants if v in labeled}
        assert len(cids) == 1, f"cluster {canon} split: {cids}"
    golden_cids = [labeled[n] for n in GOLDEN_NODES if n in labeled]
    nodes.unpersist()
    assert len(set(golden_cids)) == len(golden_cids), "golden nodes over-merged"


def test_lsh_recall_vs_exact(spark, corpus):
    """Blocking recall: every pair passing the final threshold is found
    by the production LSH blocking (bucket rows + bucket self-join),
    compared against exact all-pairs Jaccard on this small corpus."""
    nr = _nodes_raw(spark, corpus)
    nodes = with_node_text(candidate_nodes(nr)).persist()
    buckets = node_bucket_rows(nodes)
    lsh_pairs = set(map(tuple, bucket_join_pairs(buckets, buckets).collect()))
    # exact all-pairs in Python (test-only, small n)
    toks = {r["node_id"]: set(r["tokens"])
            for r in _feature_tokens(nodes).select("node_id", "tokens").collect()}
    nodes.unpersist()
    exact_pairs = {
        (a, b) for a, b in itertools.combinations(sorted(toks), 2)
        if len(toks[a] & toks[b]) / len(toks[a] | toks[b]) >= 0.6
    }
    assert exact_pairs, "corpus has no near-duplicate node pairs"
    missed = exact_pairs - lsh_pairs
    assert not missed, f"LSH missed {len(missed)} true pairs"


def test_verify_plan_build_runs_no_job(spark, corpus):
    """Building the stage-C verify and full-pass edge plans submits no
    Spark job: every count they need (e.g. the IDF document count) is
    part of the plan, so the job count of a stage is its writes'."""
    from aisafetyintervention_literatureextraction_spark.functions.caching import (
        release_caches,
    )

    from sparkjobs import submitted_jobs

    nodes = with_node_text(candidate_nodes(_nodes_raw(spark, corpus))).persist()
    nodes.count()
    try:
        with submitted_jobs(spark) as jobs:
            buckets = node_bucket_rows(nodes)
            pairs = verify_pairs(bucket_join_pairs(buckets, buckets), nodes, 0.5, 0.6)
            edges = _merge_edges(nodes, 0.5, 0.6)
            built = jobs()
            # the group does capture jobs: the first action shows up in it
            pairs.count()
            acted = jobs()
    finally:
        release_caches()
        nodes.unpersist()
    assert built == [], f"plan build ran jobs {built}"
    assert acted
    assert edges.columns == ["a_id", "b_id", "similarity"]


def test_candidate_nodes_lww(spark):
    """A2 — duplicate (type, name) across convs collapses with
    last-writer-wins props (deterministic by conv_id order)."""
    rows = [
        ("c1", "n", ["a1"], "concept", "old desc", "Finding", None, None),
        ("c2", "n", ["a2"], "concept", "new desc", "Risk", None, None),
    ]
    nr = spark.createDataFrame(
        rows,
        "conv_id string, name string, aliases array<string>, type string,"
        "description string, concept_category string,"
        "intervention_lifecycle int, intervention_maturity int",
    )
    out = candidate_nodes(nr).collect()
    assert len(out) == 1
    assert out[0]["description"] == "new desc"  # c2 > c1
    assert out[0]["n_occurrences"] == 2
    assert sorted(out[0]["conv_ids"]) == ["c1", "c2"]


def test_delta_path_hot_bucket_cap_bounds_skew(spark):
    """VERDICT r2 next-step #9: a degenerate near-identical token set
    shared by 10k nodes floods every LSH band bucket; the delta pair
    join (bucket_join_pairs(left=delta, all)) must drop those hot
    buckets on BOTH sides, keeping the candidate set and the wall
    bounded instead of materializing ~10k² pairs."""
    import time

    import pyspark.sql.functions as F

    from aisafetyintervention_literatureextraction_spark.operators.canonicalize import (
        bucket_join_pairs,
        node_bucket_rows,
        with_node_text,
    )

    n_hot = 10_000
    hot = spark.range(n_hot).select(
        F.col("id").alias("node_id"),
        F.lit("concept").alias("type"),
        # 4 shared tokens + 1 unique: signatures collide on the shared
        # mass, so every band bucket goes degenerate
        F.concat(F.lit("shared hot alias token u"), F.col("id")).alias("name"),
        F.array().cast("array<string>").alias("aliases"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).cast("string").alias("concept_category"),
        F.lit(None).cast("int").alias("intervention_lifecycle"),
        F.lit(None).cast("int").alias("intervention_maturity"),
    )
    nodes = with_node_text(hot)
    all_buckets = node_bucket_rows(nodes).persist()
    # delta = 1k of the 10k nodes arriving as an increment
    left = all_buckets.filter(F.col("node_id") < 1000)

    t0 = time.time()
    n_cand = bucket_join_pairs(left, all_buckets, max_bucket_size=64).count()
    wall = time.time() - t0
    all_buckets.unpersist()

    # unbounded would be ~1k × 10k = 10M candidates; the cap keeps only
    # pairs from sane buckets (shared-token buckets all exceed 64)
    assert n_cand < 100_000, n_cand
    assert wall < 60, f"skew-capped delta join took {wall:.1f}s"
