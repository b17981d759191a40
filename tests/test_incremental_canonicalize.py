"""Delta-aware stage C (VERDICT r1 next-step #6): appending a small
increment re-signs only the new nodes, and the incremental result
equals a from-scratch recompute."""

import pyspark.sql.functions as F

from aisafetyintervention_literatureextraction_spark import checkpoint as ckpt
from aisafetyintervention_literatureextraction_spark.catalog import Catalog
from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
    PipelineConfig,
    stage_a_reassemble,
    stage_b_extract,
    stage_c_canonicalize,
)


def _run_abc(spark, warehouse, transcripts, cfg):
    cat = Catalog(spark, warehouse)
    stage_a_reassemble(cat, transcripts, cfg)
    stage_b_extract(cat, cfg)
    stage_c_canonicalize(cat, cfg)
    return cat


def _canon_state(cat):
    nodes = sorted(
        (r["node_id"], r["n_occurrences"], tuple(sorted(r["conv_ids"])))
        for r in cat.read("candidate_nodes").collect()
    )
    comps = {}
    for r in cat.read("components").collect():
        comps.setdefault(r["component_id"], set()).add(r["node_id"])
    return nodes, sorted(sorted(s) for s in comps.values())


def _sig_metric(cat):
    """n_signatures_computed of every stage-C run, in run order (a
    multi-file scan returns rows in no particular file order)."""
    runs: dict = {}
    for r in cat.read(ckpt.METRICS).filter(F.col("stage") == "C_canonicalize").collect():
        runs.setdefault(r["run_id"], {})[r["metric"]] = r["value"]
    return [int(m["n_signatures_computed"])
            for m in sorted(runs.values(), key=lambda m: float(m["wall_ts"]))]


def _aliases(cat):
    return {
        r["node_id"]: list(r["aliases"] or [])
        for r in cat.read("candidate_nodes").select("node_id", "aliases").collect()
    }


def test_incremental_equals_full(spark, corpus, warehouse, tmp_path):
    df, _ = corpus
    cfg_half = PipelineConfig(warehouse=warehouse)
    convs = sorted(r["conv_id"] for r in df.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])

    # phase 1: half the corpus (full stage-C path), phase 2: the rest
    # (incremental path)
    cat = _run_abc(spark, warehouse, df.filter(F.col("conv_id").isin(half)), cfg_half)
    n_nodes_half = cat.read("candidate_nodes").count()
    aliases_half = _aliases(cat)
    stage_a_reassemble(cat, df, cfg_half)
    stage_b_extract(cat, cfg_half)
    stage_c_canonicalize(cat, cfg_half)

    # from-scratch reference on the full corpus
    wh2 = str(tmp_path / "wh_full")
    cat2 = _run_abc(spark, wh2, df, PipelineConfig(warehouse=wh2))

    assert _canon_state(cat) == _canon_state(cat2)

    # the delta run signed only the NEW nodes (cost ∝ increment)
    sigs = _sig_metric(cat)
    assert len(sigs) == 2
    assert sigs[0] == n_nodes_half
    n_total = cat.read("candidate_nodes").count()
    assert 0 < sigs[1] <= n_total - n_nodes_half + 5  # new (+ rare alias-changed)
    # exactly the nodes that are new or whose aliases changed
    resigned = [
        n for n, al in _aliases(cat).items()
        if n not in aliases_half or aliases_half[n] != al
    ]
    assert sigs[1] == len(resigned)

    # third run with nothing pending: zero signatures, state unchanged
    before = _canon_state(cat)
    stage_c_canonicalize(cat, cfg_half)
    assert _sig_metric(cat)[-1] == 0
    assert _canon_state(cat) == before

    # fourth run: a non-empty delta with nothing to re-sign. A copy of
    # one conversation under a conv_id that sorts before every other
    # one repeats existing nodes only, and never wins their aliases
    # (last writer = greatest conv_id), so no alias changes.
    aliases_before = _aliases(cat)
    src = cat.read("candidate_nodes").select(F.explode("conv_ids")).first()[0]
    dup_id = "0" + src
    assert dup_id < min(convs)
    dup = df.filter(F.col("conv_id") == src).withColumn("conv_id", F.lit(dup_id))
    stage_a_reassemble(cat, df.unionByName(dup), cfg_half)
    stage_b_extract(cat, cfg_half)
    stage_c_canonicalize(cat, cfg_half)
    assert _sig_metric(cat)[-1] == 0
    assert _aliases(cat) == aliases_before
    assert cat.read("candidate_nodes").filter(
        F.array_contains("conv_ids", dup_id)
    ).count() > 0


def test_stage_c_crash_rolls_back(spark, corpus, warehouse):
    """An overwrite from a run that never reached mark_processed must
    roll back on resume — otherwise the resumed run would double-merge
    its delta."""
    df, _ = corpus
    cfg = PipelineConfig(warehouse=warehouse)
    cat = _run_abc(spark, warehouse, df, cfg)
    good_nodes, good_comps = _canon_state(cat)

    # simulate a crashed run: candidate_nodes overwritten, state not marked
    crashed = "feedfacef00d"
    cat.overwrite(cat.read("candidate_nodes").limit(1), "candidate_nodes", run_id=crashed)
    assert cat.read("candidate_nodes").count() == 1

    rolled = ckpt.reconcile_versions(cat, ["candidate_nodes"])
    assert rolled["candidate_nodes"] == 1
    assert _canon_state(cat) == (good_nodes, good_comps)


def _pair_scores(cat):
    return sorted(
        (r["a_id"], r["b_id"], round(r["similarity"], 6))
        for r in cat.read("node_pairs").collect()
    )


def test_compaction_reconverges_to_from_scratch(spark, corpus, warehouse, tmp_path):
    """VERDICT r2 next-step #8: incremental runs freeze persisted pair
    scores at their write-time IDF (and never drop stale pairs);
    stage_c_compact's full re-score must land the warehouse on exactly
    the from-scratch node_buckets/node_pairs/components state."""
    from digest import table_digest

    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        stage_c_compact,
    )

    df, _ = corpus
    cfg = PipelineConfig(warehouse=warehouse)
    convs = sorted(r["conv_id"] for r in df.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])

    # incremental warehouse: half corpus, then the rest as a delta
    cat = _run_abc(spark, warehouse, df.filter(F.col("conv_id").isin(half)), cfg)
    stage_a_reassemble(cat, df, cfg)
    stage_b_extract(cat, cfg)
    stage_c_canonicalize(cat, cfg)

    # from-scratch reference on the full corpus
    wh2 = str(tmp_path / "wh_scratch")
    cat2 = _run_abc(spark, wh2, df, PipelineConfig(warehouse=wh2))

    stage_c_compact(cat, cfg)
    assert _pair_scores(cat) == _pair_scores(cat2)
    assert _canon_state(cat) == _canon_state(cat2)
    assert table_digest(cat, "node_buckets") == table_digest(cat2, "node_buckets")

    # compaction is idempotent
    before = _pair_scores(cat)
    stage_c_compact(cat, cfg)
    assert _pair_scores(cat) == before
