"""End-to-end pipeline + resume tests (north_star: killed run resumes
without recomputation; F1 anti-join checkpoint pattern)."""

import pyspark.sql.functions as F

from aisafetyintervention_literatureextraction_spark import checkpoint as ckpt
from aisafetyintervention_literatureextraction_spark.catalog import Catalog
from aisafetyintervention_literatureextraction_spark.datagen import GOLDEN_TRIPLES
from aisafetyintervention_literatureextraction_spark.plans.pipeline import run_pipeline


def test_pipeline_end_to_end(spark, corpus, warehouse):
    df, expected = corpus
    stats = run_pipeline(spark, df, warehouse)
    cat = Catalog(spark, warehouse)

    # correctness gate: triples P/R ≥ 0.95
    got = set(
        map(tuple,
            cat.read("triples_raw")
            .select("conv_id", "subj", "pred", "obj", "edge_confidence").collect())
    )
    exp = set(
        (t["conv_id"], t["subj"], t["pred"], t["obj"], t["edge_confidence"])
        for t in expected.triples
    )
    tp = len(got & exp)
    assert tp / max(len(got), 1) >= 0.95
    assert tp / max(len(exp), 1) >= 0.95

    # golden triples survive to the kg level through canonicalization
    kgn = cat.read("kg_nodes").collect()
    name2id = {}
    for r in kgn:
        name2id[r["canonical_name"]] = r["node_id"]
        for a in r["aliases"]:
            name2id.setdefault(a, r["node_id"])
    kge = {(r["src"], r["pred"], r["dst"]) for r in cat.read("kg_edges").collect()}
    for s, p, o, _ in GOLDEN_TRIPLES:
        assert (name2id[s], p, name2id[o]) in kge, f"golden edge lost: {s} -{p}-> {o}"

    # checkpoint artifacts exist
    assert cat.exists(ckpt.STATE) and cat.exists(ckpt.LINEAGE) and cat.exists(ckpt.METRICS)
    assert stats["n_triples"] == len(got)


def test_resume_skips_processed(spark, corpus, warehouse):
    """Run stage A+B on half the corpus, then on the full corpus — the
    second run recomputes only the unprocessed conversations, and the
    final tables equal a from-scratch run."""
    df, _ = corpus
    cat = Catalog(spark, warehouse)
    convs = sorted(r["conv_id"] for r in df.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])

    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig,
        stage_a_reassemble,
        stage_b_extract,
    )
    cfg = PipelineConfig(warehouse=warehouse)

    first = df.filter(F.col("conv_id").isin(half))
    stage_a_reassemble(cat, first, cfg)
    stage_b_extract(cat, cfg)
    n_docs_first = cat.read("documents").count()

    # resume with the FULL input: already-processed convs are anti-joined away
    stage_a_reassemble(cat, df, cfg)
    stage_b_extract(cat, cfg)

    docs = cat.read("documents")
    assert docs.count() == docs.select("conv_id").distinct().count()
    assert docs.count() > n_docs_first

    triples = cat.read("triples_raw")
    # equality with a from-scratch run
    import tempfile, shutil
    wh2 = tempfile.mkdtemp(prefix="kgwh2_")
    try:
        cat2 = Catalog(spark, wh2)
        stage_a_reassemble(cat2, df, cfg)
        stage_b_extract(cat2, cfg)
        cols = ["conv_id", "chain_id", "edge_idx", "subj", "pred", "obj", "edge_confidence"]
        assert sorted(map(tuple, triples.select(cols).collect())) == sorted(
            map(tuple, cat2.read("triples_raw").select(cols).collect())
        )
    finally:
        shutil.rmtree(wh2, ignore_errors=True)


def test_lineage_and_metrics_rows(spark, corpus, warehouse):
    df, _ = corpus
    run_pipeline(spark, df, warehouse)
    cat = Catalog(spark, warehouse)
    lin = cat.read(ckpt.LINEAGE)
    assert lin.filter(F.col("stage") == "A_reassemble").count() > 0
    assert {"conv_id_min", "conv_id_max", "n_rows"}.issubset(set(lin.columns))
    met = cat.read(ckpt.METRICS)
    stages = {r["stage"] for r in met.select("stage").distinct().collect()}
    assert {"A_reassemble", "B_extract", "C_canonicalize", "D_materialize"}.issubset(stages)


def test_raw_input_audit_replay(spark, corpus, warehouse):
    """K2 analog: re-extracting from the raw_inputs audit table
    reproduces triples_raw byte-identically (reference extract.py:77-80
    persists raw responses for exactly this replay)."""
    from aisafetyintervention_literatureextraction_spark.operators.extraction import (
        extract_triples,
    )
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig, stage_a_reassemble, stage_b_extract,
    )

    df, _ = corpus
    cat = Catalog(spark, warehouse)
    cfg = PipelineConfig(warehouse=warehouse)
    stage_a_reassemble(cat, df, cfg)
    stage_b_extract(cat, cfg)

    replayed = extract_triples(
        cat.read("raw_inputs").select("conv_id", "doc_text"), engine=cfg.extract_engine
    )
    cols = ["conv_id", "chain_id", "chain_title", "edge_idx",
            "subj", "pred", "obj", "description", "edge_confidence"]
    assert sorted(map(tuple, replayed.select(cols).collect())) == sorted(
        map(tuple, cat.read("triples_raw").select(cols).collect())
    )
    # quarantine tables exist (empty on the grammar path) — F9 routed
    assert cat.exists("quarantine_triples") and cat.exists("quarantine_nodes")
    assert cat.read("quarantine_triples").count() == 0


def test_ingest_json_quarantine_and_suggestions(spark, warehouse):
    """F9 routed through the ingest plan: a malformed paper lands in
    quarantine_triples without aborting the batch; Variant-B suggested
    types land in ontology_suggested."""
    import json, os
    from aisafetyintervention_literatureextraction_spark.plans.ingest import (
        ingest_extraction_json,
    )

    cat = Catalog(spark, warehouse)
    d = os.path.join(warehouse, "ingest_b")
    os.makedirs(d)
    good_edge = {"type": "MITIGATES", "rationale": "r", "confidence": 0.8,
                 "target_node": {"type": "CONCEPT", "name": "rlhf",
                                 "canonical_name": "rlhf", "aliases": [],
                                 "confidence": 0.9, "notes": "n"}}
    bad_edge = {"type": None, "rationale": "missing type", "confidence": 0.5,
                "target_node": {"type": "CONCEPT", "name": "x",
                                "canonical_name": "x", "aliases": [],
                                "confidence": 0.5, "notes": ""}}
    doc = {
        "new_node_types": [
            {"type": "BENCHMARK", "definition": "an eval suite",
             "example_instance": "truthfulqa"}],
        "new_edge_types": [
            {"type": "EVALUATES_ON", "definition": "model evaluated on",
             "example_instance": "gpt on mmlu"}],
        "edges": [good_edge, bad_edge],
    }
    with open(os.path.join(d, "paper_q.json"), "w") as f:
        json.dump(doc, f)

    stats = ingest_extraction_json(spark, cat, d, variant="b")
    assert stats["n_triples_ok"] == 1
    assert stats["n_triples_quarantined"] == 1
    q = cat.read("quarantine_triples").collect()
    assert len(q) == 1 and q[0]["pred"] is None
    sugg = {(r["kind"], r["type_name"]) for r in cat.read("ontology_suggested").collect()}
    assert sugg == {("node", "BENCHMARK"), ("edge", "EVALUATES_ON")}

    # idempotent re-ingest: the same directory adds nothing
    ingest_extraction_json(spark, cat, d, variant="b")
    assert cat.read("triples_raw").count() == 1
    assert cat.read("ontology_suggested").count() == 2


def test_ingest_after_build_reaches_kg_edges(spark, corpus, warehouse):
    """Ingested triples land through stage B's landing half, so on a
    built warehouse (stage D materializes from ``edges_agg``) one
    Variant-B triple reaches ``kg_edges`` on the next stage C+D run."""
    import json, os
    from aisafetyintervention_literatureextraction_spark.plans.ingest import (
        ingest_extraction_json,
    )
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig, stage_c_canonicalize, stage_d_materialize,
    )

    df, _ = corpus
    convs = sorted(r["conv_id"] for r in df.select("conv_id").distinct().collect())
    run_pipeline(spark, df.filter(F.col("conv_id").isin(convs[:2])), warehouse)
    cat = Catalog(spark, warehouse)
    assert cat.exists("edges_agg")
    d = os.path.join(warehouse, "ingest_b")
    os.makedirs(d)
    edge = {"type": "MITIGATES", "rationale": "r", "confidence": 0.8,
            "target_node": {"type": "CONCEPT", "name": "late finding",
                            "canonical_name": "late finding", "aliases": [],
                            "confidence": 0.9, "notes": "n"}}
    with open(os.path.join(d, "paper_late.json"), "w") as f:
        json.dump({"new_node_types": [], "new_edge_types": [], "edges": [edge]}, f)
    stats = ingest_extraction_json(spark, cat, d, variant="b")
    assert stats == {**stats, "n_triples_ok": 1, "n_triples_quarantined": 0}

    cfg = PipelineConfig(warehouse=warehouse)
    stage_c_canonicalize(cat, cfg)
    stage_d_materialize(cat, cfg)
    hits = cat.read("kg_edges").filter(F.array_contains("conv_ids", "paper_late"))
    assert [r["pred"] for r in hits.collect()] == ["MITIGATES"]


def test_edges_agg_matches_full_rescan(spark, corpus, warehouse):
    """The incrementally-merged edges_agg table must produce the same
    graph as re-aggregating the full triples_raw history — across an
    initial run plus an incremental one."""
    from aisafetyintervention_literatureextraction_spark.operators.materialize import (
        materialize,
    )

    df, _ = corpus
    cat = Catalog(spark, warehouse)
    convs = sorted(r["conv_id"] for r in df.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    run_pipeline(spark, df.filter(F.col("conv_id").isin(half)), warehouse)
    run_pipeline(spark, df, warehouse)  # incremental

    ref = materialize(
        cat.read("candidate_nodes"), cat.read("triples_raw"), cat.read("components")
    )
    cols = ["src", "dst", "pred", "description", "edge_confidence", "conv_ids"]

    def norm(d):
        return sorted(
            (r["src"], r["dst"], r["pred"], r["description"],
             r["edge_confidence"], tuple(r["conv_ids"]))
            for r in d.select(cols).collect()
        )

    assert norm(cat.read("kg_edges")) == norm(ref.edges)
    nid = lambda d: sorted(map(tuple, d.select("node_id", "canonical_name").collect()))
    assert nid(cat.read("kg_nodes")) == nid(ref.nodes)


def test_stage_d_crash_rolls_back_torn_graph(spark, corpus, warehouse):
    """VERDICT r2 'What's wrong #4': stage D's three overwrites are one
    atomic unit — a crash after kg_nodes but before the commit point
    must leave readers on the consistent pre-crash graph, and the next
    run's reconcile_versions restores it before recomputing."""
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig,
        stage_d_materialize,
    )

    df, _ = corpus
    cat = Catalog(spark, warehouse)
    run_pipeline(spark, df, warehouse)
    nodes_before = sorted(r["node_id"] for r in cat.read("kg_nodes").collect())
    v_nodes = cat.current_version("kg_nodes")

    # simulate a crash mid-stage-D: kg_nodes got its overwrite, the
    # other two tables and the state commit never landed
    torn_run = "deadbeefcafe"
    cat.overwrite(
        spark.createDataFrame([(999999, "torn")], "node_id long, name string"),
        "kg_nodes",
        run_id=torn_run,
    )
    assert cat.current_version("kg_nodes") == v_nodes + 1

    # resume: reconcile_versions rolls the torn version back…
    rolled = ckpt.reconcile_versions(cat, ["kg_nodes", "kg_edges", "dangling"])
    assert rolled["kg_nodes"] == 1
    assert (
        sorted(r["node_id"] for r in cat.read("kg_nodes").collect()) == nodes_before
    )

    # …and a full stage-D rerun recommits a tagged, committed version
    stage_d_materialize(cat, PipelineConfig(warehouse=warehouse))
    assert (
        sorted(r["node_id"] for r in cat.read("kg_nodes").collect()) == nodes_before
    )
    m = cat._manifest("kg_nodes")
    assert m["run_id"] is not None
    assert m["run_id"] in ckpt.committed_run_ids(cat)
