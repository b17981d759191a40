"""S3 ingestion plan: extraction-JSON directory → warehouse tables,
with F9 validation routing persisted (VERDICT r1 next-step #7) and
Variant-B ontology suggestions landed (next-step #5).

The reference ingests per-paper JSON and upserts per row (reference
db.py:57-66), raising on validation failure; ours routes invalid rows
to quarantine tables instead (F9 — SURVEY §2.2), so one malformed
paper never aborts a 100 TB batch.  The triples and nodes land through
stage B's own landing half (``pipeline.land_extraction``), so an
ingest after a build reaches ``kg_edges`` on the next stage C+D run:

    triples  → triples_raw      + quarantine_triples  + edges_agg
    nodes    → nodes_raw        + quarantine_nodes (Variant A only)
    (B only) → ontology_suggested

All writes are run_id-tagged delta commits with the same
mark_processed commit point as the transcript pipeline, so a killed
ingest heals at the manifest level on resume (checkpoint.reconcile).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from .. import checkpoint as ckpt
from ..catalog import Catalog
from ..sources.extraction_json import (
    read_output_json_b,
    read_paper_json_a,
    read_suggested_types,
)
from .pipeline import _n, land_extraction

INGEST_OUTPUTS = [
    "triples_raw", "nodes_raw",
    "quarantine_triples", "quarantine_nodes",
    "ontology_suggested",
]


def ingest_extraction_json(
    spark: SparkSession,
    catalog: Catalog,
    path: str,
    variant: str = "a",
    resume: bool = True,
) -> dict:
    """Ingest a directory of per-paper extraction JSON (Variant A
    PaperSchema or Variant B OutputSchema). Variant-A node validation
    enforces the closed ontology ranges; Variant B's ontology is
    deliberately open (SURVEY §1.4), so only structural triple checks
    apply there and its suggested types are registered instead."""
    run_id = ckpt.new_run_id()
    t0 = time.time()
    if resume:
        committed = ckpt.committed_run_ids(catalog)
        ckpt.reconcile(catalog, INGEST_OUTPUTS, committed)
        ckpt.reconcile_versions(catalog, ["edges_agg"], committed)  # merge table

    if variant == "a":
        nodes, triples = read_paper_json_a(spark, path)
    else:
        nodes, triples = read_output_json_b(spark, path)

    stage = f"ingest_json_{variant}"
    triples = ckpt.pending(catalog, stage, triples) if resume else triples
    nodes = ckpt.pending(catalog, stage, nodes) if resume else nodes

    if variant != "a":
        suggested = read_suggested_types(spark, path)
        suggested = ckpt.pending(catalog, stage, suggested) if resume else suggested
        catalog.append(suggested, "ontology_suggested", run_id=run_id)
    n_ok, n_bad = land_extraction(catalog, run_id, triples, nodes,
                                  check_nodes=variant == "a")

    processed = (
        triples.select("conv_id").union(nodes.select("conv_id")).distinct()
    )
    ckpt.mark_processed(catalog, stage, run_id, processed)  # commit point
    stats = {
        "n_triples_ok": _n(n_ok),
        "n_triples_quarantined": _n(n_bad),
        "wall_s": time.time() - t0,
    }
    ckpt.write_metrics(catalog, stage, run_id, stats)
    return stats
