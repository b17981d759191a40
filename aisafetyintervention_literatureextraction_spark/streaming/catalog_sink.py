"""Exactly-once streaming stages A+B into the warehouse catalog (§2.11).

:func:`stream_pipeline_to_catalog` drains a transcripts, PDF or ARD
source as an AvailableNow stream.  Every micro-batch runs the batch
pipeline's own steps (plans/pipeline.py): the per-source document
adapter, stage A's landing step and stage B's extraction step.

``foreachBatch`` + a plain append is at-least-once: a crash between the
data writes and the streaming checkpoint's offset commit replays the
micro-batch.  The sink closes that window with the manifest-level heal
the batch stages use (``checkpoint.reconcile``):

1. every micro-batch writes under a DETERMINISTIC run_id,
   ``<prefix>-b<batch_id>`` — Spark guarantees batch_id is stable
   across replays of the same data;
2. the commit point is ONE state-table append, written after every
   data write, carrying both stages' processed sets;
3. on replay, an already-committed batch is skipped outright, and a
   torn batch (data landed, state didn't) is healed by pruning its
   orphaned manifest entries and rolling back its orphaned
   ``edges_agg`` version before re-processing — O(manifest), no data
   IO.

Works with any trigger (AvailableNow or continuous micro-batches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import checkpoint as ckpt
from ..catalog import Catalog
from ..functions import caching
from ..plans import pipeline

# run_id prefix per source format: a replay against an existing
# warehouse recognises its committed batches by these, so they never
# change
STREAM_IDS = {"transcripts": "ab", "pdf": "pdf", "ard": "ard"}

# streaming binaryFile source schema (Spark's binaryFile reader shape —
# streaming requires it stated explicitly)
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def process_micro_batch(
    cat: Catalog, cfg: pipeline.PipelineConfig, fmt: str, rows: DataFrame,
    batch_id: int,
) -> str:
    """One micro-batch of stages A+B under ONE atomic run_id.  Returns
    'appended', or 'skipped' for a batch a previous attempt committed."""
    run_id = f"{STREAM_IDS[fmt]}-b{batch_id}"
    committed = ckpt.committed_run_ids(cat)
    if run_id in committed:
        return "skipped"
    # heal a torn prior attempt of this batch before re-processing it
    ckpt.reconcile(cat, pipeline.A_TABLES + pipeline.B_TABLES, committed)
    ckpt.reconcile_versions(cat, ["edges_agg"], committed)
    docs, _, processed, _ = pipeline.land_documents(
        cat, run_id, *pipeline.documents_delta(fmt, rows, cfg))
    pipeline.extract_documents(cat, cfg, run_id, docs)
    # COMMIT POINT: one atomic state append carrying BOTH stages'
    # processed sets (mark_processed twice would commit the run_id
    # after the first append, breaking the all-or-nothing window),
    # tagged with the run_id as mark_processed tags its entry
    cat.append(ckpt.state_rows("A_reassemble", run_id, processed)
               .union(ckpt.state_rows("B_extract", run_id, docs)), ckpt.STATE,
               run_id=run_id)
    caching.release_caches()
    return "appended"


def _read_stream(spark: SparkSession, fmt: str, source: str, glob: str,
                 max_files_per_trigger: int | None) -> DataFrame:
    """The ``fmt`` source as a file stream whose micro-batches hold the
    rows the batch document adapter takes: transcript turns, decoded
    PDF rows or ARD articles."""
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "transcripts":
        from ..schemas import TRANSCRIPTS

        return reader.schema(TRANSCRIPTS).parquet(source)
    if fmt == "ard":
        from ..sources.ard import ARD_SCHEMA

        return reader.schema(ARD_SCHEMA).json(source).withColumn(
            "date_published", F.to_timestamp(F.col("date_published")))
    from ..operators.pdf import decode_pdf_text
    from ..sources.raw_files import file_stem

    files = (reader.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
             .option("pathGlobFilter", glob).load(source))
    return decode_pdf_text(
        files.select(file_stem(F.col("path")).alias("doc_id"), "content"))


def stream_pipeline_to_catalog(
    spark: SparkSession,
    source: str,
    cfg: pipeline.PipelineConfig,
    *,
    fmt: str = "transcripts",
    checkpoint_path: str | None = None,
    cd_every: int | None = None,
    glob: str = "*",
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming stages A+B over the ``fmt`` source directory into the
    ``cfg.warehouse`` catalog, one ATOMIC exactly-once commit per
    micro-batch (:func:`process_micro_batch`); returns the batch count
    and whether the in-stream C+D trigger fired on the last batch.

    Each micro-batch lands documents, the raw-input audit copy (K2),
    validated triples/nodes, quarantine routing (F9), and the
    incremental ``edges_agg`` semigroup merge through the same steps
    as batch stages A+B, so the tables are byte-equal to a batch run
    over the same rows.  Because the commit point writes the batch
    stages' processed sets (``A_reassemble`` / ``B_extract``), the
    batch pipeline can take over the same warehouse at any time: its
    resume anti-joins skip every document the stream already landed.
    Transcript conversations must not straddle micro-batches (each is
    reassembled from the turns of one batch); feeds that split
    conversations across arrivals belong to the stateful assembler
    (streaming/stateful.py).  PDFs and ARD articles are whole rows.

    ``checkpoint_path`` is the stream's offset log (default
    ``<warehouse>/_stream_ckpt``); ``glob`` filters PDF file names
    (every file by default, as ``read_raw_files``; ``run_pipeline``
    passes ``*.pdf``);
    ``max_files_per_trigger`` caps the files of one micro-batch.

    ``cd_every=k`` adds the IN-STREAM stages C+D trigger: after every
    k-th micro-batch's A+B commit point lands, the delta-aware
    ``stage_c_canonicalize`` and ``stage_d_materialize`` run over the
    warehouse, so ``kg_nodes`` / ``kg_edges`` converge DURING the
    stream.  Exactly-once composes because C and D sit strictly after
    the A+B commit point and carry their OWN run_id commit points: a
    crash inside the trigger replays the micro-batch (A+B skip as
    committed), then C's pending anti-join skips the already-merged
    delta and D is a pure recompute — nothing double-counts.
    """
    cat = Catalog(spark, cfg.warehouse)
    state = {"n_batches": 0, "cd_on_last": False}

    def process(rows: DataFrame, batch_id: int) -> None:
        process_micro_batch(cat, cfg, fmt, rows, batch_id)
        state["n_batches"] += 1
        state["cd_on_last"] = False
        if cd_every and state["n_batches"] % cd_every == 0:
            pipeline.stage_c_canonicalize(cat, cfg)
            pipeline.stage_d_materialize(cat, cfg)
            caching.release_caches()
            state["cd_on_last"] = True

    q = (
        _read_stream(spark, fmt, source, glob, max_files_per_trigger)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path
                or os.path.join(cfg.warehouse, "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state
