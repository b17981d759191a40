"""Exactly-once streaming sink into the warehouse catalog (§2.11).

``foreachBatch`` + a plain parquet append is at-least-once: a crash
between the data write and the streaming checkpoint's offset commit
replays the micro-batch and duplicates its rows. This sink closes that
window with the same manifest-level mechanism the batch pipeline uses
(checkpoint.reconcile semantics):

1. every micro-batch appends under a DETERMINISTIC run_id derived from
   (stream_id, batch_id) — Spark guarantees batch_id is stable across
   replays of the same data;
2. the commit point is a state-table row (mark_processed) written
   AFTER the append;
3. on replay, an already-committed batch is skipped outright, and a
   torn batch (data landed, state didn't) is healed by pruning its
   orphaned manifest entries before re-appending — O(manifest), no
   data IO.

Works with any trigger (AvailableNow or continuous micro-batches) and
against either catalog backend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import checkpoint as ckpt
from ..operators.reassembly import reassemble
from ..schemas import TRANSCRIPTS


def exactly_once_append(
    catalog,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str = "stream",
) -> str:
    """Idempotently append one micro-batch. Returns 'appended' or
    'skipped' (batch already committed by a previous attempt)."""
    run_id = f"{stream_id}-b{batch_id}"
    committed = ckpt.committed_run_ids(catalog)
    if run_id in committed:
        return "skipped"
    # heal a torn prior attempt of THIS batch (data landed, commit
    # point didn't): drop its orphaned entries before re-appending
    catalog.prune_orphan_runs(table, committed)
    catalog.append(batch_df, table, run_id=run_id)
    ckpt.mark_processed(  # commit point
        catalog,
        f"stream_{table}",
        run_id,
        batch_df.sparkSession.createDataFrame(
            [(f"batch:{batch_id}",)], "conv_id string"
        ),
    )
    return "appended"


def _require_checkpoint(checkpoint_path: str | None) -> None:
    """pyspark stringifies option values, so a None checkpoint_path
    would silently create a literal directory named "None" in cwd;
    fail loudly instead (offset tracking is what makes the stream
    exactly-once — an accidental default location is never right)."""
    if not checkpoint_path:
        raise ValueError(
            "checkpoint_path is required: streaming exactly-once "
            "depends on a durable checkpointLocation"
        )


def stream_reassemble_to_catalog(
    spark: SparkSession,
    source_path: str,
    catalog,
    table: str = "documents",
    checkpoint_path: str | None = None,
    stream_id: str = "reassembly",
) -> None:
    """AvailableNow reassembly draining into a catalog table with
    exactly-once batch commits (the catalog twin of
    reassembly_stream.stream_reassemble_available_now)."""
    _require_checkpoint(checkpoint_path)
    src = spark.readStream.schema(TRANSCRIPTS).parquet(source_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs = reassemble(batch_df).documents
        exactly_once_append(catalog, table, docs, batch_id, stream_id=stream_id)

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# every table streaming stages A+B append to (heal set for torn batches)
_AB_APPEND_TABLES = [
    "documents", "quarantine", "raw_inputs", "triples_raw",
    "nodes_raw", "quarantine_triples", "quarantine_nodes",
]


def _process_ab_batch(
    spark: SparkSession,
    catalog,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    extract_engine: str = "arrow",
    salt_segment: int = 4096,
) -> str:
    """One micro-batch of streaming stages A+B under ONE atomic run_id
    (the foreachBatch body of :func:`stream_pipeline_to_catalog`,
    factored out so tests can drive per-file triggers directly).
    Returns 'appended' or 'skipped'."""
    run_id = f"{stream_id}-b{batch_id}"
    committed = ckpt.committed_run_ids(catalog)
    if run_id in committed:
        return "skipped"  # replayed, fully-committed batch
    # heal a torn prior attempt of this batch before re-appending
    for t in _AB_APPEND_TABLES:
        catalog.prune_orphan_runs(t, committed)
    ckpt.reconcile_versions(catalog, ["edges_agg"], committed)

    res = reassemble(batch_df, salt_segment=salt_segment)
    return _commit_ab_docs(
        catalog, res.documents, res.quarantine, run_id,
        extract_engine=extract_engine,
    )


def _commit_ab_docs(
    catalog,
    documents: DataFrame,
    quarantine: DataFrame,
    run_id: str,
    extract_engine: str = "arrow",
) -> str:
    """Shared A+B micro-batch body from the point where the batch's
    documents/quarantine deltas exist (transcript reassembly and PDF
    decode both land here): audit copy, extraction, validation
    routing, edges_agg merge, then the single atomic commit point.
    Caller has already done the run_id dedup check and torn-batch
    healing."""
    from pyspark.sql import functions as F

    from ..functions import caching
    from ..operators.extraction import extract_nodes, extract_triples
    from ..operators.materialize import aggregate_raw_edges, edge_agg_combiner
    from ..sources.extraction_json import validate_nodes, validate_triples

    docs = caching.track(documents)
    quar = caching.track(quarantine)
    catalog.append(docs, "documents", run_id=run_id)
    # unconditional (matches batch stage A): an empty delta writes an
    # empty entry — cheaper than a limit(1) existence-probe job per batch
    catalog.append(quar, "quarantine", run_id=run_id)
    catalog.append(  # K2 raw-input audit, replay contract as batch
        docs.select(
            F.lit(run_id).alias("run_id"), "conv_id", "n_turns", "doc_text"
        ),
        "raw_inputs", run_id=run_id,
    )
    triples = caching.track(extract_triples(docs, engine=extract_engine))
    nodes = caching.track(extract_nodes(docs, engine=extract_engine))
    t_ok, t_bad = validate_triples(triples)
    n_ok, n_bad = validate_nodes(nodes)
    t_ok = caching.track(t_ok)  # consumed by append + edges_agg merge
    catalog.append(t_ok, "triples_raw", run_id=run_id)
    catalog.append(n_ok, "nodes_raw", run_id=run_id)
    catalog.append(t_bad, "quarantine_triples", run_id=run_id)
    catalog.append(n_bad, "quarantine_nodes", run_id=run_id)
    catalog.merge_combine(
        aggregate_raw_edges(t_ok), "edges_agg",
        keys=["subj", "pred", "obj"], combiner=edge_agg_combiner,
        run_id=run_id,
    )
    # COMMIT POINT: one atomic state append carrying BOTH stages'
    # processed sets (mark_processed twice would commit the run_id
    # after the first append, breaking the all-or-nothing window)
    processed_a = docs.select("conv_id").union(
        quar.select("conv_id")
    ).distinct()
    state_rows = processed_a.select(
        F.lit("A_reassemble").alias("stage"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.lit(run_id).alias("run_id"),
    ).union(
        docs.select(
            F.lit("B_extract").alias("stage"),
            F.col("conv_id").cast("string").alias("conv_id"),
            F.lit(run_id).alias("run_id"),
        )
    )
    catalog.append(state_rows, ckpt.STATE)
    caching.release_caches()
    return "appended"


def stream_pipeline_to_catalog(
    spark: SparkSession,
    source_path: str,
    catalog,
    checkpoint_path: str | None = None,
    stream_id: str = "ab",
    extract_engine: str = "arrow",
    salt_segment: int = 4096,
    cd_every: int | None = None,
    cd_cfg=None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming stages A+B: reassembly → extraction → validation
    routing → catalog, one ATOMIC exactly-once commit per micro-batch.

    The streaming twin of the batch pipeline's
    ``stage_a_reassemble`` + ``stage_b_extract``
    (plans/pipeline.py:64-140): each micro-batch lands documents,
    the raw-input audit copy (K2), validated triples/nodes, quarantine
    routing (F9), and the incremental ``edges_agg`` semigroup merge —
    all under ONE deterministic run_id, with ONE state-table append as
    the commit point covering both stages. Crash anywhere before that
    commit point and the replayed batch heals: orphaned appends are
    pruned (``prune_orphan_runs``) and the orphaned ``edges_agg``
    merge VERSION is rolled back (``reconcile_versions``) before
    re-processing — so double-counting is impossible even for the
    merge table.

    Because the commit point also writes the batch stages' processed
    sets (``A_reassemble`` / ``B_extract``), the BATCH pipeline can
    take over the same warehouse at any time: its resume anti-joins
    skip every conversation the stream already landed, and stages C/D
    run as the periodic catch-up. Conversations must not straddle
    micro-batches (same file-grained contract as
    ``stream_reassemble_to_catalog``); feeds that split conversations
    across arrivals belong to the stateful assembler
    (streaming/stateful.py), which owns cross-batch state.

    ``cd_every=k`` adds the IN-STREAM stages C+D trigger (round-3
    VERDICT next-step #3): after every k-th micro-batch's A+B commit
    point lands, the delta-aware ``stage_c_canonicalize`` and
    ``stage_d_materialize`` run over the warehouse, so ``kg_nodes`` /
    ``kg_edges`` converge DURING the stream with no batch pass.
    Exactly-once composes because C and D sit strictly after the A+B
    commit point and carry their OWN run_id commit points: a crash
    inside the trigger replays the micro-batch (A+B heal as committed
    no-ops), then C's pending anti-join skips the already-merged delta
    and D is a pure recompute — nothing double-counts.
    """
    _require_checkpoint(checkpoint_path)
    reader = spark.readStream.schema(TRANSCRIPTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_path)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        _process_ab_batch(
            spark, catalog, batch_df, batch_id, stream_id,
            extract_engine=extract_engine, salt_segment=salt_segment,
        )

    return _drain_ab_stream(src, body, catalog, checkpoint_path,
                            cd_every, cd_cfg)


# streaming binaryFile source schema (Spark's binaryFile reader shape —
# streaming requires it stated explicitly)
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _process_pdf_batch(
    catalog,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    extract_engine: str = "arrow",
) -> str:
    """One micro-batch of streaming PDF ingest: binaryFile rows →
    stdlib text extraction (operators/pdf.py) → pre-assembled
    documents/quarantine deltas → the shared A+B commit body.  The
    streaming twin of the batch PDF adapter's stage-A half
    (plans/pipeline.py stage_a_ingest_documents): same undecodable-
    document quarantine reason, same /Info provenance columns, same
    atomic run_id commit."""
    from pyspark.sql import functions as F

    from ..operators.pdf import decode_pdf_text
    from ..sources.raw_files import file_stem

    decoded = decode_pdf_text(
        batch_df.select(file_stem(F.col("path")).alias("doc_id"), "content")
    ).select(
        "conv_id", F.col("n_pages").alias("n_turns"), "doc_text",
        "title", "author",
        F.col("decode_error").alias("quarantine_reason"),
    )
    return _process_preassembled_batch(
        catalog, decoded, batch_id, stream_id, extract_engine)


def _process_preassembled_batch(
    catalog,
    docs: DataFrame,
    batch_id: int,
    stream_id: str,
    extract_engine: str = "arrow",
) -> str:
    """Exactly-once micro-batch for any PRE-ASSEMBLED document source
    (PDF decode, ARD articles): normalize to the DOCUMENTS shape via
    the same helper batch stage A uses (byte-identical rows between
    stream and batch), split usable vs quarantine with the source's
    classified reason, commit atomically."""
    from pyspark.sql import functions as F

    from ..plans.pipeline import normalize_preassembled

    run_id = f"{stream_id}-b{batch_id}"
    committed = ckpt.committed_run_ids(catalog)
    if run_id in committed:
        return "skipped"
    for t in _AB_APPEND_TABLES:
        catalog.prune_orphan_runs(t, committed)
    ckpt.reconcile_versions(catalog, ["edges_agg"], committed)

    norm = normalize_preassembled(docs)
    usable = F.col("doc_text").isNotNull() & (F.length("doc_text") > 0)
    good = norm.filter(usable).drop("__reason")
    bad = norm.filter(~usable | F.col("doc_text").isNull()).select(
        "conv_id", F.col("__reason").alias("reason")
    )
    return _commit_ab_docs(
        catalog, good, bad, run_id, extract_engine=extract_engine
    )


def stream_pdf_pipeline_to_catalog(
    spark: SparkSession,
    pdf_dir: str,
    catalog,
    checkpoint_path: str | None = None,
    glob: str = "*.pdf",
    stream_id: str = "pdf",
    extract_engine: str = "arrow",
    cd_every: int | None = None,
    cd_cfg=None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming ingest over a directory of PDFs — the reference's own
    input format (extract.py:65 ``glob("*.pdf")``) as a Structured
    Streaming file source: new files arriving in ``pdf_dir`` land as
    documents → triples/nodes under the same exactly-once micro-batch
    contract as :func:`stream_pipeline_to_catalog`, and ``cd_every=k``
    runs the in-stream C+D trigger so kg tables converge during the
    stream.  PDFs are whole files, so the conversations-must-not-
    straddle-batches caveat of the transcript stream does not arise —
    every document commits with the batch that saw its file."""
    _require_checkpoint(checkpoint_path)
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.load(pdf_dir)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        _process_pdf_batch(
            catalog, batch_df, batch_id, stream_id,
            extract_engine=extract_engine,
        )

    return _drain_ab_stream(src, body, catalog, checkpoint_path,
                            cd_every, cd_cfg)


def _drain_ab_stream(src, body, catalog, checkpoint_path: str,
                     cd_every: int | None, cd_cfg) -> dict:
    """Shared AvailableNow scaffold for every A+B stream: run ``body``
    per micro-batch, fire the in-stream C+D trigger after every
    ``cd_every``-th commit, report batch/trigger state."""
    state = {"n_batches": 0, "cd_on_last": False}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        body(batch_df, batch_id)
        state["n_batches"] += 1
        state["cd_on_last"] = False
        if cd_every and state["n_batches"] % cd_every == 0:
            from ..functions import caching
            from ..plans.pipeline import (
                PipelineConfig,
                stage_c_canonicalize,
                stage_d_materialize,
            )

            cfg = cd_cfg or PipelineConfig(warehouse="")
            stage_c_canonicalize(catalog, cfg)
            stage_d_materialize(catalog, cfg)
            caching.release_caches()
            state["cd_on_last"] = True

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state


def stream_ard_pipeline_to_catalog(
    spark: SparkSession,
    path: str,
    catalog,
    checkpoint_path: str | None = None,
    stream_id: str = "ard",
    extract_engine: str = "arrow",
    cd_every: int | None = None,
    cd_cfg=None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming ingest over an ARD article feed (JSONL/gzip files
    arriving in ``path`` — the reference's D2 corpus shape): each
    micro-batch maps articles through ``ard_as_documents`` and commits
    under the same exactly-once contract as the PDF/transcript
    streams, with the cd_every in-stream C+D trigger.  Articles are
    whole rows, so nothing straddles batches."""
    from pyspark.sql import functions as F

    from ..sources.ard import ARD_SCHEMA, ard_as_documents

    _require_checkpoint(checkpoint_path)
    reader = spark.readStream.schema(ARD_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.json(path).withColumn(
        "date_published", F.to_timestamp(F.col("date_published"))
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        docs = ard_as_documents(batch_df).filter(
            F.col("conv_id").isNotNull()
        )
        _process_preassembled_batch(
            catalog, docs, batch_id, stream_id, extract_engine)

    return _drain_ab_stream(src, body, catalog, checkpoint_path,
                            cd_every, cd_cfg)
