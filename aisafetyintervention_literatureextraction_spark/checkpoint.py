"""Checkpoint + lineage + metrics (SURVEY.md §2.1 S2/K6, §2.2 F1, §4.1).

The reference's resumability is "skip PDFs whose stem already has an
output JSON" (reference extract.py:68-71) — a filesystem anti-join.
Ours is the same primitive, set-oriented and per-stage:

- ``_ckpt_stage_state``: one row per (stage, conv_id) processed.
  Resume = ``input.join(state, "conv_id", "left_anti")`` — Catalyst
  pushes the anti-join below the expensive stages, so a killed run
  recomputes nothing (north_star requirement). Every commit tags its
  manifest entry with its run_id, so the committed-run set is read
  from the manifest (``Catalog.run_ids``), never from the rows.
- ``_ckpt_lineage``: one row per data FILE a stage run committed to
  its output table: ``partition_id`` is the file's index within the
  run's commit, ``n_rows`` its row count and ``conv_id_min`` /
  ``conv_id_max`` the key range, all read from the file's parquet
  footer — the "per-partition lineage (conv_id ranges, stage
  watermarks)" the north rule names, at the granularity the commit
  wrote (one file per write task).
- ``_ckpt_metrics``: one row per (stage, run_id, metric).

Commit-point sentinels, lineage and metrics rows are written on the
driver (``Catalog.append_rows``): bookkeeping submits no Spark job.
"""

from __future__ import annotations

import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .schemas import CKPT_LINEAGE, CKPT_METRICS, CKPT_STAGE_STATE

STATE = "_ckpt_stage_state"
LINEAGE = "_ckpt_lineage"
METRICS = "_ckpt_metrics"


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def pending(catalog: Catalog, stage: str, inp: DataFrame, key: str = "conv_id") -> DataFrame:
    """F1 — anti-join the stage's processed set."""
    if not catalog.exists(STATE):
        return inp
    done = catalog.read(STATE).filter(F.col("stage") == stage).select(
        F.col("conv_id").alias(key)
    )
    return inp.join(done, key, "left_anti")


def done_ids(catalog: Catalog, stage: str) -> DataFrame | None:
    """The stage's processed-id set (distinct conv_id), or None if no
    state table exists yet."""
    if not catalog.exists(STATE):
        return None
    return (catalog.read(STATE).filter(F.col("stage") == stage)
            .select("conv_id").distinct())


def pending_files(catalog: Catalog, stage: str, files: DataFrame,
                  key: str = "doc_id") -> DataFrame:
    """File-level twin of ``pending`` for blob-carrying scans (PDF
    dirs): the processed side BROADCASTS so the anti-join never
    shuffles file contents, and — because the key is the filename stem,
    known before any decode — the skip lands upstream of the Python
    parse. ``pending`` on the decoded output cannot do that: its key
    only exists after mapInPandas, so a resumed run would re-parse the
    whole corpus just to drop the rows afterwards."""
    done = done_ids(catalog, stage)
    if done is None:
        return files
    return files.join(
        F.broadcast(done.withColumnRenamed("conv_id", key)),
        key, "left_anti")


def state_rows(
    stage: str, run_id: str, conv_ids: DataFrame, key: str = "conv_id"
) -> DataFrame:
    """The state-table rows marking ``conv_ids`` processed by ``stage``
    under ``run_id``."""
    return conv_ids.select(
        F.lit(stage).alias("stage"),
        F.col(key).cast("string").alias("conv_id"),
        F.lit(run_id).alias("run_id"),
    )


def mark_processed(
    catalog: Catalog, stage: str, run_id: str, conv_ids: DataFrame | None = None,
    key: str = "conv_id",
) -> None:
    """The COMMIT POINT of a stage run: a run's output-table entries
    are considered committed iff its run_id tags a state-table entry
    (see ``reconcile``) — so this must be the LAST catalog write of
    the stage's exactly-once window. ``conv_ids`` None marks the whole
    stage with one ``__all__`` sentinel row (the pure-recompute stages
    D, E and compaction), written without a Spark job."""
    if conv_ids is None:
        catalog.append_rows([(stage, "__all__", run_id)], CKPT_STAGE_STATE,
                            STATE, run_id=run_id)
    else:
        catalog.append(state_rows(stage, run_id, conv_ids, key), STATE, run_id=run_id)


def committed_run_ids(catalog: Catalog) -> set[str]:
    """run_ids whose stage reached its mark_processed commit point:
    the state manifest's run record, no Spark job. A state table
    written before its entries carried run_ids is scanned instead."""
    if not catalog.exists(STATE):
        return set()
    runs = catalog.run_ids(STATE)
    if runs is None:
        runs = {r[0] for r in catalog.read(STATE).select("run_id").distinct().collect()}
    return runs


def reconcile_versions(
    catalog: Catalog, output_tables: list[str], committed: set[str] | None = None
) -> dict[str, int]:
    """Overwrite/merge-table twin of ``reconcile``: roll whole table
    VERSIONS back past uncommitted runs (stage C's read-merge-overwrite
    cycle must undo atomically, or a resumed run would merge its delta
    into a state that already contains it — double-counting).
    ``committed`` is a ``committed_run_ids`` set the caller already
    read (neither reconcile writes the state table); else it is read,
    and only when one of the tables exists: with none there is nothing
    to roll back, so a fresh build's heals submit no job."""
    present = [t for t in output_tables if catalog.exists(t)]
    if present and committed is None:
        committed = committed_run_ids(catalog)
    return {t: catalog.rollback_orphan_versions(t, committed) for t in present}


def reconcile(
    catalog: Catalog, output_tables: list[str], committed: set[str] | None = None
) -> dict[str, int]:
    """Heal a crash between an output-table commit and its stage-state
    commit: drop orphaned manifest entries (runs that never reached
    mark_processed), so resume reprocesses their conv_ids exactly once
    instead of duplicating rows. O(manifests), zero data IO.
    ``committed`` as in ``reconcile_versions``."""
    present = [t for t in output_tables if catalog.exists(t)]
    if present and committed is None:
        committed = committed_run_ids(catalog)
    return {t: catalog.prune_orphan_runs(t, committed) for t in present}


def write_lineage(
    catalog: Catalog, stage: str, run_id: str, table: str, key: str = "conv_id"
) -> None:
    """Per-file lineage of the entries ``run_id`` committed to
    ``table``: row count and ``key`` (a string column) range of every
    non-empty data file, from the parquet footers — no Spark job and
    no recompute of the stage output."""
    rows = []
    for path in catalog.entry_files(table, run_id):
        meta = pq.read_metadata(path)
        if not meta.num_rows:
            continue
        col = meta.schema.names.index(key)
        stats = [meta.row_group(g).column(col).statistics
                 for g in range(meta.num_row_groups)]
        stats = [st for st in stats if st is not None and st.has_min_max]
        rows.append((
            stage, run_id, len(rows),
            min((st.min for st in stats), default=None),
            max((st.max for st in stats), default=None),
            meta.num_rows,
        ))
    catalog.append_rows(rows, CKPT_LINEAGE, LINEAGE)


def write_metrics(catalog: Catalog, stage: str, run_id: str, metrics: dict) -> None:
    """One ``_ckpt_metrics`` row per metric (plus ``wall_ts``), written
    on the driver."""
    rows = [(stage, run_id, k, str(v))
            for k, v in {**metrics, "wall_ts": time.time()}.items()]
    catalog.append_rows(rows, CKPT_METRICS, METRICS)
