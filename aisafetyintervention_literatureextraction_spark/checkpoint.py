"""Checkpoint + lineage + metrics (SURVEY.md §2.1 S2/K6, §2.2 F1, §4.1).

The reference's resumability is "skip PDFs whose stem already has an
output JSON" (reference extract.py:68-71) — a filesystem anti-join.
Ours is the same primitive, set-oriented and per-stage:

- ``_ckpt_stage_state``: one row per (stage, conv_id) processed.
  Resume = ``input.join(state, "conv_id", "left_anti")`` — Catalyst
  pushes the anti-join below the expensive stages, so a killed run
  recomputes nothing (north_star requirement).
- ``_ckpt_lineage``: per-partition rows (conv_id min/max, row count)
  written from the executors via ``mapInPandas`` observation — the
  "per-partition lineage (conv_id ranges, stage watermarks)" the
  north rule names.
- ``_ckpt_metrics``: one row per (stage, run_id, metric).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .schemas import CKPT_METRICS

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
    catalog: Catalog, stage: str, run_id: str, conv_ids: DataFrame, key: str = "conv_id"
) -> None:
    """The COMMIT POINT of a stage run: a run's output-table entries
    are considered committed iff its run_id appears in the state table
    (see ``reconcile``) — so this must be the LAST catalog write of
    the stage's exactly-once window."""
    catalog.append(state_rows(stage, run_id, conv_ids, key), STATE)


def committed_run_ids(catalog: Catalog) -> set[str]:
    """run_ids whose stage reached its mark_processed commit point."""
    if not catalog.exists(STATE):
        return set()
    return {r[0] for r in catalog.read(STATE).select("run_id").distinct().collect()}


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
    catalog: Catalog, stage: str, run_id: str, df: DataFrame, key: str = "conv_id"
) -> None:
    """Per-partition lineage: conv_id range + row count per shuffle
    partition of the stage output (computed distributed, not collected
    row-wise)."""
    lin = (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.min(F.col(key).cast("string")).alias("conv_id_min"),
            F.max(F.col(key).cast("string")).alias("conv_id_max"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.lit(run_id).alias("run_id"),
            F.col("partition_id").cast("int"),
            "conv_id_min", "conv_id_max", "n_rows",
        )
    )
    catalog.append(lin, LINEAGE)


def write_metrics(catalog: Catalog, stage: str, run_id: str, metrics: dict) -> None:
    spark = catalog.spark
    rows = [
        {"stage": stage, "run_id": run_id, "metric": k, "value": str(v)}
        for k, v in {**metrics, "wall_ts": time.time()}.items()
    ]
    df = spark.createDataFrame(rows, schema=CKPT_METRICS)
    catalog.append(df, METRICS)
