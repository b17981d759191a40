"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point, testable on local[N]:

- AQE on (runtime coalescing + skew-join splitting — the north rule
  names "AQE shuffle tuning" explicitly).
- Arrow on (every Python crossing is a vectorized batch, never a row).
- UTC session timezone (parity with DuckDB oracle comparisons).
- shuffle partitions ~ cores locally; on a real cluster this is
  overridden by ``spark.sql.adaptive.coalescePartitions`` anyway.
- On ``local[N]``, one shuffle writer for every exchange
  (``spark.shuffle.sort.bypassMergeThreshold=0``).  Below the default
  threshold of 200 reducers Spark's bypass-merge writer opens one temp
  file per reducer in every map task, copies them into the map output
  and deletes them: M x R throw-away files per exchange.  The
  serialized sort writer writes one spill that is renamed into the
  data file, plus the index and checksum files, at any reducer count.
- On ``local[N]``, Tungsten pages below G1's humongous threshold
  (``spark.buffer.pageSize``, see ``page_size``).  Spark's own sizing,
  nextPow2(heap share / cores / 16), gives 64 MB pages at an 8 GB
  heap on 4 cores; G1 treats every allocation of half a region or more
  as a humongous object, so each sort-shuffle map task would allocate
  one.  The 8,192-entry page table still addresses 8 GB per task at
  1 MB pages.
- Under spark-submit Spark's own writer choice and page sizing apply:
  the two settings above were measured on ``local[N]`` only.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_MIB = 1024 * 1024
_UNIT_MIB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def page_size(driver_memory: str) -> int:
    """Tungsten page size in bytes for a driver heap of
    ``driver_memory`` (Spark's notation: ``8g``, ``4096m``; no unit
    means MiB): a quarter of the G1 region, so that a page plus its
    ``long[]`` header stays below half a region and is never a
    humongous object, capped at 1 MB.  G1 sizes regions as heap / 2048
    rounded down to a power of two, within 1 MB to 32 MB: 1 MB at
    2 GB (256 KB pages), 2 MB at 4 GB (512 KB), 4 MB from 8 GB on
    (1 MB)."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", driver_memory.lower())
    if m is None:
        raise ValueError(f"unparseable driver memory: {driver_memory!r}")
    heap = int(int(m.group(1)) * _UNIT_MIB[m.group(2) or "m"] * _MIB)
    region = 1 << (max(heap // 2048, 1).bit_length() - 1)
    region = min(max(region, _MIB), 32 * _MIB)
    return min(region // 4, _MIB)


def get_spark(
    app_name: str = "kg-construct",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` controls local parallelism (``local[cpus]``); the bench
    harness uses this to evidence N→4N scaling efficiency on the same
    input (BASELINE.json north_rule).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = SparkSession.builder.appName(app_name)
    # Respect an externally-provided master (spark-submit --master on a
    # real cluster); fall back to local[cpus] for direct python runs.
    # Probing SparkConf() pre-JVM is useless (it's an empty dict before
    # the gateway exists), so detect spark-submit by the env vars
    # PythonRunner sets when IT launches the driver python process.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ or "SPARK_CONNECT_MODE_ENABLED" in os.environ
    extra_conf = extra_conf or {}
    driver_memory = extra_conf.get(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g")
    )
    if not submitted:
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.shuffle.sort.bypassMergeThreshold", "0")
            .config("spark.buffer.pageSize", str(page_size(driver_memory)))
        )
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # managed tables (bucketed-corpus demo) land in /tmp, not cwd
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE_DIR", "/tmp/kg_spark_warehouse"))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
