"""S1 (raw-file half) — binary document directory source.

The reference's actual S1 input is a directory of opaque PDFs scanned
by filename stem, with already-processed stems skipped via a driver-
side set (reference extract.py:62-71: ``glob("*.pdf")`` +
``processed_papers`` set). Spark-first shape (SURVEY §2.1):

- ``spark.read.format("binaryFile")`` — a DataSourceV2 scan that
  parallelizes per file across executors, pushes ``pathGlobFilter``
  into file listing, supports ``recursiveFileLookup``, and prunes the
  ``content`` column when a query only needs metadata (listing stems
  never fetches bytes).
- the processed-set skip is a distributed anti-join against the
  checkpoint table (S2/F1), not a driver set — at 100 TB the
  processed set doesn't fit on the driver.

Columns out: ``doc_id`` (filename stem — C2, reference extract.py:79
``pdf_path.stem``), ``path``, ``n_bytes``, ``mod_time``, ``content``
(binary). ``content`` feeds PDF text and image extraction
(operators/pdf.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def file_stem(path: Column) -> Column:
    """C2 — filename stem id: basename minus the last extension
    (reference extract.py:79 ``pdf_path.stem``)."""
    base = F.element_at(F.split(path, "/"), -1)
    return F.regexp_replace(base, r"\.[^.]*$", "")


def read_raw_files(
    spark: SparkSession,
    path: str,
    glob: str = "*",
    recursive: bool = False,
    modified_after: str | None = None,
) -> DataFrame:
    """Scan a directory of opaque document files into
    (doc_id, path, n_bytes, mod_time, content).

    ``modified_after`` (``YYYY-MM-DDTHH:mm:ss``, local TZ) pushes a
    high-water-mark into the FILE LISTING itself — the source drops
    older files before any split is planned or byte read.  That is the
    resume lever that still works when the processed-id set outgrows a
    broadcast (billions of files): combine a coarse mtime watermark
    here with the exact stem anti-join downstream for the boundary
    window."""
    reader = spark.read.format("binaryFile").option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if modified_after:
        reader = reader.option("modifiedAfter", modified_after)
    df = reader.load(path)
    return df.select(
        file_stem(F.col("path")).alias("doc_id"),
        "path",
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("mod_time"),
        "content",
    )


def skip_processed(
    files: DataFrame, processed: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """F1 over raw files: drop documents whose stem is already in the
    processed set (the reference's ``processed_papers`` skip as a
    broadcastable anti-join — the processed side is ids only)."""
    return files.join(
        F.broadcast(processed.select(F.col(id_col).alias("doc_id")).distinct()),
        "doc_id",
        "left_anti",
    )


def decode_text(files: DataFrame, encoding: str = "UTF-8") -> DataFrame:
    """Plain-text documents: (doc_id, doc_text) from the bytes column —
    the bytes-in path into the extraction operators for corpora that
    are text files rather than transcripts."""
    return files.select(
        F.col("doc_id").alias("conv_id"),
        F.decode(F.col("content"), encoding).alias("doc_text"),
    )
