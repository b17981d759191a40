"""Warehouse table catalog — Iceberg-shaped delta commits on local parquet.

The production deployment target is an Iceberg catalog
(``df.writeTo("kg.nodes").append()`` / ``MERGE INTO``); this sandbox
has no Iceberg runtime jar, so the catalog reproduces Iceberg's
*commit model*, not just its isolation semantics:

    <warehouse>/<table>/data/c-<uuid>/...          immutable data dirs
    <warehouse>/<table>/manifests/v=<n>.json       manifest list per version
    <warehouse>/<table>/_latest                    live version pointer

A snapshot is a MANIFEST (a JSON list of data-dir entries), not a
copy of the data. Commits only ever (a) write new immutable data
files and (b) write a new manifest + flip the pointer — so:

- ``append`` is **O(delta)**: it writes only the new rows' files; the
  new manifest carries the previous entries forward by reference
  (Iceberg's "snapshot = pointer to prior manifest + new files").
- ``merge_upsert`` is **O(touched buckets)**: the table is hash-
  bucketed on its merge keys (the analog of Iceberg
  ``bucket(conv_id)`` partitioning); an upsert rewrites only buckets
  that contain updated keys and carries every other bucket's files
  forward untouched — the set-oriented twin of the reference's Cypher
  ``MERGE ... SET`` last-writer-wins upsert (reference db.py:41-53).
- readers of any previous version are never disturbed (snapshot
  isolation; ``read(name, version=v)`` is time travel).
- entries are tagged with the writing ``run_id`` so an interrupted
  multi-table pipeline commit can be healed at the *manifest* level:
  ``prune_orphan_runs`` drops entries from runs whose checkpoint-state
  commit never landed — O(manifest), never O(data).
- entries record their row count (``n_rows``, read from the written
  files' parquet footers), so ``count`` and the file-level
  ``entry_files`` answer from the manifest without a Spark job.

Maintenance (Iceberg leaves this to table services, so do we):
``compact`` rewrites the live snapshot into one data dir when the
entry list has grown long; ``vacuum`` deletes data dirs no manifest
references.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructType

_BUCKET_COL = "__bucket"
# Spark → parquet types of the driver-side row writes (``append_rows``)
_ARROW_TYPES = {StringType(): pa.string(), IntegerType(): pa.int32(),
                LongType(): pa.int64()}


def parquet_files(path: str) -> list[str]:
    """The data files of one entry dir, in name order."""
    if not os.path.isdir(path):
        return []
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def _n_rows(path: str) -> int:
    """Rows under an entry dir, summed from its files' parquet footers."""
    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def bucket_expr(keys: list[str], n_buckets: int) -> F.Column:
    """Deterministic key-hash bucket (the Iceberg ``bucket(N, key)``
    transform analog): same keys → same bucket, every run, every
    executor."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def lww_combiner(keys: list[str], cols: list[str], order_col: str | None):
    """The last-writer-wins merge fold of ``merge_upsert``: reduce
    rows sharing ``keys`` to the single row with max
    ``(__gen, order_col)`` — update rows carry ``__gen=1`` so they
    beat base rows even on order ties, base rows
    coalesce to ``__gen=0`` via the allowMissingColumns union. A
    semigroup fold (idempotent on already-combined rows), as
    ``merge_combine`` requires. ``cols`` is the update frame's column
    list WITHOUT ``__gen``; the fold's output drops ``__gen``."""

    def lww(df: DataFrame) -> DataFrame:
        order_expr = (
            F.struct(F.coalesce(F.col("__gen"), F.lit(0)).alias("g"), F.col(order_col))
            if order_col
            else F.struct(F.coalesce(F.col("__gen"), F.lit(0)).alias("g"))
        )
        return (
            df.groupBy(*keys)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in cols if c not in keys]),
                    order_expr,
                ).alias("__row")
            )
            .select(*keys, "__row.*")
        )

    return lww


@dataclass
class Catalog:
    spark: SparkSession
    warehouse: str

    # -- paths ---------------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _latest_file(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_latest")

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), "manifests", f"v={version}.json")

    def current_version(self, name: str) -> int | None:
        p = self._latest_file(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def tables(self) -> list[str]:
        """Names of every live table in the warehouse (sorted)."""
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(
            n for n in os.listdir(self.warehouse) if self.exists(n)
        )

    def register_views(self, prefix: str = "", include_internal: bool = False,
                       tables: list[str] | None = None) -> list[str]:
        """SQL surface: expose warehouse tables as session temp views so
        ``spark.sql("SELECT ... FROM kg_edges ...")`` works against the
        catalog (reads go through :meth:`read`, so views always see the
        CURRENT committed version as of registration — re-register after
        new commits for a fresh snapshot). Internal bookkeeping tables
        (``_ckpt_*``) are skipped unless ``include_internal``; their
        leading underscore is not a legal SQL identifier start, so they
        register under ``<prefix>internal_<name>``. Returns the view
        names registered."""
        out = []
        for name in (tables if tables is not None else self.tables()):
            if name.startswith("_") and not include_internal:
                continue
            view = prefix + (
                f"internal{name}" if name.startswith("_") else name
            )
            self.read(name).createOrReplaceTempView(view)
            out.append(view)
        return out

    # -- manifests -----------------------------------------------------------
    def _manifest(self, name: str, version: int | None = None) -> dict:
        v = self.current_version(name) if version is None else version
        if v is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.warehouse}")
        with open(self._manifest_path(name, v)) as f:
            return json.load(f)

    def _commit_manifest(
        self,
        name: str,
        entries: list[dict],
        schema: StructType,
        bucketing: dict | None,
        run_id: str | None = None,
    ) -> int:
        """Write manifest v=n+1 and flip the pointer atomically. The
        only mutation a commit ever makes — data dirs are immutable.
        ``run_id`` tags the VERSION (vs per-entry tags used by append):
        rollback_orphan_versions undoes whole overwrite/merge commits
        whose pipeline run never reached its checkpoint commit point."""
        os.makedirs(os.path.join(self._table_dir(name), "manifests"), exist_ok=True)
        prev = self.current_version(name)
        new_v = 0 if prev is None else prev + 1
        manifest = {
            "table": name,
            "version": new_v,
            "committed_at": time.time(),
            "run_id": run_id,
            "schema": json.loads(schema.json()),
            "bucketing": bucketing,
            "entries": entries,
        }
        with open(self._manifest_path(name, new_v), "w") as f:
            json.dump(manifest, f)
        tmp = self._latest_file(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(new_v))
        os.replace(tmp, self._latest_file(name))  # atomic pointer flip
        return new_v

    # -- data-dir writes (immutable) ------------------------------------------
    def _write_data(
        self,
        df: DataFrame,
        name: str,
        run_id: str | None,
        bucketing: dict | None,
    ) -> list[dict]:
        """Write df into a fresh immutable data dir; return its manifest
        entries (one per bucket subdir when bucketed)."""
        rel = os.path.join("data", f"c-{uuid.uuid4().hex[:12]}")
        path = os.path.join(self._table_dir(name), rel)
        if bucketing:
            keys, n = bucketing["keys"], bucketing["n_buckets"]
            out = df.withColumn(_BUCKET_COL, bucket_expr(keys, n))
            # one shuffle task per bucket → one file per bucket dir
            out.repartition(n, _BUCKET_COL).write.partitionBy(_BUCKET_COL).mode(
                "overwrite"
            ).parquet(path)
            entries = []
            if os.path.isdir(path):
                for d in sorted(os.listdir(path)):
                    if d.startswith(f"{_BUCKET_COL}="):
                        entries.append({
                            "path": os.path.join(rel, d),
                            "bucket": int(d.split("=", 1)[1]),
                            "run_id": run_id,
                            "n_rows": _n_rows(os.path.join(path, d)),
                        })
            return entries
        df.write.mode("overwrite").parquet(path)
        return [{"path": rel, "bucket": None, "run_id": run_id,
                 "n_rows": _n_rows(path)}]

    @staticmethod
    def _permissive(dt):
        """Type with every nullable/containsNull flag set — collect_set
        vs flatten etc. flip these flags without changing the data."""
        from pyspark.sql.types import ArrayType, MapType, StructField

        if isinstance(dt, ArrayType):
            return ArrayType(Catalog._permissive(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(
                Catalog._permissive(dt.keyType), Catalog._permissive(dt.valueType), True
            )
        if isinstance(dt, StructType):
            return StructType([
                StructField(f.name, Catalog._permissive(f.dataType), True)
                for f in dt.fields
            ])
        return dt

    def _merge_schema(self, prev: StructType, new: StructType) -> StructType:
        """Union of columns (append-with-missing-columns support),
        nullability-insensitive; real type conflicts fail loudly rather
        than corrupt the table."""
        from pyspark.sql.types import StructField

        fields = {f.name: self._permissive(f.dataType) for f in prev.fields}
        out = [StructField(f.name, fields[f.name], True) for f in prev.fields]
        for f in new.fields:
            norm = self._permissive(f.dataType)
            if f.name not in fields:
                out.append(StructField(f.name, norm, True))
            elif fields[f.name] != norm:
                raise ValueError(
                    f"schema conflict on {f.name}: {fields[f.name]} vs {norm}"
                )
        return StructType(out)

    # -- reads -----------------------------------------------------------------
    def read(self, name: str, version: int | None = None) -> DataFrame:
        """One multi-root FileScan over every live data dir — never a
        union of N plans, so read cost doesn't grow with commit count.
        Older files missing later-added columns surface them as null
        (the manifest carries the authoritative merged schema).

        A LIVE manifest entry whose data dir is missing on disk is an
        error (vacuum bug / partial delete) — raising beats silently
        serving an incomplete table. Only explicitly time-travelled
        historical versions may have vacuumed (missing) dirs skipped.
        """
        m = self._manifest(name, version)
        schema = StructType.fromJson(m["schema"])
        paths = [os.path.join(self._table_dir(name), e["path"]) for e in m["entries"]]
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing and (version is None or version == self.current_version(name)):
            raise FileNotFoundError(
                f"table {name} v={m['version']}: {len(missing)} live manifest "
                f"entries have no data dir on disk (first: {missing[0]}); "
                "refusing to serve an incomplete table"
            )
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def count(self, name: str) -> int:
        """``read(name).count()`` from the manifest's per-entry row
        counts: no Spark job (a job only for entries written before the
        manifest kept them)."""
        entries = self._manifest(name)["entries"]
        if all("n_rows" in e for e in entries):
            return sum(e["n_rows"] for e in entries)
        return self.read(name).count()

    def run_ids(self, name: str) -> set[str] | None:
        """The run_ids whose rows the live table holds: its entries'
        ``run_id`` tags, plus the ``runs`` a ``compact`` folded into its
        rewritten entries. None when an entry holds rows of unknown
        runs (written without a run_id, or compacted from such)."""
        runs: set[str] = set()
        for e in self._manifest(name)["entries"]:
            if e.get("run_id") is None and "runs" not in e:
                return None
            runs.update(e.get("runs", ()))
            if e.get("run_id") is not None:
                runs.add(e["run_id"])
        return runs

    def entry_files(self, name: str, run_id: str) -> list[str]:
        """The data files the live entries tagged ``run_id`` hold, in
        entry then name order."""
        return [f for e in self._manifest(name)["entries"]
                if e.get("run_id") == run_id
                for f in parquet_files(os.path.join(self._table_dir(name), e["path"]))]

    def read_or_empty(self, name: str, schema) -> DataFrame:
        if self.exists(name):
            return self.read(name)
        return self.spark.createDataFrame([], schema)

    # -- writes ------------------------------------------------------------
    def overwrite(self, df: DataFrame, name: str, run_id: str | None = None) -> int:
        entries = self._write_data(df, name, run_id, bucketing=None)
        return self._commit_manifest(
            name, entries, df.schema, bucketing=None, run_id=run_id
        )

    def append(self, df: DataFrame, name: str, run_id: str | None = None) -> int:
        """O(delta): writes only df's rows; prior entries carried
        forward by reference. A bucketed table keeps its bucketing
        (appended rows are bucketed the same way, so merge_upsert
        stays partition-prunable)."""
        if not self.exists(name):
            return self.overwrite(df, name, run_id=run_id)
        m = self._manifest(name)
        bucketing = m.get("bucketing")
        new_entries = self._write_data(df, name, run_id, bucketing)
        return self._commit_append(name, m, df.schema, new_entries)

    def append_rows(self, rows: list[tuple], schema: StructType, name: str,
                    run_id: str | None = None) -> int:
        """``append`` of a few rows held on the driver (run records,
        metrics): one parquet file written with pyarrow, so the commit
        runs no Spark job. Unbucketed tables only."""
        m = self._manifest(name) if self.exists(name) else None
        if m is not None and m.get("bucketing"):
            raise ValueError(f"append_rows: {name} is bucketed")
        rel = os.path.join("data", f"c-{uuid.uuid4().hex[:12]}")
        path = os.path.join(self._table_dir(name), rel)
        os.makedirs(path)
        arrow = pa.schema([(f.name, _ARROW_TYPES[f.dataType]) for f in schema.fields])
        pq.write_table(
            pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=arrow),
            os.path.join(path, "part-00000.parquet"))
        entries = [{"path": rel, "bucket": None, "run_id": run_id, "n_rows": len(rows)}]
        if m is None:
            return self._commit_manifest(name, entries, schema, None, run_id=run_id)
        return self._commit_append(name, m, schema, entries)

    def _commit_append(self, name: str, m: dict, schema: StructType,
                       new_entries: list[dict]) -> int:
        bucketing = m.get("bucketing")
        schema = self._merge_schema(StructType.fromJson(m["schema"]), schema)
        if bucketing:
            # rows appended to a merge-keyed table are an UNCOMBINED raw
            # log: they may duplicate existing keys, and the next
            # merge_combine must fold their buckets even if its own
            # updates don't touch them (round-2 model-based bug:
            # merge[(0,0)]; append[(0,0)]; merge[(1,0)] left a dup key).
            for e in new_entries:
                e["combined"] = False
        return self._commit_manifest(
            name, m["entries"] + new_entries, schema, bucketing
        )

    def merge_upsert(
        self,
        updates: DataFrame,
        name: str,
        keys: list[str],
        order_col: str | None = None,
        n_buckets: int = 32,
        run_id: str | None = None,
    ) -> int:
        """``MERGE INTO <name> USING updates ON keys WHEN MATCHED THEN
        UPDATE WHEN NOT MATCHED THEN INSERT`` — last-writer-wins per key
        (reference db.py:41-53 MERGE+SET semantics).

        O(touched buckets): the base is hash-bucketed on ``keys``;
        only buckets containing an updated key are read, merged, and
        rewritten — every other bucket's files move to the new
        manifest by reference. ``order_col`` ranks writer recency;
        updates beat existing rows, and among duplicate update rows
        the max ``order_col`` wins deterministically.
        """

        # tag updates so they beat base rows even on order ties (base
        # rows get null __gen via the allowMissingColumns union)
        ups = updates.withColumn("__gen", F.lit(1))
        return self.merge_combine(
            ups,
            name,
            keys,
            lww_combiner(keys, updates.columns, order_col),
            n_buckets=n_buckets,
            run_id=run_id,
        )

    def merge_combine(
        self,
        updates: DataFrame,
        name: str,
        keys: list[str],
        combiner,
        n_buckets: int = 32,
        run_id: str | None = None,
    ) -> int:
        """Generic bucketed merge: ``combiner(df)`` must reduce rows
        sharing ``keys`` to one row, and must be a SEMIGROUP fold —
        idempotent on already-combined rows (sums, set unions, max_by)
        — because it runs over base ∪ updates of the touched buckets
        only. This is what makes additive aggregate tables (e.g. the
        raw-edge evidence table) O(delta) per run instead of a full
        re-aggregation of history."""
        bucketing = {"keys": keys, "n_buckets": n_buckets}
        if not self.exists(name):
            merged = combiner(updates)
            entries = self._write_data(merged, name, run_id, bucketing)
            return self._commit_manifest(
                name, entries, merged.schema, bucketing, run_id=run_id
            )

        m = self._manifest(name)
        if m.get("bucketing") != bucketing:
            # one-time migration: legacy/unbucketed (or re-keyed) table
            # → full rewrite into bucketed form; O(table), documented.
            merged = combiner(
                self.read(name).unionByName(updates, allowMissingColumns=True)
            )
            entries = self._write_data(merged, name, run_id, bucketing)
            return self._commit_manifest(
                name, entries, merged.schema, bucketing, run_id=run_id
            )

        ups = updates.withColumn(_BUCKET_COL, bucket_expr(keys, n_buckets))
        touched = sorted(
            r[0] for r in ups.select(_BUCKET_COL).distinct().collect()
        )  # ≤ n_buckets small ints — not a data collect
        touched_set = set(touched)
        # every bucket holding an UNCOMBINED entry (plain append on a
        # merge-keyed table) must also fold, or its duplicate keys
        # survive the merge (missing-flag default True: merge-written)
        touched_set |= {
            e["bucket"] for e in m["entries"] if not e.get("combined", True)
        }
        carried = [e for e in m["entries"] if e["bucket"] not in touched_set]
        base_paths = [
            os.path.join(self._table_dir(name), e["path"])
            for e in m["entries"]
            if e["bucket"] in touched_set
        ]
        base_paths = [p for p in base_paths if os.path.isdir(p)]
        base_schema = StructType.fromJson(m["schema"])
        if base_paths:
            base = self.spark.read.schema(base_schema).parquet(*base_paths)
        else:
            base = self.spark.createDataFrame([], base_schema)
        merged = combiner(base.unionByName(updates, allowMissingColumns=True))
        schema = self._merge_schema(StructType.fromJson(m["schema"]), merged.schema)
        new_entries = self._write_data(merged, name, run_id, bucketing)
        return self._commit_manifest(
            name, carried + new_entries, schema, bucketing, run_id=run_id
        )

    # -- recovery / maintenance ------------------------------------------------
    def prune_orphan_runs(self, name: str, committed_run_ids: set[str]) -> int:
        """Heal a crash between a table commit and its checkpoint-state
        commit: drop entries whose run_id never reached the state table
        (their conv_ids are still pending, so resume reprocesses them
        exactly once). Manifest-only — O(entries), zero data IO.
        Returns the number of entries dropped."""
        if not self.exists(name):
            return 0
        m = self._manifest(name)
        keep = [
            e for e in m["entries"]
            if e.get("run_id") is None or e["run_id"] in committed_run_ids
        ]
        dropped = len(m["entries"]) - len(keep)
        if dropped:
            self._commit_manifest(
                name, keep, StructType.fromJson(m["schema"]), m.get("bucketing")
            )
        return dropped

    def rollback_orphan_versions(self, name: str, committed_run_ids: set[str]) -> int:
        """Undo whole overwrite/merge commits from runs that never
        reached their checkpoint commit point: walk _latest back past
        versions whose manifest run_id is uncommitted. Pointer-only —
        the orphan versions' data dirs stay on disk for vacuum.
        Returns the number of versions rolled back; if the table's very
        first version is orphaned the table reverts to nonexistent.

        Versions with NO run_id between (or above) orphan versions
        belong to the same torn run — a mixed append+merge run tags its
        merge versions but commits plain-append manifests without a
        run_id — so they roll back WITH the orphans rather than
        stopping the walk; a run_id-less suffix with no orphan beneath
        it is kept (appends heal at entry level via
        ``prune_orphan_runs``)."""
        top = self.current_version(name)
        if top is None:
            return 0
        keep = top
        v = top
        while v >= 0:
            rid = self._manifest(name, v).get("run_id")
            if rid is None:
                v -= 1  # tentative: orphan only if an orphan lies below
            elif rid not in committed_run_ids:
                v -= 1
                keep = v  # this version and every no-run_id one above go
            else:
                break
        rolled = top - keep
        if rolled == 0:
            return 0
        v = keep
        if v < 0:
            os.remove(self._latest_file(name))
        else:
            tmp = self._latest_file(name) + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(v))
            os.replace(tmp, self._latest_file(name))
        return rolled

    def n_entries(self, name: str) -> int:
        return len(self._manifest(name)["entries"])

    def compact(self, name: str, run_id: str | None = None) -> int:
        """Rewrite the live snapshot into one data dir (amortized table
        maintenance — the LSM/Iceberg rewrite_data_files analog). Old
        versions stay readable until vacuum."""
        runs = self.run_ids(name)
        m = self._manifest(name)
        df = self.read(name)
        bucketing = m.get("bucketing")
        entries = self._write_data(df, name, run_id, bucketing)
        if runs is not None:
            # the rewritten entries keep the record of whose rows they hold
            for e in entries:
                e["runs"] = sorted(runs)
        if bucketing and not all(e.get("combined", True) for e in m["entries"]):
            # a file-level rewrite must not forget that appended rows
            # still await key-collapse by the next merge; per-bucket
            # granularity is lost here, so mark everything uncombined
            for e in entries:
                e["combined"] = False
        return self._commit_manifest(
            name, entries, StructType.fromJson(m["schema"]), bucketing
        )

    def maybe_compact(self, name: str, max_entries: int = 64) -> bool:
        if self.exists(name) and self.n_entries(name) > max_entries:
            self.compact(name)
            return True
        return False

    def vacuum(self, name: str, keep_versions: int = 1) -> int:
        """Delete data dirs referenced by no retained manifest. Returns
        the number of dirs removed. Keeps the last ``keep_versions``
        manifests' data (time travel horizon)."""
        v = self.current_version(name)
        if v is None:
            return 0
        live: set[str] = set()
        retained = range(max(0, v - keep_versions + 1), v + 1)
        for rv in retained:
            if os.path.exists(self._manifest_path(name, rv)):
                for e in self._manifest(name, rv)["entries"]:
                    # a bucketed entry's dir lives under its commit dir
                    top = e["path"].split(os.sep)
                    live.add(os.path.join(top[0], top[1]))
        data_dir = os.path.join(self._table_dir(name), "data")
        removed = 0
        if os.path.isdir(data_dir):
            for d in os.listdir(data_dir):
                if os.path.join("data", d) not in live:
                    shutil.rmtree(os.path.join(data_dir, d))
                    removed += 1
        return removed

    def drop(self, name: str) -> None:
        d = self._table_dir(name)
        if os.path.exists(d):
            shutil.rmtree(d)
