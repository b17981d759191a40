"""The benchmark's workloads: inputs from a seed, one timed call, an
output check, and the spans a traced run wraps around each layer.

A workload object lives for one run.  ``setup`` makes the inputs from
the seed and ``reference`` what the check compares against, both
without Spark, so the timed ``call`` is the first Spark work in a fresh
JVM — what a spark-submit job or a pipeline CLI invocation pays.
``reset`` undoes a call without being timed and ``check`` validates
its output.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# full_build corpus (datagen): conversations and the hot conversation's turns
FULL_BUILD_CONVS = 200
FULL_BUILD_HOT_TURNS = 1000
CORPUS_FILES = 8
# the engine's TRANSCRIPTS schema (schemas.py) as parquet types
TRANSCRIPTS_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
# doc_dedup corpus: base documents, each fanned out into near-duplicate copies
DEDUP_BASE_DOCS = 500
DEDUP_COPIES = 4
DEDUP_QUERIES = ("dedup_minhash_lsh", "dedup_simhash", "dedup_winnow")

# the vocabulary of the repo's synthetic `documents` test tables
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def release_cached(spark) -> int:
    """Unpersist every cached block; returns how many RDDs were still
    persisted after the engine's own release (0 when it cleans up)."""
    from aisafetyintervention_literatureextraction_spark.functions.caching import (
        release_caches,
    )

    release_caches()
    spark.catalog.clearCache()
    left = spark.sparkContext._jsc.getPersistentRDDs()
    n = left.size()
    for rdd in list(left.values()):
        rdd.unpersist(True)
    return n


def dir_files(root: Path) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            out[p] = os.path.getsize(p)
    return out


class FullBuild:
    """``run_pipeline(analytics=True)`` into an empty warehouse."""

    name = "full_build"

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.path = str(work / "transcripts.parquet")
        self.wh = str(work / "warehouse")
        self.merges: list[tuple[int, int]] = []   # (buckets rewritten, n_buckets)

    def input_size(self) -> str:
        return (f"{self.n_convs} conversations, {self.n_turns} turns "
                f"(1 hot conversation of {FULL_BUILD_HOT_TURNS} turns)")

    def setup(self) -> None:
        """Seeded datagen corpus written as parquet parts with pyarrow, so
        the first Spark work of the run is the timed build."""
        from aisafetyintervention_literatureextraction_spark.datagen import (
            generate_corpus,
        )

        rows, self.expected = generate_corpus(
            n_convs=FULL_BUILD_CONVS, seed=self.seed,
            hot_conv_turns=FULL_BUILD_HOT_TURNS,
        )
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        step = -(-len(rows) // CORPUS_FILES)
        for i in range(CORPUS_FILES):
            part = pa.Table.from_pylist(rows[i * step:(i + 1) * step],
                                        schema=TRANSCRIPTS_ARROW)
            pq.write_table(part, os.path.join(self.path, f"part-{i:05d}.parquet"))
        self.n_turns = len(rows)
        self.n_convs = len({r["conv_id"] for r in rows})

    def reference(self) -> None:
        """The check needs only ``self.expected`` from ``setup``."""

    def call(self):
        from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
            run_pipeline,
        )

        return run_pipeline(
            self.spark, self.spark.read.parquet(self.path), self.wh, analytics=True
        )

    def reset(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)

    def check(self, stats) -> bool:
        from aisafetyintervention_literatureextraction_spark.catalog import Catalog
        from aisafetyintervention_literatureextraction_spark.datagen import (
            GOLDEN_TRIPLES,
        )

        cat = Catalog(self.spark, self.wh)
        cols = ("conv_id", "subj", "pred", "obj", "edge_confidence")
        got = {tuple(r) for r in cat.read("triples_raw").select(*cols).collect()}
        exp = {tuple(t[c] for c in cols) for t in self.expected.triples}
        tp = len(got & exp)
        if tp < 0.95 * len(got) or tp < 0.95 * len(exp):
            return False
        name2id = {}
        for r in cat.read("kg_nodes").select(
                "node_id", "canonical_name", "aliases").collect():
            name2id[r["canonical_name"]] = r["node_id"]
            for a in r["aliases"] or ():
                name2id.setdefault(a, r["node_id"])
        kge = {tuple(r) for r in cat.read("kg_edges").select("src", "pred", "dst").collect()}
        golden = all(
            (name2id.get(s), p, name2id.get(o)) in kge for s, p, o, _ in GOLDEN_TRIPLES
        )
        return golden and stats["n_triples"] == len(got)

    # -- tracing ---------------------------------------------------------
    def install_spans(self, tracer) -> None:
        from aisafetyintervention_literatureextraction_spark import checkpoint
        from aisafetyintervention_literatureextraction_spark.catalog import Catalog
        from aisafetyintervention_literatureextraction_spark.operators import (
            graph_analytics,
        )
        from aisafetyintervention_literatureextraction_spark.plans import pipeline

        tracer.patch(pipeline, "run_pipeline", "pipeline")
        for fn, span in (
            ("stage_a_reassemble", "stage_a"), ("stage_b_extract", "stage_b"),
            ("stage_c_canonicalize", "stage_c"), ("stage_d_materialize", "stage_d"),
            ("stage_e_analytics", "stage_e"),
            ("connected_components", "components"),
            ("materialize_from_agg", "materialize"),
        ):
            tracer.patch(pipeline, fn, span)
        for fn in ("overwrite", "append", "merge_upsert", "compact", "vacuum"):
            tracer.patch(Catalog, fn, f"catalog.{fn}")
        tracer.patch(Catalog, "merge_combine", "catalog.merge_combine",
                     hook=self._merge_hook)
        for fn in ("pending", "done_ids", "mark_processed", "committed_run_ids",
                   "reconcile_versions", "reconcile", "write_lineage",
                   "write_metrics"):
            tracer.patch(checkpoint, fn, f"checkpoint.{fn}")
        for fn in ("pagerank_int", "triangle_counts", "label_propagation",
                   "modularity"):
            tracer.patch(graph_analytics, fn, f"graph_analytics.{fn}")

    def _merge_hook(self, span, args, kwargs):
        """Count the buckets a bucketed merge rewrites, from the table's
        manifest before and after the call."""
        cat, name = args[0], args[2] if len(args) > 2 else kwargs["name"]
        n_buckets = kwargs.get("n_buckets", args[5] if len(args) > 5 else 32)
        before = self._entry_paths(cat, name)

        def after():
            new = self._entry_paths(cat, name) - before
            self.merges.append((len(new), n_buckets))

        return after

    @staticmethod
    def _entry_paths(cat, name: str) -> set[str]:
        v = cat.current_version(name)
        if v is None:
            return set()
        with open(os.path.join(cat.warehouse, name, "manifests", f"v={v}.json")) as f:
            return {e["path"] for e in json.load(f)["entries"]}

    def pair_counts(self) -> dict:
        """Candidate and verified node pairs of stage C, by re-running the
        public candidate generator on the built ``candidate_nodes``."""
        from aisafetyintervention_literatureextraction_spark.catalog import Catalog
        from aisafetyintervention_literatureextraction_spark.operators.canonicalize import (
            bucket_join_pairs,
            node_bucket_rows,
            verify_pairs,
        )
        from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
            PipelineConfig,
        )

        cfg = PipelineConfig(warehouse=self.wh)
        nodes = Catalog(self.spark, self.wh).read("candidate_nodes").cache()
        buckets = node_bucket_rows(nodes).cache()
        cand = bucket_join_pairs(buckets, buckets).cache()
        n_cand = cand.count()
        n_ver = verify_pairs(
            cand, nodes, cfg.jaccard_threshold, cfg.cosine_threshold
        ).count()
        for df in (cand, buckets, nodes):
            df.unpersist()
        return {"candidate_pairs": n_cand, "verified_pairs": n_ver}


def dedup_documents(seed: int) -> list[dict]:
    """Base documents in the shape of the repo's synthetic ``documents``
    table, each fanned out into near-duplicate copies the way
    ``bench.py ensure_soak_dir`` does (id + copy * 10^7, text + " c<copy>")."""
    rng = random.Random(seed)
    langs = ("en", "de", "fr", "es", "zh")
    out = []
    for d in range(DEDUP_BASE_DOCS):
        text = " ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(30, 99)))
        lang, source = rng.choice(langs), f"src{d % 200}"
        for c in range(DEDUP_COPIES):
            t = f"{text} c{c}"
            out.append({"doc_id": d + c * 10_000_000, "text": t, "lang": lang,
                        "source": source, "n_chars": len(t)})
    return out


class DocDedup:
    """The three sketch-dedup contract queries, results collected."""

    name = "doc_dedup"

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf_dir = str(work / "docs")
        self.tracer = None

    def input_size(self) -> str:
        return (f"{len(self.docs)} documents ({DEDUP_BASE_DOCS} base x "
                f"{DEDUP_COPIES} near-duplicate copies)")

    def setup(self) -> None:
        self.docs = dedup_documents(self.seed)
        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(self.docs),
                       os.path.join(self.sf_dir, "documents.parquet"))

    def reference(self) -> None:
        from perfbench import oracle

        texts = {d["doc_id"]: d["text"] for d in self.docs}
        self.want = {
            "dedup_minhash_lsh": oracle.jaccard_pairs(texts, 5, 0.8),
            "dedup_simhash": oracle.jaccard_pairs(texts, 4, 0.9),
            "dedup_winnow": oracle.winnow_pairs(texts),
        }

    def call(self):
        import __spark_entry__ as em

        qs = em.queries()
        out = {}
        for q in DEDUP_QUERIES:
            name = f"dedup.{q[len('dedup_'):]}"
            with self.tracer.span(name) if self.tracer else contextlib.nullcontext():
                rows = qs[q](self.spark, self.sf_dir).collect()
            out[q] = {(r[0], r[1]): r[2] for r in rows}
        return out

    def reset(self) -> None:
        pass

    def check(self, got) -> bool:
        from perfbench.oracle import same_pairs

        return all(same_pairs(got[q], self.want[q]) for q in DEDUP_QUERIES)

    def install_spans(self, tracer) -> None:
        self.tracer = tracer


WORKLOADS = {w.name: w for w in (FullBuild, DocDedup)}
