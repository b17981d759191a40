"""Source + streaming tests: ARD JSONL (S6), transcripts reader (S1),
catalog merge_upsert (K5), the exactly-once A+B stream."""

import json
import os

import pyspark.sql.functions as F
from digest import exact_rows

from aisafetyintervention_literatureextraction_spark.sources.ard import (
    ard_as_documents,
    read_ard,
)
from aisafetyintervention_literatureextraction_spark.sources.transcripts import (
    read_transcripts,
)


def test_ard_source(spark, warehouse):
    path = os.path.join(warehouse, "ard.jsonl")
    rows = [
        {"title": "Paper A", "authors": ["X", "Y"],
         "date_published": "2024-03-01T00:00:00Z",
         "text": "body text a", "abstract": "abs a", "url": "http://a"},
        {"title": "Paper B", "authors": [],
         "date_published": "2024-04-02T12:30:00Z",
         "text": "body text b", "abstract": None, "url": "http://b"},
    ]
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write("\n")  # F4: blank line ignored by reader

    ard = read_ard(spark, path)
    got = {r["title"]: r for r in ard.collect()}
    assert set(got) == {"Paper A", "Paper B"}
    assert got["Paper A"]["authors"] == ["X", "Y"]
    assert got["Paper A"]["date_published"] is not None

    docs = ard_as_documents(ard)
    d = {r["conv_id"]: r for r in docs.collect()}
    assert d["http://a"]["doc_text"] == "Paper A\nabs a\nbody text a"
    # null abstract → empty segment, not a null doc
    assert d["http://b"]["doc_text"] == "Paper B\n\nbody text b"
    # r5: article provenance flows into the document columns the
    # pipeline threads through to kg_nodes source_titles/authors
    assert d["http://a"]["title"] == "Paper A"
    assert d["http://a"]["author"] == "X, Y"
    assert d["http://b"]["author"] is None  # no authors → null, not ""


def test_transcripts_reader_validates(spark, warehouse):
    import pytest

    good = os.path.join(warehouse, "good.parquet")
    spark.createDataFrame(
        [("c", 0, "user", "t", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.parquet(good)
    assert read_transcripts(spark, good).count() == 1

    bad = os.path.join(warehouse, "bad.parquet")
    spark.createDataFrame([("c",)], "conv_id string").write.parquet(bad)
    with pytest.raises(ValueError, match="missing columns"):
        read_transcripts(spark, bad)


def test_catalog_merge_upsert(spark, catalog):
    base = spark.createDataFrame(
        [("a", 1, "old"), ("b", 2, "keep")], "k string, v int, note string"
    )
    catalog.overwrite(base, "t")
    updates = spark.createDataFrame(
        [("a", 10, "new"), ("c", 3, "insert")], "k string, v int, note string"
    )
    catalog.merge_upsert(updates, "t", keys=["k"], order_col="v")
    got = {r["k"]: (r["v"], r["note"]) for r in catalog.read("t").collect()}
    assert got == {"a": (10, "new"), "b": (2, "keep"), "c": (3, "insert")}
    # snapshot isolation: previous version still readable
    prev = catalog.read("t", version=0)
    assert {r["k"] for r in prev.collect()} == {"a", "b"}


def test_stream_micro_batch_exactly_once(spark, corpus, tmp_path,
                                         monkeypatch):
    """§2.11 exactly-once through the stream's micro-batch body: a
    straight replay of a committed batch (same batch_id) is skipped and
    adds no rows; a TORN batch (its data landed under the next batch's
    run_id, its commit point lost) is pruned on retry, leaving no
    duplicate rows.  The per-format run_id prefixes are fixed: a replay
    against an existing warehouse finds its committed batches by them."""
    import pytest

    from aisafetyintervention_literatureextraction_spark import checkpoint as ckpt
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig,
        stage_a_reassemble,
        stage_b_extract,
    )
    from aisafetyintervention_literatureextraction_spark.streaming.catalog_sink import (
        STREAM_IDS,
        process_micro_batch,
    )

    assert STREAM_IDS == {"transcripts": "ab", "pdf": "pdf", "ard": "ard"}
    df, _ = corpus
    convs = sorted(r["conv_id"] for r in df.select("conv_id").distinct().collect())
    first = F.col("conv_id").isin(convs[: len(convs) // 2])
    b0, b1 = df.filter(first), df.filter(~first)
    tables = ["documents", "quarantine", "triples_raw", "nodes_raw", "edges_agg"]

    wh = str(tmp_path / "wh_s")
    cat, cfg = Catalog(spark, wh), PipelineConfig(warehouse=wh)
    assert process_micro_batch(cat, cfg, "transcripts", b0, 0) == "appended"
    landed = {t: exact_rows(cat, t) for t in tables}
    assert landed["triples_raw"]
    # straight replay of the same batch: skipped, no rows added
    assert process_micro_batch(cat, cfg, "transcripts", b0, 0) == "skipped"
    assert {t: exact_rows(cat, t) for t in tables} == landed

    # torn batch 1: every data write lands under ab-b1, then the run
    # dies before its commit point
    append = Catalog.append

    def crash_at_commit(self, df, name, run_id=None):
        if name == ckpt.STATE:
            raise RuntimeError("crash before the commit point")
        return append(self, df, name, run_id=run_id)

    monkeypatch.setattr(Catalog, "append", crash_at_commit)
    with pytest.raises(RuntimeError, match="commit point"):
        process_micro_batch(cat, cfg, "transcripts", b1, 1)
    monkeypatch.undo()
    assert ckpt.committed_run_ids(cat) == {"ab-b0"}
    assert len(exact_rows(cat, "triples_raw")) > len(landed["triples_raw"])

    # the retry prunes the orphans and lands batch 1 exactly once
    assert process_micro_batch(cat, cfg, "transcripts", b1, 1) == "appended"
    assert ckpt.committed_run_ids(cat) == {"ab-b0", "ab-b1"}
    wh_b = str(tmp_path / "wh_b")
    cat_b, cfg_b = Catalog(spark, wh_b), PipelineConfig(warehouse=wh_b)
    stage_a_reassemble(cat_b, df, cfg_b)
    stage_b_extract(cat_b, cfg_b)
    for t in tables:
        assert exact_rows(cat, t) == exact_rows(cat_b, t), t


def test_stream_pipeline_ab_exactly_once(spark, corpus, tmp_path):
    """Streaming stages A+B (reassembly → extraction → validation →
    edges_agg merge) produce byte-identical warehouse tables to the
    batch pipeline, a full offset replay changes nothing, and the
    BATCH pipeline can take over the stream's warehouse: its resume
    anti-joins see the streamed conversations as processed and heal
    any torn stream batch (orphan appends pruned, orphan edges_agg
    version rolled back)."""
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig,
        stage_a_reassemble,
        stage_b_extract,
    )
    from aisafetyintervention_literatureextraction_spark.streaming.catalog_sink import (
        stream_pipeline_to_catalog,
    )

    df, _ = corpus
    src = str(tmp_path / "src")
    df.write.parquet(src)

    cat_s = Catalog(spark, str(tmp_path / "wh_stream"))
    cat_b = Catalog(spark, str(tmp_path / "wh_batch"))
    cfg_s = PipelineConfig(warehouse=str(tmp_path / "wh_stream"))

    stream_pipeline_to_catalog(
        spark, src, cfg_s, checkpoint_path=str(tmp_path / "ck1")
    )

    cfg_b = PipelineConfig(warehouse=str(tmp_path / "wh_batch"))
    stage_a_reassemble(cat_b, spark.read.parquet(src), cfg_b)
    stage_b_extract(cat_b, cfg_b)

    for t in ["documents", "triples_raw", "nodes_raw", "edges_agg"]:
        assert exact_rows(cat_s, t) == exact_rows(cat_b, t), t
    n_docs = cat_s.read("documents").count()
    n_triples = cat_s.read("triples_raw").count()
    assert n_triples > 0

    # full replay (fresh streaming checkpoint → ALL offsets re-fire):
    # every batch's run_id is committed, so everything is skipped
    stream_pipeline_to_catalog(
        spark, src, cfg_s, checkpoint_path=str(tmp_path / "ck2")
    )
    assert cat_s.read("documents").count() == n_docs
    assert cat_s.read("triples_raw").count() == n_triples
    assert exact_rows(cat_s, "edges_agg") == exact_rows(cat_b, "edges_agg")

    # torn stream batch: orphan triples append + orphan edges_agg merge
    # version whose run_id never reached the state table
    from aisafetyintervention_literatureextraction_spark.operators.materialize import (
        aggregate_raw_edges,
        edge_agg_combiner,
    )

    orphan = cat_s.read("triples_raw").limit(3)
    cat_s.append(orphan, "triples_raw", run_id="ab-b999")
    cat_s.merge_combine(
        aggregate_raw_edges(orphan), "edges_agg",
        keys=["subj", "pred", "obj"], combiner=edge_agg_combiner,
        run_id="ab-b999",
    )
    assert cat_s.read("triples_raw").count() == n_triples + 3

    # batch takeover on the stream's warehouse: resume reconcile prunes
    # the orphans, pending sets are empty (stream marked A/B processed)
    stage_a_reassemble(cat_s, spark.read.parquet(src), cfg_s)
    stage_b_extract(cat_s, cfg_s)
    assert cat_s.read("documents").count() == n_docs
    assert cat_s.read("triples_raw").count() == n_triples
    assert exact_rows(cat_s, "edges_agg") == exact_rows(cat_b, "edges_agg")


def test_stream_pipeline_ab_multibatch(spark, corpus, tmp_path):
    """Multi-batch exactly-once: with maxFilesPerTrigger=1 each file is
    its own micro-batch (own run_id, own atomic commit). The final
    warehouse equals the batch pipeline's regardless of batch count,
    and a full offset replay of EVERY batch changes nothing."""
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark import checkpoint as ckpt
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig,
        stage_a_reassemble,
        stage_b_extract,
    )
    from aisafetyintervention_literatureextraction_spark.streaming.catalog_sink import (
        stream_pipeline_to_catalog,
    )

    df, _ = corpus
    src = str(tmp_path / "src")
    # hash-partition by conv_id: every conversation lands whole in ONE
    # file, so file-grained micro-batches respect the reassembly contract
    df.repartition(4, "conv_id").write.parquet(src)

    cat_s = Catalog(spark, str(tmp_path / "wh_s"))
    cfg_s = PipelineConfig(warehouse=str(tmp_path / "wh_s"))

    def run(ck):
        return stream_pipeline_to_catalog(
            spark, src, cfg_s, checkpoint_path=ck, max_files_per_trigger=1,
        )["n_batches"]

    n_batches = run(str(tmp_path / "ck1"))
    assert n_batches >= 3  # genuinely multi-batch
    run_ids = {r for r in ckpt.committed_run_ids(cat_s) if r.startswith("ab-")}
    assert len(run_ids) == n_batches  # one atomic commit per batch

    cat_b = Catalog(spark, str(tmp_path / "wh_b"))
    cfg_b = PipelineConfig(warehouse=str(tmp_path / "wh_b"))
    stage_a_reassemble(cat_b, spark.read.parquet(src), cfg_b)
    stage_b_extract(cat_b, cfg_b)

    for t in ["documents", "triples_raw", "nodes_raw", "edges_agg"]:
        assert exact_rows(cat_s, t) == exact_rows(cat_b, t), t

    # replay every batch (fresh checkpoint): all skipped, nothing changes
    n_docs = cat_s.read("documents").count()
    run(str(tmp_path / "ck2"))
    assert cat_s.read("documents").count() == n_docs
    assert exact_rows(cat_s, "edges_agg") == exact_rows(cat_b, "edges_agg")


def test_run_pipeline_streaming_equals_batch(spark, corpus, tmp_path,
                                             monkeypatch):
    """The --stream CLI path (streaming A+B ingest → batch C/D
    catch-up) lands the same final KG as the all-batch pipeline, and
    offers the bookkeeping tables for compaction like a batch run (a
    stream appends a state entry per micro-batch)."""
    from aisafetyintervention_literatureextraction_spark import checkpoint as ckpt
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        run_pipeline,
    )

    df, _ = corpus
    src = str(tmp_path / "src")
    df.write.parquet(src)

    offered = []
    maybe_compact = Catalog.maybe_compact

    def spy(self, name, *args, **kwargs):
        offered.append(name)
        return maybe_compact(self, name, *args, **kwargs)

    monkeypatch.setattr(Catalog, "maybe_compact", spy)
    s_stats = run_pipeline(spark, src, str(tmp_path / "wh_s"), stream=True)
    assert {ckpt.STATE, ckpt.LINEAGE, ckpt.METRICS} <= set(offered)
    b_stats = run_pipeline(spark, df, str(tmp_path / "wh_b"))
    assert s_stats["n_triples"] == b_stats["n_triples"] > 0
    assert s_stats["n_kg_nodes"] == b_stats["n_kg_nodes"]
    assert s_stats["n_kg_edges"] == b_stats["n_kg_edges"]

    cat_s, cat_b = Catalog(spark, str(tmp_path / "wh_s")), Catalog(spark, str(tmp_path / "wh_b"))
    for t in ["kg_nodes", "kg_edges"]:
        assert exact_rows(cat_s, t) == exact_rows(cat_b, t), t


def test_stream_pipeline_cd_in_stream(spark, corpus, tmp_path):
    """Streaming stages C+D (r3 VERDICT next-step #3): with
    ``cd_every``, the delta-aware canonicalize + materialize trigger
    runs INSIDE the stream loop, so a pure streaming run produces
    kg_nodes/kg_edges byte-equal to the batch pipeline with no
    ``run_pipeline`` call — and a full offset replay changes nothing."""
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from aisafetyintervention_literatureextraction_spark.streaming.catalog_sink import (
        stream_pipeline_to_catalog,
    )

    df, _ = corpus
    src = str(tmp_path / "src")
    # one conversation per file-partition: micro-batches respect the
    # whole-conversation contract
    df.repartition(4, "conv_id").write.parquet(src)

    wh_s = str(tmp_path / "wh_s")
    cat_s = Catalog(spark, wh_s)
    cfg_s = PipelineConfig(warehouse=wh_s)
    state = stream_pipeline_to_catalog(
        spark, src, cfg_s, checkpoint_path=str(tmp_path / "ck1"),
        cd_every=2, max_files_per_trigger=1,
    )
    assert state["n_batches"] >= 3          # genuinely multi-batch
    assert state["cd_on_last"]              # kg tables are stream-built
    assert cat_s.read("kg_edges").count() > 0

    # batch twin on a fresh warehouse
    stats_b = run_pipeline(spark, spark.read.parquet(src), str(tmp_path / "wh_b"))
    cat_b = Catalog(spark, str(tmp_path / "wh_b"))

    for t in ["kg_nodes", "kg_edges", "dangling", "components"]:
        assert exact_rows(cat_s, t) == exact_rows(cat_b, t), t

    # full offset replay (fresh checkpoint): every A+B batch is a
    # committed no-op, C sees an empty pending delta, D recomputes the
    # same graph — nothing double-counts
    n_edges = cat_s.read("kg_edges").count()
    n_triples = cat_s.read("triples_raw").count()
    stream_pipeline_to_catalog(
        spark, src, cfg_s, checkpoint_path=str(tmp_path / "ck2"),
        cd_every=2, max_files_per_trigger=1,
    )
    assert cat_s.read("triples_raw").count() == n_triples
    assert cat_s.read("kg_edges").count() == n_edges
    assert exact_rows(cat_s, "kg_edges") == exact_rows(cat_b, "kg_edges")


def test_stream_pdf_pipeline_cd_in_stream(spark, tmp_path):
    """Streaming PDF ingest (r4 VERDICT next-step #6): PDFs arriving
    across micro-batches (maxFilesPerTrigger=4) through the binaryFile
    stream + in-stream C+D produce kg tables byte-equal to the batch
    ``run_pipeline(fmt="pdf")`` on the same corpus, /Info provenance
    included; a full offset replay changes nothing, and an undecodable
    file quarantines inside its batch."""
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.pdfgen import (
        ensure_pdf_fixture,
    )
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from aisafetyintervention_literatureextraction_spark.streaming.catalog_sink import (
        stream_pipeline_to_catalog,
    )

    d = ensure_pdf_fixture(str(tmp_path / "pdfs"), grammar=True)
    (tmp_path / "pdfs" / "doc_bad.pdf").write_bytes(b"%PDF-1.4 garbage")

    wh_s = str(tmp_path / "wh_s")
    cat_s = Catalog(spark, wh_s)
    cfg_s = PipelineConfig(warehouse=wh_s)
    state = stream_pipeline_to_catalog(
        spark, d, cfg_s, fmt="pdf", checkpoint_path=str(tmp_path / "ck1"),
        glob="*.pdf", cd_every=2, max_files_per_trigger=4,
    )
    assert state["n_batches"] >= 3          # genuinely multi-batch
    assert state["cd_on_last"] or cat_s.read("kg_edges").count() > 0
    q = {r.conv_id: r.reason for r in cat_s.read("quarantine").collect()}
    assert q == {"doc_bad": "undecodable_document"}

    stats_b = run_pipeline(spark, d, str(tmp_path / "wh_b"), fmt="pdf")
    cat_b = Catalog(spark, str(tmp_path / "wh_b"))
    assert stats_b["n_triples"] == cat_s.read("triples_raw").count()

    for t in ["documents", "kg_nodes", "kg_edges", "dangling", "components"]:
        assert exact_rows(cat_s, t) == exact_rows(cat_b, t), t
    # provenance reached the stream-built graph
    titles = {t for r in cat_s.read("kg_nodes").collect()
              for t in r.source_titles}
    assert any(t.startswith("Paper ") for t in titles)

    # full offset replay: committed no-ops, identical warehouse
    n_triples = cat_s.read("triples_raw").count()
    stream_pipeline_to_catalog(
        spark, d, cfg_s, fmt="pdf", checkpoint_path=str(tmp_path / "ck2"),
        glob="*.pdf", cd_every=2, max_files_per_trigger=4,
    )
    assert cat_s.read("triples_raw").count() == n_triples
    assert exact_rows(cat_s, "kg_edges") == exact_rows(cat_b, "kg_edges")


# table_digest of the batch ARD warehouse built below (12 grammar
# articles, one unkeyable row, one all-empty article)
ARD_DIGESTS = {
    "documents": "64fcbcecde6f15650ca3c049fed602f423b1cf8060fad291455a0ee0108eb4a5",
    "quarantine": "919e16dfaabb6ab7bc3dcbcb9cbeeac3895b8f9ca7e0aca2423bb05ca2d3511f",
    "kg_nodes": "fe4232ba92279ddd186d941c55377dd592a8d65670b9643ac34e9c5cf2439d71",
    "kg_edges": "2c6949640e3668908a4882be1e964cdc32e4ce0c0fd9b7402f75b03cbedfcddb",
}


def test_ard_pipeline_batch_and_stream(spark, tmp_path):
    """ARD as a first-class pipeline input (r5): a JSONL article
    corpus runs batch (`run_pipeline(fmt="ard")`) and streaming
    (`--ard --stream` path) to byte-equal warehouses — provenance
    included — with an all-empty article quarantining and an offset
    replay changing nothing.  The batch warehouse matches its golden
    digest."""
    import gzip
    import json as _json

    from digest import table_digest

    from aisafetyintervention_literatureextraction_spark.catalog import Catalog
    from aisafetyintervention_literatureextraction_spark.pdfgen import (
        expected_text,
    )
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from aisafetyintervention_literatureextraction_spark.streaming.catalog_sink import (
        stream_pipeline_to_catalog,
    )

    n_docs = 12
    src = tmp_path / "ard"
    src.mkdir()
    # several files so the stream is genuinely multi-batch; one gzip
    # member proves codec transparency on the batch reader
    for part in range(4):
        rows = []
        for i in range(part * 3, part * 3 + 3):
            rows.append({
                "title": f"Article {i}",
                "authors": [f"A{i}", f"B{i % 2}"],
                "date_published": "2024-05-01T00:00:00Z",
                "text": expected_text(i, grammar=True),
                "abstract": f"abstract {i}",
                "url": f"https://ard.example/{i}",
            })
        body = "\n".join(_json.dumps(r) for r in rows) + "\n"
        if part == 3:
            with gzip.open(src / f"part{part}.jsonl.gz", "wt") as f:
                f.write(body)
        else:
            (src / f"part{part}.jsonl").write_text(body)
    # an unkeyable row (no url, no title) and an all-empty article
    (src / "edge.jsonl").write_text(
        _json.dumps({"title": None, "authors": [], "date_published": None,
                     "text": "ignored", "abstract": None, "url": None})
        + "\n"
        + _json.dumps({"title": "", "authors": [],
                       "date_published": None, "text": "",
                       "abstract": "", "url": "https://ard.example/empty"})
        + "\n")

    stats_b = run_pipeline(spark, str(src), str(tmp_path / "wh_b"), fmt="ard")
    assert stats_b["n_triples"] == n_docs  # one grammar edge per doc
    cat_b = Catalog(spark, str(tmp_path / "wh_b"))
    assert {t: table_digest(cat_b, t) for t in ARD_DIGESTS} == ARD_DIGESTS
    q = {r.conv_id: r.reason for r in cat_b.read("quarantine").collect()}
    assert q == {"https://ard.example/empty": "undecodable_document"}
    docs = {r.conv_id: (r.title, r.author)
            for r in cat_b.read("documents").collect()}
    assert docs["https://ard.example/3"] == ("Article 3", "A3, B1")
    titles = {t for r in cat_b.read("kg_nodes").collect()
              for t in r.source_titles}
    assert titles == {f"Article {i}" for i in range(n_docs)}

    # streaming twin: byte-equal warehouse, replay no-op
    wh_s = str(tmp_path / "wh_s")
    cat_s = Catalog(spark, wh_s)
    cfg_s = PipelineConfig(warehouse=wh_s)
    state = stream_pipeline_to_catalog(
        spark, str(src), cfg_s, fmt="ard", checkpoint_path=str(tmp_path / "ck1"),
        cd_every=2, max_files_per_trigger=2,
    )
    assert state["n_batches"] >= 2
    from aisafetyintervention_literatureextraction_spark.plans.pipeline import (
        stage_c_canonicalize,
        stage_d_materialize,
    )
    if not state["cd_on_last"]:
        stage_c_canonicalize(cat_s, cfg_s)
        stage_d_materialize(cat_s, cfg_s)

    for t in ["documents", "quarantine", "kg_nodes", "kg_edges"]:
        assert exact_rows(cat_s, t) == exact_rows(cat_b, t), t
    n_triples = cat_s.read("triples_raw").count()
    stream_pipeline_to_catalog(
        spark, str(src), cfg_s, fmt="ard", checkpoint_path=str(tmp_path / "ck2"),
        cd_every=2, max_files_per_trigger=2,
    )
    assert cat_s.read("triples_raw").count() == n_triples
