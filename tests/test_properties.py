"""Property-based tests (SURVEY.md §5 item 4, hypothesis).

Run with small example counts — each example spins Spark jobs. The
properties: input permutation invariance, extractor soundness on
arbitrary text, snake_case idempotence, catalog upsert idempotence.
"""

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aisafetyintervention_literatureextraction_spark.functions.text import snake_case
from aisafetyintervention_literatureextraction_spark.operators.extraction import (
    extract_triples,
)
from aisafetyintervention_literatureextraction_spark.operators.reassembly import (
    reassemble,
)
from aisafetyintervention_literatureextraction_spark.schemas import TRANSCRIPTS

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=80,
)


@settings(**_SETTINGS)
@given(
    turns=st.lists(text_st, min_size=1, max_size=8),
    seed=st.integers(0, 2**16),
)
def test_reassembly_permutation_invariant(spark, turns, seed):
    """Any row order delivers the same document (per-turn equality
    under stable ordering — the input_hint invariant)."""
    import random

    rows = [
        {"conv_id": "c", "turn_idx": i, "role": "user", "text": t,
         "tool": None, "ts": None}
        for i, t in enumerate(turns)
    ]
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    a = reassemble(spark.createDataFrame(rows, TRANSCRIPTS)).documents.collect()
    b = reassemble(spark.createDataFrame(shuffled, TRANSCRIPTS)).documents.collect()
    assert [r["doc_text"] for r in a] == [r["doc_text"] for r in b]
    assert a[0]["doc_text"] == "\n".join(turns)


@settings(**_SETTINGS)
@given(doc=text_st)
def test_extractor_sound_on_arbitrary_text(spark, doc):
    """Grammar-free text yields NO triples and never crashes, in both
    engines (the extractor must not hallucinate structure)."""
    df = spark.createDataFrame([("c", doc)], "conv_id string, doc_text string")
    for engine in ("sql", "arrow"):
        out = extract_triples(df, engine=engine).collect()
        assert out == []


@settings(**_SETTINGS)
@given(s=text_st)
def test_snake_case_idempotent(spark, s):
    df = spark.createDataFrame([(s,)], "v string")
    once = df.select(snake_case(F.col("v")).alias("a"))
    twice = once.select(snake_case(F.col("a")).alias("b")).collect()[0]["b"]
    val = once.collect()[0]["a"]
    assert twice == val
    assert val == "" or (val[0] != "_" and val[-1] != "_")


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "merge"]),
            st.lists(
                st.tuples(st.integers(0, 15), st.integers(0, 100)),
                min_size=1, max_size=4,
            ),
        ),
        min_size=1, max_size=5,
    ),
)
def test_catalog_model_based(spark, tmp_path_factory, ops):
    """Model-based: any interleaving of delta appends and bucketed
    merges matches a plain dict/list model — the O(delta) machinery
    must never change WHAT the table contains, only how it commits."""
    import shutil, tempfile

    from aisafetyintervention_literatureextraction_spark.catalog import Catalog

    wh = tempfile.mkdtemp(prefix="kgwh_prop_")
    try:
        cat = Catalog(spark, wh)
        applog, model = [], {}
        ver = 0
        for kind, rows in ops:
            df = spark.createDataFrame(rows, "k int, v int")
            if kind == "append":
                cat.append(df, "t")
                applog.extend(rows)
            else:
                cat.merge_upsert(df, "t", keys=["k"], order_col="v", n_buckets=8)
                # merge collapses the append log into keyed state first
                for k, v in applog:
                    if k not in model or v >= model[k]:
                        model[k] = v
                applog = []
                best = {}
                for k, v in rows:
                    if k not in best or v >= best[k]:
                        best[k] = v
                model.update(best)
            ver += 1
            assert cat.current_version("t") == ver - 1
        got = sorted((r["k"], r["v"]) for r in cat.read("t").collect())
        if applog and not model:
            assert got == sorted(applog)
        elif not applog:
            assert got == sorted(model.items())
        # mixed tail (appends after a merge): the table holds keyed
        # state ∪ raw appended rows
        else:
            assert got == sorted(list(model.items()) + applog)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_ascii_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40
)


@settings(**_SETTINGS)
@given(
    shared=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=7,  # k + w - 1 at (k=5, w=3): the guarantee threshold
        max_size=30,
    ),
    pads=st.tuples(_ascii_st, _ascii_st, _ascii_st, _ascii_st),
)
def test_winnow_shared_substring_guarantee(spark, shared, pads):
    """Winnowing guarantee (Schleimer et al. §2): any two documents
    sharing a substring of length >= k+w-1 share >= 1 fingerprint,
    regardless of what surrounds it."""
    from aisafetyintervention_literatureextraction_spark.operators.textstats import (
        winnow_fingerprints,
    )

    a = pads[0] + shared + pads[1]
    b = pads[2] + shared + pads[3]
    df = spark.createDataFrame([("a", a), ("b", b)], "doc_id string, text string")
    out = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(df, k=5, w=3).collect()
    }
    assert out["a"] & out["b"]


# -- r4: PDF round-trip property (no Spark; pure codec) ----------------

# PDF text model: the assembler emits "\n" between lines and cannot
# represent empty lines or leading/trailing whitespace-only artifacts,
# so lines are non-empty and newline-free; everything else (any
# printable unicode, quotes, backslashes, brackets) must survive.
_pdf_line_st = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"),
        blacklist_characters="\x00",
    ),
    min_size=1,
    max_size=60,
).filter(lambda s: s.strip() == s and s != "")


@settings(max_examples=25, deadline=None)
@given(
    lines=st.lists(_pdf_line_st, min_size=1, max_size=6),
    mode=st.sampled_from(["tj", "quote", "hex", "cmap", "cmap2"]),
    filt=st.sampled_from([None, "flate", "a85", "lzw"]),
    xref_stream=st.booleans(),
)
def test_pdf_roundtrip_property(lines, mode, filt, xref_stream):
    """ANY text survives writer → reader for every show-op mode ×
    stream filter × xref flavor (tjarr excluded: its kern-space
    reconstruction is only exact for single-spaced words)."""
    from aisafetyintervention_literatureextraction_spark.operators.pdf import (
        extract_pdf_text,
    )
    from aisafetyintervention_literatureextraction_spark.pdfgen import (
        build_pdf,
    )

    data = build_pdf([lines], mode=mode, stream_filter=filt,
                     xref_stream=xref_stream)
    assert extract_pdf_text(data) == "\n".join(lines)


@settings(**_SETTINGS)
@given(s=st.one_of(st.none(), text_st))
def test_cypher_quoting_property(spark, s):
    """cypher_str round-trips: un-escaping the emitted literal
    recovers the input exactly (the reference's lit() contract), and
    the literal never contains an unescaped quote."""
    from aisafetyintervention_literatureextraction_spark.operators.export import (
        cypher_str,
    )

    df = spark.createDataFrame([(s,)], "v string")
    lit = df.select(cypher_str(F.col("v")).alias("q")).collect()[0]["q"]
    if s is None:
        assert lit == "NULL"
        return
    assert lit.startswith("'") and lit.endswith("'")
    body = lit[1:-1]
    # no unescaped single quote inside the literal body
    k = 0
    while k < len(body):
        if body[k] == "\\":
            k += 2
            continue
        assert body[k] != "'"
        k += 1
    # literal newlines/CRs must not appear — the sink's one-statement-
    # per-line contract for df.write.text output
    assert "\n" not in body and "\r" not in body
    unescaped = (
        body.replace("\\\\", "\x00")
        .replace("\\'", "'")
        .replace("\\n", "\n")
        .replace("\\r", "\r")
        .replace("\x00", "\\")
    )
    assert unescaped == s
