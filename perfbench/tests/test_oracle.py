"""The benchmark's dedup oracles equal the contract's DuckDB oracles."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as em
from perfbench import oracle, workloads


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    docs = workloads.dedup_documents(seed=5)[:240]
    # an edge-case document: shorter than a shingle
    docs.append({"doc_id": 99, "text": "Ab", "lang": "en", "source": "s",
                 "n_chars": 2})
    path = tmp_path_factory.mktemp("docs") / "documents.parquet"
    pq.write_table(pa.Table.from_pylist(docs), path)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    yield {d["doc_id"]: d["text"] for d in docs}, con
    con.close()


@pytest.mark.parametrize("query,k,t", [
    ("dedup_minhash_lsh", 5, 0.8),
    ("dedup_simhash", 4, 0.9),
])
def test_jaccard_oracle_matches_duckdb(corpus, query, k, t):
    texts, con = corpus
    want = {(a, b): j for a, b, j in con.execute(em.oracle_sql()[query]).fetchall()}
    got = oracle.jaccard_pairs(texts, k, t)
    assert want, "corpus must contain near-duplicate pairs"
    assert oracle.same_pairs(got, want)


def test_winnow_oracle_matches_duckdb(corpus):
    texts, con = corpus
    sql = em.oracle_sql()["dedup_winnow"]
    want = {(a, b): n for a, b, n in con.execute(sql).fetchall()}
    assert want
    assert oracle.winnow_pairs(texts) == want
    # the hot-fingerprint cap is part of the contract: a tighter cap
    # drops fingerprints and with them pairs
    assert oracle.winnow_pairs(texts, max_bucket=3).keys() < want.keys()


def test_same_pairs_tolerance():
    assert oracle.same_pairs({(1, 2): 0.8333333}, {(1, 2): 0.833333})
    assert not oracle.same_pairs({(1, 2): 0.9}, {(1, 2): 0.8})
    assert not oracle.same_pairs({(1, 2): 0.9}, {(1, 3): 0.9})
