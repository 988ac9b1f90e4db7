"""The indexed read path as one parameterized SQL statement per request
(operators/indexing.py ``bm25_statement`` / ``knn_statement``,
fusion.py ``rrf_fuse_legs_sql``).

- equivalence: seeded random requests return exactly the rows of the
  ad-hoc twins (``bm25.bm25_search``, ``vector_search.knn`` /
  ``knn_lsh``, ad-hoc ``hybrid.hybrid_search``), including empty,
  duplicated, mixed-case, out-of-vocabulary and SQL-special terms;
- plan pins: static partition pruning and pushed token IN-lists
  survive, and the hybrid plan keeps its single exchange;
- gateway budget: a warm build makes a bounded number of Py4J calls
  (a Column-operator build made 400-1,400).
"""

from __future__ import annotations

import random
import re
import threading

import pytest
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.operators import (
    bm25, hybrid, indexing, vector_search,
)
from cocoindex_data_ingestion_spark.sources.tables import load_table

SPECIAL = ["o'brien", "back\\slash", "a:b", "what?", "paren)", "--x", "it''s"]


@pytest.fixture(scope="module")
def corpus(spark, sf_dir, tmp_path_factory):
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir).filter("vec_id <> 0")
    idx = str(tmp_path_factory.mktemp("sqlidx") / "idx")
    indexing.build_search_index(docs, emb, idx, lsh_bits=8)
    vocab = [r.token for r in spark.read.parquet(f"{idx}/postings")
             .select("token").distinct().orderBy("token").collect()]
    vecs = [[float(x) for x in r.embedding]
            for r in emb.orderBy("vec_id").limit(50).collect()]
    return docs, emb, idx, vocab, vecs


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _qcol(vec):
    return F.expr(indexing._qvec_sql(vec))


def _request(seed, vocab, vecs):
    """Seeded terms (duplicates, random case, one OOV or special term
    now and then) and a query vector near a corpus vector."""
    rng = random.Random(seed)
    terms = [rng.choice(vocab) for _ in range(rng.randint(1, 4))]
    terms += [rng.choice(terms)]
    terms = [t.upper() if rng.random() < 0.3 else t for t in terms]
    if rng.random() < 0.5:
        terms.append(rng.choice(SPECIAL + ["zzqxv", "notaword"]))
    rng.shuffle(terms)
    base = rng.choice(vecs)
    vec = [x + rng.gauss(0.0, 0.02) for x in base]
    return terms, vec, rng.choice([1, 3, 10]), rng.choice([5, 20])


@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_indexed_requests_match_ad_hoc_twins(spark, corpus, seed):
    docs, emb, idx, vocab, vecs = corpus
    terms, vec, k, leg_k = _request(seed, vocab, vecs)
    q = _qcol(vec)
    assert _rows(indexing.indexed_bm25(spark, idx, terms, k=k)) == _rows(
        bm25.bm25_search(docs, terms, k=k)
    )
    assert _rows(indexing.indexed_knn(spark, idx, vec, k=k, exact=True)) == _rows(
        vector_search.knn(emb, q, k=k)
    )
    assert _rows(indexing.indexed_knn(spark, idx, vec, k=k)) == _rows(
        vector_search.knn_lsh(emb, q, k=k)
    )
    assert _rows(indexing.indexed_knn(spark, idx, vec, k=k, multiprobe=1)) == _rows(
        vector_search.knn_lsh(emb, q, k=k, multiprobe=1)
    )
    assert _rows(hybrid.hybrid_search(
        docs, emb, None, terms, k=k, leg_k=leg_k, index_dir=idx, query_vec_df=vec,
    )) == _rows(hybrid.hybrid_search(docs, emb, q, terms, k=k, leg_k=leg_k))


@pytest.mark.parametrize("terms", [
    [],
    ["Data", "data", "DATA", "pipeline", "Pipeline"],
    ["zzqxv", "notaword"],
    SPECIAL,
    SPECIAL + ["data"],
], ids=["empty", "dup_case", "oov", "special", "special_and_hit"])
def test_term_edge_cases_match_ad_hoc(spark, corpus, terms):
    """Terms are bound parameters: quotes, backslashes, colons,
    question marks, parentheses and comment markers are plain values,
    and an empty list is an empty frame (not ``token IN ()``)."""
    docs, emb, idx, _vocab, vecs = corpus
    got = indexing.indexed_bm25(spark, idx, terms, k=10)
    assert got.schema.simpleString() == "struct<doc_id:bigint,score:double>"
    assert _rows(got) == _rows(bm25.bm25_search(docs, terms, k=10))
    vec = vecs[0]
    assert _rows(hybrid.hybrid_search(
        docs, emb, None, terms, k=5, leg_k=7, index_dir=idx, query_vec_df=vec,
    )) == _rows(hybrid.hybrid_search(docs, emb, _qcol(vec), terms, k=5, leg_k=7))
    if not terms:
        assert got.count() == 0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_indexed_statement_plans_keep_pruning_and_one_exchange(spark, corpus):
    docs, emb, idx, _vocab, vecs = corpus
    terms = ["data", "pipeline", "index"]
    plan = _plan(indexing.indexed_bm25(spark, idx, terms, k=10))
    assert re.search(r"PartitionFilters: \[tbucket", plan), plan
    assert re.search(r"PushedFilters: \[In\(token", plan), plan
    plan = _plan(indexing.indexed_knn(spark, idx, vecs[0], k=10, multiprobe=1))
    assert re.search(r"PartitionFilters: \[.*sig", plan), plan
    plan = _plan(hybrid.hybrid_search(
        docs, emb, None, terms, k=10, index_dir=idx, query_vec_df=vecs[0],
    ))
    assert len(re.findall(r"Exchange", plan)) == 1, plan
    assert "Coalesce 1" in plan


def _gateway_calls(build) -> int:
    """Py4J calls this thread makes in one warm build. Calls from other
    threads are not the build's: py4j's finalizer worker sends the
    deletes of earlier tests' JavaObjects from its own thread."""
    import py4j.clientserver as cs

    build()  # warm: layout views and corpus stats are memoized
    orig = cs.ClientServerConnection.send_command
    me = threading.get_ident()
    n = [0]

    def counting(self, command):
        n[0] += threading.get_ident() == me
        return orig(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        cs.ClientServerConnection.send_command = orig
    return n[0]


def test_warm_build_gateway_call_budget(spark, corpus):
    docs, emb, idx, _vocab, vecs = corpus
    terms, vec = ["data", "pipeline", "index"], vecs[1]
    assert _gateway_calls(lambda: indexing.indexed_bm25(spark, idx, terms)) <= 20
    assert _gateway_calls(lambda: indexing.indexed_knn(spark, idx, vec, exact=True)) <= 20
    assert _gateway_calls(lambda: indexing.indexed_knn(spark, idx, vec, multiprobe=1)) <= 20
    assert _gateway_calls(lambda: hybrid.hybrid_search(
        docs, emb, None, terms, index_dir=idx, query_vec_df=vec,
    )) <= 40
