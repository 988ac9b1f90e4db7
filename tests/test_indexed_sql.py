"""The indexed read path as one parameterized SQL statement per request
(operators/indexing.py ``bm25_statement`` / ``knn_statement``,
fusion.py ``rrf_fuse_legs_sql``).

- equivalence: seeded random requests return exactly the rows of the
  ad-hoc twins (``bm25.bm25_search``, ``vector_search.knn`` /
  ``knn_lsh``, ad-hoc ``hybrid.hybrid_search``), including empty,
  duplicated, mixed-case, out-of-vocabulary and SQL-special terms;
- plan pins: static partition pruning and pushed token IN-lists
  survive; on a postings layout of at most ``_COALESCE_MAX_BYTES`` the
  BM25 leg and the hybrid plan have no exchange, above it the single
  aggregate exchange stays;
- job pin: a warm request is one Spark job (BM25 and hybrid: of one
  stage), counted by job group;
- query-vector contract: the bound ``:qvec`` parameter gives exactly
  the rows (or the error) of the same statement with the vector
  spliced in as ``D`` literals; an empty or non-finite vector is a
  ``ValueError``;
- gateway budget: a warm build makes a bounded number of Py4J calls
  (a Column-operator build made 400-1,400).
"""

from __future__ import annotations

import math
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
    """Pruning pins, and no exchange at all on this small index: the
    BM25 leg's scan is coalesced to one partition, which satisfies its
    ``GROUP BY``. The one aggregate exchange of a larger postings
    layout is pinned by ``test_postings_above_coalesce_size_keep_the_exchange``."""
    docs, emb, idx, _vocab, vecs = corpus
    terms = ["data", "pipeline", "index"]
    plan = _plan(indexing.indexed_bm25(spark, idx, terms, k=10))
    assert re.search(r"PartitionFilters: \[tbucket", plan), plan
    assert re.search(r"PushedFilters: \[In\(token", plan), plan
    plan = _plan(indexing.indexed_knn(spark, idx, vecs[0], k=10, multiprobe=1))
    assert re.search(r"PartitionFilters: \[.*sig", plan), plan
    assert "Exchange" not in plan, plan
    plan = _plan(hybrid.hybrid_search(
        docs, emb, None, terms, k=10, index_dir=idx, query_vec_df=vecs[0],
    ))
    assert "Exchange" not in plan, plan
    assert "Coalesce 1" in plan


def test_postings_above_coalesce_size_keep_the_exchange(spark, corpus, monkeypatch):
    """A postings layout larger than ``_COALESCE_MAX_BYTES`` keeps the
    BM25 leg's aggregate exchange (its parallel scan), and the rows
    stay those of the ad-hoc twins."""
    docs, emb, idx, _vocab, vecs = corpus
    size = indexing._layout_bytes(spark, f"{idx}/postings")
    monkeypatch.setattr(indexing, "_COALESCE_MAX_BYTES", size - 1)
    vec = vecs[0]
    for terms in (["data", "pipeline", "index"], ["Data", "stream", "zzqxv"]):
        got = indexing.indexed_bm25(spark, idx, terms, k=10)
        assert len(re.findall(r"Exchange", _plan(got))) == 1
        assert _rows(got) == _rows(bm25.bm25_search(docs, terms, k=10))
        got = hybrid.hybrid_search(
            docs, emb, None, terms, k=5, leg_k=7, index_dir=idx, query_vec_df=vec,
        )
        plan = _plan(got)
        assert len(re.findall(r"Exchange", plan)) == 1, plan
        assert "Coalesce 1" in plan
        assert _rows(got) == _rows(
            hybrid.hybrid_search(docs, emb, _qcol(vec), terms, k=5, leg_k=7)
        )


def test_warm_request_runs_one_job(spark, spark_jobs, corpus):
    """On a warm small index every request kind is one Spark job, and
    BM25 and hybrid run it as one stage: no aggregate exchange, so no
    second AQE query stage."""
    docs, emb, idx, _vocab, vecs = corpus
    terms, vec = ["data", "pipeline", "index"], vecs[2]
    requests = {
        "bm25": lambda: indexing.indexed_bm25(spark, idx, terms).collect(),
        "hybrid": lambda: hybrid.hybrid_search(
            docs, emb, None, terms, index_dir=idx, query_vec_df=vec,
        ).collect(),
        "knn_exact": lambda: indexing.indexed_knn(spark, idx, vec, exact=True).collect(),
        "knn_lsh": lambda: indexing.indexed_knn(spark, idx, vec).collect(),
    }
    for kind, run in requests.items():
        run()  # warm: layout views, corpus stats and layout size are memoized
        jobs, stages = spark_jobs(run)
        assert jobs == 1, kind
        if kind in ("bm25", "hybrid"):
            assert stages == 1, kind


SPECIAL_DOUBLES = [-0.0, 5e-324, 1e-300, 1.0, -3.0, 0.0, 12.0]
MAX_DOUBLE = 1.7976931348623157e308


def _outcome(run):
    """Rows (as ``repr``, so NaN scores compare) or the error class."""
    try:
        return "rows", repr(run())
    except Exception as e:  # noqa: BLE001 - the error is the outcome
        m = re.search(r"\[([A-Z_]+)\]", str(e))
        return "error", m.group(1) if m else type(e).__name__


def _vector_requests(spark, docs, emb, idx, vec, terms):
    return {
        "exact": lambda: _rows(indexing.indexed_knn(spark, idx, vec, k=10, exact=True)),
        "lsh": lambda: _rows(indexing.indexed_knn(spark, idx, vec, k=10)),
        "multiprobe": lambda: _rows(indexing.indexed_knn(spark, idx, vec, k=10, multiprobe=1)),
        "hybrid": lambda: _rows(hybrid.hybrid_search(
            docs, emb, None, terms, k=10, leg_k=20, index_dir=idx, query_vec_df=vec,
        )),
    }


def _spliced_outcomes(monkeypatch, requests, vec):
    """Outcomes of ``requests`` with ``knn_statement`` splicing the
    vector in as ``_qvec_sql`` ``D`` literals (the statement the
    parameter replaced) instead of binding ``:qvec``."""
    real = indexing.knn_statement

    def spliced(*a, **kw):
        text, args = real(*a, **kw)
        assert indexing._QVEC_PARAM_SQL in text and set(args) == {"qvec"}
        return text.replace(indexing._QVEC_PARAM_SQL, indexing._qvec_sql(vec)), {}

    with monkeypatch.context() as m:
        m.setattr(indexing, "knn_statement", spliced)
        return {kind: _outcome(run) for kind, run in requests.items()}


@pytest.mark.parametrize("seed", range(6))
def test_bound_query_vector_equals_spliced_literals(spark, corpus, monkeypatch, seed):
    """``repr`` -> ``Double.parseDouble`` round-trips every finite
    double, so the folded ``:qvec`` array holds exactly the values the
    ``D`` literals gave: same rows on random vectors carrying -0.0,
    subnormals, 1e-300, integral values and (odd seeds) the largest
    double."""
    docs, emb, idx, vocab, vecs = corpus
    rng = random.Random(seed)
    vec = [x + rng.gauss(0.0, 0.05) for x in rng.choice(vecs)]
    specials = SPECIAL_DOUBLES + ([MAX_DOUBLE, -MAX_DOUBLE] if seed % 2 else [])
    for j in rng.sample(range(len(vec)), 12):
        vec[j] = rng.choice(specials)
    terms = [rng.choice(vocab) for _ in range(3)]
    requests = _vector_requests(spark, docs, emb, idx, vec, terms)
    got = {kind: _outcome(run) for kind, run in requests.items()}
    assert got == _spliced_outcomes(monkeypatch, requests, vec)
    assert all(kind == "rows" for kind, _ in got.values()), got


def test_zero_query_vector_divides_by_zero_as_before(spark, corpus, monkeypatch):
    """A zero query vector has norm 0: under ANSI the cosine divides by
    zero, on the bound parameter exactly as on the spliced literals."""
    docs, emb, idx, _vocab, vecs = corpus
    vec = [0.0] * len(vecs[0])
    requests = _vector_requests(spark, docs, emb, idx, vec, ["data"])
    got = {kind: _outcome(run) for kind, run in requests.items()}
    assert got == {kind: ("error", "DIVIDE_BY_ZERO") for kind in requests}
    assert got == _spliced_outcomes(monkeypatch, requests, vec)


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf, None],
                         ids=["nan", "inf", "-inf", "empty"])
def test_empty_or_non_finite_query_vector_is_a_value_error(spark, corpus, bad):
    """A string cast reads ``nan``/``inf`` without complaint, so they are
    refused before any statement is built; so is an empty vector."""
    docs, emb, idx, _vocab, vecs = corpus
    vec = [] if bad is None else vecs[0][:5] + [bad] + vecs[0][6:]
    for run in _vector_requests(spark, docs, emb, idx, vec, ["data"]).values():
        with pytest.raises(ValueError, match="query vector"):
            run()


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
