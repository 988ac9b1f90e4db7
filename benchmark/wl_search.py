"""``search`` workload: the corpus is indexed during set-up, then one
closed-loop client sends distinct seeded requests (hybrid RRF, BM25,
exact kNN, LSH kNN) against the index; one seeded request of each kind
is re-run on its ad-hoc twin. After the measured region a traced run
also ingests the corpus once through the pipeline, and checks that
pass."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import wl_ingest
from sizes import SEARCH_DOCS, SEARCH_QUERIES, SETUP_REPEATS, WARMUP_REQUESTS

from cocoindex_data_ingestion_spark.operators import (
    bm25, hybrid, indexing, vector_search,
)

K, LEG_K = 10, 20


def write_corpus(corpus: gen.Corpus, path: str) -> None:
    os.makedirs(path)
    ids, texts = zip(*corpus.docs_rows())
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}),
        f"{path}/docs.parquet",
    )
    vids, vecs = zip(*corpus.embedding_rows())
    pq.write_table(
        pa.table({
            "vec_id": pa.array(vids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }),
        f"{path}/embeddings.parquet",
    )


def qvec_col(vec: list[float]):
    return F.expr("array(" + ",".join(f"{x!r}D" for x in vec) + ")")


def indexed(spark, index_dir: str, docs, emb, q: dict):
    kind = q["kind"]
    if kind == "bm25":
        return indexing.indexed_bm25(spark, index_dir, q["terms"], k=K)
    if kind == "knn_exact":
        return indexing.indexed_knn(spark, index_dir, q["vec"], k=K, exact=True)
    if kind == "knn_lsh":
        return indexing.indexed_knn(spark, index_dir, q["vec"], k=K)
    return hybrid.hybrid_search(
        docs, emb, None, q["terms"], k=K, leg_k=LEG_K, index_dir=index_dir,
        query_vec_df=q["vec"],  # held in memory, as a service would
    )


def ad_hoc(docs, emb, q: dict):
    """The non-indexed twin of each request kind."""
    kind = q["kind"]
    if kind == "bm25":
        return bm25.bm25_search(docs, q["terms"], k=K)
    if kind == "knn_exact":
        return vector_search.knn(emb, qvec_col(q["vec"]), k=K)
    if kind == "knn_lsh":
        return vector_search.knn_lsh(emb, qvec_col(q["vec"]), k=K)
    return hybrid.hybrid_search(
        docs, emb, qvec_col(q["vec"]), q["terms"], k=K, leg_k=LEG_K,
    )


def kind_latency_ms(kinds: list[str], lat: list[float]) -> float:
    """Mean of each request kind's median latency (the kinds are sent
    in equal shares). The kinds differ in cost, so the median over all
    requests would sit on a boundary between kinds and jump with the
    sample."""
    by_kind: dict[str, list[float]] = {}
    for k, x in zip(kinds, lat):
        by_kind.setdefault(k, []).append(x)
    return statistics.mean(statistics.median(v) for v in by_kind.values())


def run(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    setup_s, lat, kinds, results, errors = [], [], [], [], []
    stream, wall = None, 0.0
    for rep in range(SETUP_REPEATS):
        t = time.perf_counter()
        corpus = gen.Corpus(seed, SEARCH_DOCS)
        queries, qprops = gen.query_stream(corpus, seed, SEARCH_QUERIES)
        src = f"{work}/corpus{rep}"
        write_corpus(corpus, src)
        docs = spark.read.parquet(f"{src}/docs.parquet")
        emb = spark.read.parquet(f"{src}/embeddings.parquet")
        index_dir = f"{work}/index{rep}"
        indexing.build_search_index(docs, emb, index_dir)
        setup_s.append(time.perf_counter() - t)
        if stream is None:
            t = time.perf_counter()
            for q in queries[-WARMUP_REQUESTS:]:  # untimed warm-up (JIT, reader caches)
                indexed(spark, index_dir, docs, emb, q).collect()
            warmup_s = time.perf_counter() - t
            stream = iter(queries)

        # the measured region is one window after each set-up, so the
        # requests of a run span most of its wall time and a burst of
        # load from other tenants of the host does not set a whole run
        t0 = time.perf_counter()
        deadline = t0 + seconds / SETUP_REPEATS
        for q in stream:
            t = time.perf_counter()
            try:
                with tracer.span(f"search.{q['kind']}", top=True):
                    with tracer.span("build"):
                        df = indexed(spark, index_dir, docs, emb, q)
                    with tracer.span("exec"):
                        rows = df.collect()
            except Exception as e:  # a failed request is counted, the client goes on
                errors.append({"request": len(kinds), "kind": q["kind"], "error": repr(e)[:300]})
                rows = None
            lat.append((time.perf_counter() - t) * 1e3)
            kinds.append(q["kind"])
            results.append(rows)
            if time.perf_counter() >= deadline:
                break
        wall += time.perf_counter() - t0
    n = len(lat)

    # output checks, outside the timed region: one request of each kind
    # that was sent
    t = time.perf_counter()
    rng = np.random.default_rng([seed, 10])
    sample = [int(rng.choice([i for i, k in enumerate(kinds) if k == kind]))
              for kind in sorted(set(kinds))]
    failures = list(errors)
    for i in sample:
        if results[i] is None:
            continue  # already counted
        q = queries[i]
        want = [tuple(r) for r in ad_hoc(docs, emb, q).collect()]
        got = [tuple(r) for r in results[i]]
        if got != want:
            failures.append({"request": int(i), "kind": q["kind"],
                             "indexed": got[:3], "ad_hoc": want[:3]})

    checks_s = time.perf_counter() - t

    # traced runs only: one full pipeline pass over the same documents,
    # after the measured region: process -> approve -> publish into the
    # sinks. The requests do not read its output and it feeds no
    # end-to-end metric; it loads the pipeline, chunking, embedding,
    # entity and sink layers, and its check counts like a request's
    pipeline_s, pipeline_check = None, None
    if tracer.enabled:
        t = time.perf_counter()
        _, pstats = wl_ingest.ingest_corpus(
            spark, docs, sorted(corpus.texts), corpus.gazetteer, f"{work}/pipeline", tracer,
        )
        pipeline_s = time.perf_counter() - t
        pipeline_check = wl_ingest.check_pipeline(docs, len(corpus.texts), pstats)
        if not pipeline_check["ok"]:
            failures.append(pipeline_check)

    files_total = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(index_dir) for f in fs
    )
    return {
        "setup_s": setup_s,
        "latency_ms": kind_latency_ms(kinds, lat),
        "throughput": n / wall,
        "measured_wall_s": wall,
        "props": {**corpus.props(), **qprops, "requests_sent": n,
                  "kinds_sent": {k: kinds.count(k) for k in set(kinds)},
                  "index_files": files_total,
                  "phase_s": {"setup": sum(setup_s), "warmup": warmup_s,
                              "measure": wall, "checks": checks_s,
                              "pipeline": pipeline_s}},
        "named": {
            "pipeline_docs_per_s": pipeline_s and len(corpus.texts) / pipeline_s,
            "search_p50_ms": statistics.median(lat),
            "search_p90_ms": _pct(lat, 0.9),
            "search_qps": n / wall,
            "search_requests": n,
            "requests": [[k, round(x, 1)] for k, x in zip(kinds, lat)],
        },
        "checks": {
            "attempted": n + (pipeline_check is not None),
            "failed": len(failures),
            "checked_requests": sample,
            "pipeline": pipeline_check,
            "failures": failures,
        },
    }


def _pct(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def layers(tracer, res: dict) -> dict:
    """Per-layer metrics of the search read path, and of the pipeline
    and index build of the set-up."""
    out = wl_ingest.pipeline_layers(tracer)
    for layer, kinds in (
        ("indexing.query", ("bm25", "knn_exact", "knn_lsh")),
        ("hybrid", ("hybrid",)),
    ):
        reqs = [s for k in kinds for s in tracer.named(f"search.{k}")]
        if not reqs:
            continue
        build, execs, tot = [], [], []
        for r in reqs:
            kids = {c["name"]: c for c in tracer.children(r)}
            build.append((kids["build"]["end"] - kids["build"]["start"]) * 1e3)
            execs.append((kids["exec"]["end"] - kids["exec"]["start"]) * 1e3)
            tot.append(tracer.totals(r))
        out[f"{layer}.build_ms"] = statistics.median(build)
        out[f"{layer}.exec_ms"] = statistics.median(execs)
        for key in ("jobs", "stages"):
            out[f"{layer}.{key}"] = statistics.mean(t.get(key, 0) for t in tot)
        if layer == "indexing.query":
            for key in ("rows_scanned", "files_read"):
                out[f"{layer}.{key}"] = statistics.mean(t.get(key, 0) for t in tot)
            out[f"{layer}.files_total"] = res["props"]["index_files"]
    builds = tracer.named("operators.indexing.build_search_index")
    if builds:
        tots = [tracer.totals(b) for b in builds]
        out["indexing.build.s"] = statistics.median(b["end"] - b["start"] for b in builds)
        out["indexing.build.jobs"] = statistics.median(t.get("jobs", 0) for t in tots)
        out["indexing.build.bytes_written"] = statistics.median(
            t.get("bytes_written", 0) for t in tots
        )
    return out
