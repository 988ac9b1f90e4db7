"""``ingest`` workload: a full ``IngestionPipeline`` pass plus the
search-index build over its chunks, then seeded delta rounds and a
final no-op round through ``IncrementalRunner.update``.

The delta transform exports one row per chunk keyed
``"<doc_id>:<chunk_index>"`` (the collector shape), with the embedder
behind ``MemoCache.through``. After every round the target is compared
with a from-scratch recompute over the current source."""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from sizes import DELTA_ROUNDS, INGEST_DOCS, SETUP_REPEATS

from cocoindex_data_ingestion_spark.operators import chunking, embedding, indexing
from cocoindex_data_ingestion_spark.pipelines import IngestionPipeline
from cocoindex_data_ingestion_spark.plans.incremental import (
    BucketedParquetState, IncrementalRunner, MemoCache,
)

CHUNK_SIZE = 200
TARGET_DDL = (
    "_key string, doc_id long, chunk_index int, chunk_text string, "
    "embedding array<float>"
)


def write_listing(rows: list[tuple[int, int, str]], path: str) -> None:
    ids, ords, texts = zip(*rows)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "ordinal": pa.array(ords, pa.int64()),
            "text": list(texts),
        }),
        path,
    )


def chunk_rows(df, embed):
    """Source rows -> one keyed row per chunk; ``embed`` maps a chunk
    frame to the same frame plus ``embedding``."""
    chunks = chunking.sentence_chunks(df.select("doc_id", "text"), chunk_size=CHUNK_SIZE)
    return embed(chunks).select(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("chunk_index").cast("string")).alias("_key"),
        "doc_id", "chunk_index", "chunk_text", "embedding",
    )


def embed_plain(chunks):
    return embedding.embed_documents(
        chunks, embedding.hash_embedder(dim=gen.EMBED_DIM), text_col="chunk_text"
    )


def ingest_corpus(spark, docs, doc_ids: list[int], gazetteer: dict, path: str, tracer):
    """The pipeline's full pass over ``docs``: process -> approve (every
    document) -> publish, as one ``ingest.pipeline`` span."""
    with tracer.span("ingest.pipeline"):
        pipe = IngestionPipeline(spark, path, gazetteer, chunk_size=CHUNK_SIZE)
        pstats = pipe.process(docs)
        pipe.approve(doc_ids)
        pub = pipe.publish()
    return pipe, {"process": pstats, "publish": pub}


def check_pipeline(docs, n_docs: int, stats: dict) -> dict:
    """Every document processed and ingested, and the chunk sink holds
    exactly the chunks ``sentence_chunks`` cuts from the documents."""
    want = chunking.sentence_chunks(docs, chunk_size=CHUNK_SIZE).count()
    ok = (stats["process"]["documents"] == n_docs
          and stats["publish"]["ingested"] == n_docs
          and stats["process"]["chunks"] == want)
    return {"op": "pipeline", "ok": ok, **stats, "chunks_expected": want}


def pipeline_layers(tracer) -> dict:
    """Per-layer metrics of the ``ingest.pipeline`` spans (medians over
    the pipeline passes of a run)."""
    runs = tracer.named("ingest.pipeline")
    if not runs:
        return {}
    med = statistics.median

    def dur(s):
        return s["end"] - s["start"]

    out = {}
    for name in ("process", "approve", "publish"):
        out[f"pipelines.{name}.s"] = med(
            sum(dur(s) for s in tracer.subtree(r)
                if s["name"] == f"pipelines.IngestionPipeline.{name}")
            for r in runs
        )
    tots = [tracer.totals(r) for r in runs]
    for mod in ("chunking", "embedding", "entities"):
        out[f"{mod}.exec_s"] = med(t.get(f"{mod}.exec_ms", 0.0) for t in tots) / 1e3
        out[f"{mod}.python_ms"] = med(t.get(f"{mod}.python_ms", 0.0) for t in tots)
        out[f"{mod}.rows_out"] = med(t.get(f"{mod}.rows_out", 0.0) for t in tots)
    # sink calls the pipeline's own stages made
    sinks = [[s for s in tracer.subtree(r) if s["name"].startswith("sinks.")
              and tracer.spans[s["parent"]]["name"].startswith("pipelines")]
             for r in runs]
    out["sinks.merge.s"] = med(sum(dur(s) for s in ss) for ss in sinks)
    out["sinks.merge.calls"] = med(len(ss) for ss in sinks)
    for key in ("jobs", "bytes_written"):
        out[f"sinks.{key}"] = med(
            sum(tracer.totals(s).get(key, 0) for s in ss) for ss in sinks
        )
    return out


def compare(target_rows, want_rows) -> dict:
    got = {r["_key"]: (r["chunk_text"], list(r["embedding"])) for r in target_rows}
    want = {r["_key"]: (r["chunk_text"], list(r["embedding"])) for r in want_rows}
    return {
        "stale_rows": len(got.keys() - want.keys()),
        "missing_rows": len(want.keys() - got.keys()),
        "wrong_rows": sum(got[k] != want[k] for k in got.keys() & want.keys()),
        "target_rows": len(got),
    }


def run(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    setup_s = []
    for rep in range(SETUP_REPEATS):
        t = time.perf_counter()
        corpus = gen.Corpus(seed, INGEST_DOCS)
        initial = corpus.listing_rows()
        gazetteer = corpus.gazetteer
        cprops = corpus.props()
        rounds, dprops = gen.delta_rounds(corpus, seed, DELTA_ROUNDS)
        src = f"{work}/src{rep}"
        os.makedirs(src)
        write_listing(initial, f"{src}/round0.parquet")
        for i, r in enumerate(rounds, 1):
            write_listing(r["listing"], f"{src}/round{i}.parquet")
        setup_s.append(time.perf_counter() - t)

    def listing(i):
        return spark.read.parquet(f"{src}/round{i}.parquet")

    checks = []

    # -- full phase: process -> approve -> publish -> build_search_index
    t0 = time.perf_counter()
    docs = listing(0).select("doc_id", "text")
    with tracer.span("ingest.full", top=True):
        pipe, pstats = ingest_corpus(
            spark, docs, [r[0] for r in initial], gazetteer, f"{work}/pipeline", tracer,
        )
        chunks = pipe.chunks.read()
        indexing.build_search_index(
            chunks, chunks, f"{work}/index", id_col="chunk_id",
            text_col="chunk_text", vec_id_col="chunk_id",
        )
    full_s = time.perf_counter() - t0
    checks.append(check_pipeline(docs, len(initial), pstats))

    # -- delta phase
    runner = IncrementalRunner(
        spark, f"{work}/inc", "bench-v1", key_col="doc_id", ordinal_col="ordinal",
    )
    target = BucketedParquetState(spark, f"{work}/inc/target", TARGET_DDL, key_col="_key")
    memo = MemoCache(spark, f"{work}/inc/memo", "embedding array<float>")

    def transform(df):
        return chunk_rows(
            df, lambda c: memo.through(c, ["chunk_text"], embed_plain, ["embedding"])
        )

    def update(i, name):
        with tracer.span(name, top=True):
            t = time.perf_counter()
            stats = runner.update(listing(i), ["text"], transform, target)
            return stats, time.perf_counter() - t

    def check(i, stats, expect, changed=()) -> dict:
        got = target.read().collect()
        want = chunk_rows(listing(i), embed_plain).collect()
        cmp = compare(got, want)
        counts_ok = all(stats[k] == v for k, v in expect.items())
        return {
            "round": i, "stats": stats, "expected": expect, "counts_ok": counts_ok,
            "changed_chunk_rows": sum(r["doc_id"] in changed for r in want),
            **cmp, "ok": counts_ok and not (
                cmp["stale_rows"] or cmp["missing_rows"] or cmp["wrong_rows"]
            ),
        }

    initial_stats, initial_s = update(0, "ingest.initial_update")
    checks.append({"op": "initial_update", "stats": initial_stats,
                   "ok": initial_stats["processed"] == len(initial)})

    update_s = []
    for i, r in enumerate(rounds, 1):  # a fixed amount of work per run
        stats, dt = update(i, "ingest.delta_update")
        update_s.append(dt)
        changed = len(r["modified"]) + len(r["added"])
        expect = {
            "processed": changed, "deleted": len(r["deleted"]),
            "skipped": len(r["listing"]) - changed, "bumped": 0,
        }
        checks.append({"op": "delta_update", "shrunk": r["shrunk"],
                       **check(i, stats, expect, set(r["modified"]) | set(r["added"]))})
    last = len(rounds)
    noop_stats, noop_s = update(last, "ingest.noop_update")
    checks.append({"op": "noop_update", **check(
        last, noop_stats, {"processed": 0, "deleted": 0, "bumped": 0,
                           "skipped": len(rounds[-1]["listing"])},
    )})

    failed = [c for c in checks if not c["ok"]]
    stale = [c for c in failed if c.get("stale_rows")]
    n_docs = len(initial)
    return {
        "setup_s": setup_s,
        "latency_ms": statistics.median(update_s) * 1e3,
        "throughput": n_docs / full_s,
        "measured_wall_s": full_s + initial_s + sum(update_s) + noop_s,
        "props": {**cprops, **dprops, "rounds_run": len(update_s),
                  "changed_source_bytes": [
                      sum(len(t) for d, _, t in rounds[k]["listing"]
                          if d in set(rounds[k]["modified"]) | set(rounds[k]["added"]))
                      for k in range(len(update_s))
                  ]},
        "named": {
            "ingest_docs_per_s": n_docs / full_s,
            "full_ingest_s": full_s,
            "initial_update_s": initial_s,
            "update_p50_s": statistics.median(update_s),
            "noop_update_s": noop_s,
            "delta_rounds_stale_share": sum(
                1 for c in stale if c["op"] == "delta_update"
            ) / len(rounds),
        },
        "checks": {
            "attempted": len(checks),
            "failed": len(failed),
            "rounds": checks,
            "cause": (
                "IncrementalRunner.update deletes target rows only by the "
                "keys of sources that are gone; chunk rows of deleted and "
                "shrunk documents stay in the target (stale rows)"
                if stale else None
            ),
        },
        "incremental_stale_rows": max((c.get("stale_rows", 0) for c in checks), default=0),
    }


def layers(tracer, res: dict) -> dict:
    out = pipeline_layers(tracer)
    med = statistics.median

    def dur(s):
        return s["end"] - s["start"]

    build = tracer.named("operators.indexing.build_search_index")
    if build:
        bt = tracer.totals(build[0])
        out["indexing.build.s"] = dur(build[0])
        out["indexing.build.jobs"] = bt.get("jobs", 0)
        out["indexing.build.bytes_written"] = bt.get("bytes_written", 0)

    deltas = tracer.named("ingest.delta_update")
    if deltas:
        plan, transform, merge, written, buckets = [], [], [], [], []
        for d in deltas:
            sub = tracer.subtree(d)
            plan.append(sum(dur(s) for s in sub if s["name"].endswith("IncrementalRunner.plan")))
            through = [s for s in sub if s["name"].endswith("MemoCache.through")]
            transform.append(sum(dur(s) for s in through)
                             + sum(dur(s) for s in sub if s["name"].endswith("sentence_chunks")))
            merges = [s for s in sub if s["name"].endswith("BucketedParquetState.merge")
                      and tracer.spans[s["parent"]]["name"].endswith("IncrementalRunner.update")]
            merge.append(sum(dur(s) for s in merges))
            buckets.append(sum(s["attrs"].get("result_len", 0) for s in merges))
            written.append(sum(tracer.totals(s).get("bytes_written", 0) for s in merges))
        out["incremental.plan.s"] = med(plan)
        out["incremental.transform.s"] = med(transform)
        out["incremental.merge.s"] = med(merge)
        changed = res["props"]["changed_source_bytes"]
        out["incremental.write_amplification"] = med(
            w / max(c, 1) for w, c in zip(written, changed)
        )
        rounds = [c for c in res["checks"]["rounds"] if c["op"] == "delta_update"]
        useful = sum(c["expected"]["processed"] for c in rounds)
        attempted = sum(c["stats"]["processed"] for c in rounds)
        out["incremental.transformed_per_changed"] = useful / max(attempted, 1)
        out["incremental.buckets_rewritten"] = med(buckets)
        # rows through the memo = chunk rows of the docs a round processed
        through = sum(c["changed_chunk_rows"] for c in rounds)
        embedded = sum(tracer.totals(d).get("embedding.rows_out", 0) for d in deltas)
        out["memo.hit_ratio"] = 1.0 - embedded / max(through, 1)
    out["incremental.stale_rows"] = res["incremental_stale_rows"]
    return out

