"""``live_update`` workload: seeded event files replayed one file per
micro-batch (``maxFilesPerTrigger=1``, ``availableNow``) through the
keyed upsert (memory sink), the streaming IVM sink and the interval
join (noop sink), one query after the other.

Checks: the newest event per user from the upsert stream and the IVM
view equal a batch computation over the same generated events."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from sizes import SETUP_REPEATS

from cocoindex_data_ingestion_spark.plans.ivm import MaterializedAgg
from cocoindex_data_ingestion_spark.streaming import events

QUERIES = ("upsert", "ivm", "join")


def write_events(files: list[dict], path: str) -> None:
    os.makedirs(path)
    for i, f in enumerate(files):
        name = f"{path}/events-{i:04d}.parquet"
        pq.write_table(
            pa.table({
                "event_id": pa.array(f["event_id"], pa.int64()),
                "ts": pa.array(f["ts_us"], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(f["user_id"], pa.int64()),
                "event_type": f["event_type"],
                "value": pa.array(f["value"], pa.float64()),
                "props": ["{}"] * len(f["event_id"]),
            }),
            name,
        )
        os.utime(name, (1_700_000_000 + i, 1_700_000_000 + i))  # replay order


def start(spark, name: str, src: str, work: str, tag: str):
    """Start query ``name`` over the files in ``src``; ``tag`` keeps the
    checkpoint, sink and view of a warm-up apart from the measured run."""
    stream = lambda: events.read_events_stream(spark, src, max_files_per_trigger=1)  # noqa: E731
    view = None
    if name == "upsert":
        w = (events.ordinal_upsert_stream(stream()).writeStream
             .format("memory").queryName(f"{tag}_upsert").outputMode("append"))
    elif name == "ivm":
        view = MaterializedAgg(spark, f"{work}/{tag}_ivm_view", "event_type", sum_cols=("value",))
        w = stream().writeStream.foreachBatch(events.foreach_batch_ivm(view))
    else:
        w = events.interval_join(
            stream().filter("event_type = 'purchase'"), stream().filter("event_type = 'click'"),
        ).writeStream.format("noop")
    q = (
        w.option("checkpointLocation", f"{work}/{tag}_ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    return q, view


def replay(spark, name: str, src: str, work: str, tag: str):
    q, view = start(spark, name, src, work, tag)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream {name} failed: {q.exception()}")
    return q, view


def run(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    setup_s = []
    for rep in range(SETUP_REPEATS):
        t = time.perf_counter()
        files, props = gen.event_files(seed)
        src = f"{work}/events{rep}"
        write_events(files, src)
        # run the IVM stream over the first file alone: its foreachBatch
        # callback server, Python workers and view are what a long-running
        # updater has warm (a cold first IVM batch takes 4-5 s)
        warm = f"{work}/warm{rep}"
        os.makedirs(warm)
        shutil.copy2(f"{src}/events-0000.parquet", warm)
        replay(spark, "ivm", warm, work, f"warm{rep}")
        setup_s.append(time.perf_counter() - t)

    progress, walls = {}, {}
    t0 = time.perf_counter()
    for name in QUERIES:
        t = time.perf_counter()
        with tracer.span(f"stream.{name}", top=True) as rec:
            q, view = replay(spark, name, src, work, "run")
            if rec is not None:
                rec["attrs"]["stream_groups"] = [q.runId]
        walls[name] = time.perf_counter() - t
        progress[name] = [json.loads(p.json) for p in q.recentProgress]
        if view is not None:
            ivm_view = view
    wall = time.perf_counter() - t0

    batches = {
        n: [p for p in ps if p.get("numInputRows", 0) > 0]
        for n, ps in progress.items()
    }
    trig = [p["durationMs"]["triggerExecution"] for ps in batches.values() for p in ps]
    rows = sum(p["numInputRows"] for ps in batches.values() for p in ps)
    # each query's median batch, its first batch left out (a fresh
    # checkpoint's first batch also plans the query and opens its state),
    # averaged over the three queries, whose batches differ in cost
    query_ms = {n: statistics.median(p["durationMs"]["triggerExecution"] for p in ps[1:])
                for n, ps in batches.items() if len(ps) > 1}

    # checks, outside the timed region
    ev = {k: np.concatenate([f[k] for f in files]) for k in ("event_id", "ts_us", "user_id", "value")}
    etype = np.array([t for f in files for t in f["event_type"]])
    order = np.lexsort((ev["ts_us"], ev["user_id"]))
    last = np.r_[ev["user_id"][order][1:] != ev["user_id"][order][:-1], True]
    want_upsert = dict(zip(ev["user_id"][order][last].tolist(),
                           ev["event_id"][order][last].tolist()))
    got_upsert = {}
    for r in spark.table("run_upsert").collect():
        cur = got_upsert.get(r["user_id"])
        if cur is None or r["ordinal"] > cur[0]:
            got_upsert[r["user_id"]] = (r["ordinal"], r["event_id"])
    got_upsert = {u: e for u, (_, e) in got_upsert.items()}
    want_ivm = {
        t: (int((etype == t).sum()), float(ev["value"][etype == t].sum()))
        for t in np.unique(etype)
    }
    got_ivm = {r["event_type"]: (int(r["n"]), float(r["sum_value"]))
               for r in ivm_view.read().collect()}
    # one verdict per query: it consumed one micro-batch per file, and
    # its output (join: none kept) matches the batch computation
    one_per_file = {n: len(b) == len(files) for n, b in batches.items()}
    checks = [
        {"op": "upsert", "ok": one_per_file["upsert"] and got_upsert == want_upsert,
         "users": len(want_upsert),
         "mismatched_users": sum(got_upsert.get(u) != e for u, e in want_upsert.items())},
        {"op": "ivm", "ok": one_per_file["ivm"] and got_ivm == want_ivm,
         "view": got_ivm, "batch": want_ivm},
        {"op": "join", "ok": one_per_file["join"]},
    ]
    failed = [c for c in checks if not c["ok"]]
    return {
        "setup_s": setup_s,
        "latency_ms": float(statistics.mean(query_ms.values())),
        "throughput": rows / wall,
        "measured_wall_s": wall,
        "props": {**props, "phase_s": {"setup": sum(setup_s),
                                       "measure": wall}},
        "named": {
            "stream_rows_per_s": rows / wall,
            "stream_batch_p50_ms": statistics.median(trig),
            "query_batch_p50_ms": query_ms,
            "stream_rows": rows,
            "stream_batches": len(trig),
            "replay_wall_s": walls,
            "batches_ms": {n: [p["durationMs"]["triggerExecution"] for p in ps]
                           for n, ps in batches.items()},
        },
        "checks": {"attempted": len(checks), "failed": len(failed), "results": checks},
        "progress": batches,
    }


def layers(tracer, res: dict) -> dict:
    med = statistics.median
    out = {}
    state = {"commit_ms": 0.0, "update_ms": 0.0, "rows_total": 0.0,
             "memory_bytes": 0.0, "rows_dropped_by_watermark": 0.0}
    for name, ps in res["progress"].items():
        if not ps:
            continue
        for key, src in (("batch_p50_ms", "triggerExecution"), ("addBatch_ms", "addBatch"),
                         ("queryPlanning_ms", "queryPlanning"), ("walCommit_ms", "walCommit")):
            out[f"stream.{name}.{key}"] = med(p["durationMs"].get(src, 0) for p in ps)
        for p in ps:
            for op in p.get("stateOperators", []):
                state["commit_ms"] += op.get("commitTimeMs", 0)
                state["update_ms"] += op.get("allUpdatesTimeMs", 0)
                state["rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
        for op in ps[-1].get("stateOperators", []):
            state["rows_total"] += op.get("numRowsTotal", 0)
            state["memory_bytes"] += op.get("memoryUsedBytes", 0)
    out.update({f"state.{k}": v for k, v in state.items()})
    # foreachBatch runs on the stream's thread, so its refresh spans have
    # no parent: keep those inside the measured ivm replay
    top = tracer.named("stream.ivm")
    refresh = [s for s in tracer.named("plans.ivm.MaterializedAgg.refresh")
               if any(t["start"] <= s["start"] <= t["end"] for t in top)]
    if refresh:
        out["ivm.merge_ms"] = med((s["end"] - s["start"]) * 1e3 for s in refresh)
        out["ivm.bytes_written"] = sum(tracer.totals(s).get("bytes_written", 0) for s in refresh)
    return out
