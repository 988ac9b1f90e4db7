"""Scale-credibility probe for the r10 parallelization paths (r11,
VERDICT directive #6).

At sf0.1 every 8v32 core ratio is ~1 (per-query fixed costs dominate),
so the r10 wins rest on plan shape alone. This probe materializes
SALTED xFACTOR copies of the relevant tables (text salted so the
python work per row is preserved; ids offset so keys stay distinct)
and times two representative paths in FRESH subprocesses at
SPARK_GRAFT_CPUS in {8, 32}:

- ``chunk`` — chunk_recursive_dp over xN documents written as ONE
  parquet file (single row group = single split, the exact shape the
  spread_python_stage guard exists for).
- ``join`` — the bench's stream interval join replay over xN events
  (10-file availableNow replay; stateFormatVersion=3 + changelog
  session defaults).

Usage:  python tools/r11_scaling_probe.py [factor]        # default 50
Worker: python tools/r11_scaling_probe.py worker <op> <path> <reps>
        (spawned with SPARK_GRAFT_CPUS set; prints one JSON line)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"


def worker(op: str, path: str, reps: int) -> None:
    import __spark_entry__ as entrymod
    from cocoindex_data_ingestion_spark.operators import chunking
    from cocoindex_data_ingestion_spark.session import get_spark

    spark = get_spark("r11_probe_worker")
    walls = []
    if op == "chunk":
        docs = spark.read.parquet(path)
        for _ in range(reps):
            t0 = time.time()
            chunking.chunk_recursive_dp(
                docs, chunk_size=entrymod._FLAT_CS,
                min_chunk_size=entrymod._FLAT_MN, chunk_overlap=0,
            ).count()
            walls.append(round(time.time() - t0, 3))
    elif op == "join":
        import cocoindex_data_ingestion_spark.streaming.events as se

        for rep in range(reps):
            ck = tempfile.mkdtemp(prefix="r11_probe_ck_")
            purchases = se.read_events_stream(
                spark, path, max_files_per_trigger=1
            ).filter("event_type = 'purchase'").select(
                "user_id", "ts", "event_id"
            )
            clicks = se.read_events_stream(
                spark, path, max_files_per_trigger=1
            ).filter("event_type = 'click'").select(
                "user_id", "ts", "event_id"
            )
            t0 = time.time()
            q = (
                se.interval_join(purchases, clicks, lookback="30 minutes")
                .select("event_id", "r_event_id")
                .writeStream.outputMode("append").format("noop")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(3600)
            walls.append(round(time.time() - t0, 3))
            shutil.rmtree(ck, ignore_errors=True)
    print(json.dumps({"op": op, "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                      "walls": walls, "min": min(walls)}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        worker(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 50

    from pyspark.sql import functions as F

    from cocoindex_data_ingestion_spark.session import get_spark
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    spark = get_spark("r11_probe_gen")
    tmp = tempfile.mkdtemp(prefix="r11_probe_")
    copies = spark.range(factor).select(F.col("id").alias("_copy"))

    docs = load_table(spark, "documents", SF_DIR)
    n_docs = docs.count()
    docs_path = os.path.join(tmp, "docs")
    (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("_copy") * (n_docs * 10)).alias("doc_id"),
            # salt the text so per-copy chunk content differs (same
            # discipline as the deleted scaling_probe_r10, in git
            # history: unsalted copies would
            # probe a degenerate all-duplicates profile)
            F.concat(
                F.col("text"), F.lit(" copy "), F.col("_copy").cast("string")
            ).alias("text"),
        )
        .coalesce(1)
        .write.mode("overwrite").parquet(docs_path)
    )

    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    n_ev = ev.count()
    ev_path = os.path.join(tmp, "events")
    (
        ev.crossJoin(copies)
        .select(
            (F.col("event_id") + F.col("_copy") * (n_ev * 10)).alias(
                "event_id"
            ),
            "ts",
            (F.col("user_id") + F.col("_copy") * 1_000_000).alias("user_id"),
            "event_type", "value", "props",
        )
        .repartition(10)
        .write.mode("overwrite").parquet(ev_path)
    )
    spark.stop()

    here = os.path.dirname(os.path.abspath(__file__))
    results = {}
    for op, path in (("chunk", docs_path), ("join", ev_path)):
        for cpus in ("8", "32"):
            env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
            r = subprocess.run(
                [sys.executable, os.path.join(here, "r11_scaling_probe.py"),
                 "worker", op, path, "2"],
                capture_output=True, text=True, env=env, timeout=3600,
            )
            line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
            rec = json.loads(line[-1]) if line else {"error": r.stderr[-500:]}
            results[f"{op}_c{cpus}"] = rec
            print(json.dumps({f"{op}_c{cpus}": rec}), flush=True)
    for op in ("chunk", "join"):
        a, b = results[f"{op}_c8"], results[f"{op}_c32"]
        if "min" in a and "min" in b:
            print(f"RATIO {op} factor={factor}: 8c/32c = "
                  f"{a['min']}/{b['min']} = {a['min'] / b['min']:.2f}")
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
