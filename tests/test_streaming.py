"""Structured Streaming tests: watermarked windows, session windows,
and the reference-faithful ordinal-monotonic keyed upsert
(row_indexer.rs:110-131 semantics) — driven synchronously with the
file source + memory sink."""

import shutil

import pytest
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.plans.incremental import BucketedParquetState
from cocoindex_data_ingestion_spark.streaming import events as se


@pytest.fixture()
def events_dir(spark, tmp_path, sf_dir):
    """Stage the driver's events parquet as a streaming source dir."""
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    # reuse the loader's nanos conversion contract
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    df = load_table(spark, "events", sf_dir)
    out = str(tmp_path / "stream_in")
    df.coalesce(2).write.parquet(out)
    return out


def _run_to_completion(q):
    q.processAllAvailable()
    q.stop()


def test_windowed_counts_match_batch(spark, events_dir, sf_dir):
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    stream = se.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    agg = se.windowed_counts(stream, window="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    _run_to_completion(q)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    batch = load_table(spark, "events", sf_dir)
    expected = {
        (r.ws, r.event_type): (r.n, r.sv)
        for r in batch.groupBy(
            F.window("ts", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sv")
        .collect()
    }
    assert got == expected


def test_session_window_stream_runs(spark, events_dir):
    stream = se.read_events_stream(spark, events_dir, max_files_per_trigger=2)
    agg = se.session_windows(stream, gap="30 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_win")
        .start()
    )
    _run_to_completion(q)
    rows = spark.sql("SELECT * FROM sess_win").collect()
    assert rows
    assert all(r.session_start <= r.session_end for r in rows)


def test_ordinal_upsert_stream_drops_stale(spark, tmp_path):
    """Out-of-order delivery: the stateful upsert must keep the
    max-ordinal row per key and drop stale updates arriving later."""
    import pandas as pd

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    df1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "view", 1.0, "{}"),
         (2, "2024-01-01 11:00:00", 7, "click", 2.0, "{}")],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    df1.select("event_id", "ts", "user_id", "event_type", "value", "props") \
        .coalesce(1).write.mode("append").parquet(str(in_dir))
    # stale row (earlier ts for same user) lands in a later file
    df2 = spark.createDataFrame(
        [(3, "2024-01-01 09:00:00", 7, "stale", 9.0, "{}")],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    df2.select("event_id", "ts", "user_id", "event_type", "value", "props") \
        .coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = se.read_events_stream(spark, str(in_dir), max_files_per_trigger=1)
    upserted = se.ordinal_upsert_stream(stream)
    q = (
        upserted.writeStream.outputMode("append")
        .format("memory")
        .queryName("upserts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _run_to_completion(q)
    rows = spark.sql("SELECT * FROM upserts ORDER BY ordinal").collect()
    # batch 1 emits the latest (click); the stale 'stale' event is dropped
    assert [r.event_type for r in rows] == ["click"]
    assert rows[-1].event_id == 2


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    state = BucketedParquetState(
        spark, str(tmp_path / "target"),
        "user_id long, event_id long, ordinal long, event_type string, value double",
        key_col="user_id",
    )
    sink = se.foreach_batch_upsert(state)
    batch = spark.createDataFrame(
        [(7, 1, 100, "view", 1.0), (7, 2, 200, "click", 2.0), (8, 3, 50, "view", 3.0)],
        "user_id long, event_id long, ordinal long, event_type string, value double",
    )
    sink(batch, 0)
    sink(batch, 0)  # redelivery must not change state
    rows = {r.user_id: (r.event_id, r.ordinal) for r in state.read().collect()}
    assert rows == {7: (2, 200), 8: (3, 50)}

    stale = spark.createDataFrame(
        [(7, 9, 150, "stale", 0.0)],
        "user_id long, event_id long, ordinal long, event_type string, value double",
    )
    sink(stale, 1)  # lower ordinal than current state: ignored
    rows = {r.user_id: (r.event_id, r.ordinal) for r in state.read().collect()}
    assert rows[7] == (2, 200)


def test_stream_foreach_batch_sink_end_to_end(spark, events_dir, tmp_path, sf_dir):
    """writeStream.foreachBatch -> MERGE sink: streaming result equals
    the batch last-writer-wins computation."""
    from pyspark.sql import Window

    from cocoindex_data_ingestion_spark.sources.tables import load_table

    state = BucketedParquetState(
        spark, str(tmp_path / "sink_state"),
        "user_id long, event_id long, ordinal long, event_type string, value double",
        key_col="user_id",
    )
    stream = se.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    enriched = stream.withColumn("ordinal", F.unix_micros("ts")).select(
        "user_id", "event_id", "ordinal", "event_type", "value"
    )
    q = (
        enriched.writeStream.foreachBatch(se.foreach_batch_upsert(state))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {r.user_id: (r.event_id, r.ordinal) for r in state.read().collect()}
    batch = load_table(spark, "events", sf_dir).withColumn(
        "ordinal", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ordinal").desc(), F.col("event_id").desc()
    )
    expected = {
        r.user_id: (r.event_id, r.ordinal)
        for r in batch.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == expected


def test_dedup_stream_drops_redeliveries(spark, tmp_path, sf_dir):
    """Duplicate event_ids across micro-batches inside the watermark
    horizon must be emitted exactly once."""
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    base = (
        load_table(spark, "events", sf_dir)
        .orderBy("event_id")
        .limit(200)
    )
    src = str(tmp_path / "dedup_in")
    # batch 1: events 0-149; batch 2: 100-199 (50 redelivered)
    base.filter(F.col("event_id") < 150).coalesce(1).write.mode("append").parquet(src)
    base.filter(F.col("event_id") >= 100).coalesce(1).write.mode("append").parquet(src)

    stream = se.read_events_stream(spark, src, max_files_per_trigger=1)
    deduped = se.dedup_stream(stream, key_cols=("event_id",), watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _run_to_completion(q)
    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)) == 200


def test_interval_join_stream_matches_batch(spark, events_dir, sf_dir):
    """Stream-stream attribution join (purchase <- prior clicks within
    30 min, same user) produces exactly the batch join's row multiset."""
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    stream = se.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    purchases = stream.filter("event_type = 'purchase'").select(
        "user_id", "ts", "event_id"
    )
    clicks = stream.filter("event_type = 'click'").select(
        "user_id", "ts", "event_id"
    )
    joined = se.interval_join(purchases, clicks, lookback="30 minutes")
    q = (
        joined.select("event_id", "r_event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib")
        .start()
    )
    _run_to_completion(q)
    got = sorted(
        (r.event_id, r.r_event_id)
        for r in spark.sql("SELECT * FROM attrib").collect()
    )

    batch = load_table(spark, "events", sf_dir)
    bp = batch.filter("event_type = 'purchase'").select("user_id", "ts", "event_id")
    bc = batch.filter("event_type = 'click'").select("user_id", "ts", "event_id")
    expected = sorted(
        (r.event_id, r.r_event_id)
        for r in se.interval_join(bp, bc, lookback="30 minutes")
        .select("event_id", "r_event_id")
        .collect()
    )
    assert len(expected) > 0
    assert got == expected


def test_foreach_batch_ivm_fences_redelivery(spark, tmp_path):
    """Micro-batch deltas folded into a MaterializedAgg equal the
    batch aggregate; a re-delivered batchId is a no-op (the fence),
    while the next batchId applies."""
    from pyspark.sql import functions as F

    import cocoindex_data_ingestion_spark.streaming.events as se
    from cocoindex_data_ingestion_spark.plans.ivm import MaterializedAgg

    view = MaterializedAgg(
        spark, str(tmp_path / "sivm"), group_col="g", sum_cols=("x",),
        n_buckets=4,
    )
    sink = se.foreach_batch_ivm(view)

    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "g string, x double")
    b1 = spark.createDataFrame([("a", 3.0)], "g string, x double")
    sink(b0, 0)
    sink(b0, 0)  # redelivery of batch 0: must not double-count
    sink(b1, 1)

    got = {(r["g"], r["n"], r["sum_x"]) for r in view.read().collect()}
    assert got == {("a", 2, 4.0), ("b", 1, 2.0)}


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy: an event older than (max event time −
    watermark) arriving in a LATER micro-batch must be excluded from
    the windowed aggregate (append mode only finalizes windows below
    the watermark; the late row lands in none)."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def _write(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        df.select("event_id", "ts", "user_id", "event_type", "value", "props") \
            .coalesce(1).write.mode("append").parquet(str(in_dir))

    import time as _time

    def _w(rows):
        _write(rows)
        _time.sleep(1.2)  # distinct mtimes → deterministic file order

    # batch 0: advances max event time to 12:00 (watermark 11:50
    # AFTER this batch)
    _w([(1, "2024-01-01 10:00:30", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 12:00:00", 1, "view", 1.0, "{}")])
    # batch 1: spacer — Spark filters late INPUT with the PREVIOUS
    # batch's watermark (eviction uses the current one), so the
    # 11:50 threshold only applies to input from batch 2 onward
    _w([(4, "2024-01-01 12:30:00", 1, "view", 1.0, "{}")])
    # batch 2: the LATE event for the long-finalized 10:00 window
    _w([(3, "2024-01-01 10:01:00", 1, "late", 5.0, "{}")])
    # batch 3: push event time far ahead so every open window closes
    _w([(5, "2024-01-01 15:00:00", 1, "view", 1.0, "{}")])

    stream = se.read_events_stream(spark, str(in_dir), max_files_per_trigger=1)
    counts = se.windowed_counts(stream, window="5 minutes", watermark="10 minutes")
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _run_to_completion(q)
    rows = spark.sql(
        "SELECT window_start, n_events, sum_value FROM late_counts"
        " ORDER BY window_start"
    ).collect()
    by_start = {str(r.window_start): (r.n_events, r.sum_value) for r in rows}
    # the 10:00 window finalized with ONLY event 1 — the late event 3
    # (value 5.0) was dropped, not merged and not re-emitted
    assert by_start["2024-01-01 10:00:00"] == (1, 1.0)
    assert not any(v[1] == 5.0 for v in by_start.values())


def test_streaming_quality_funnel_matches_batch(spark, tmp_path, sf_dir):
    """Micro-batched corpus ingestion through the quality layer:
    stream the documents table file-by-file, apply the repetition
    keep/drop filter per batch via foreachBatch, and append survivors
    to a parquet sink — the final kept set must equal the batch
    filter (the quality profile is per-document, so it commutes with
    micro-batching; this pins that contract)."""
    from cocoindex_data_ingestion_spark.operators import quality
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_kept")
    docs.coalesce(3).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def _filter_batch(batch, batch_id):
        kept = batch.join(
            quality.repetition_profile(batch).filter("keep").select("doc_id"),
            "doc_id",
        )
        kept.write.mode("append").parquet(out)

    q = stream.writeStream.foreachBatch(_filter_batch).start()
    _run_to_completion(q)

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    expected = sorted(
        r.doc_id
        for r in docs.join(
            quality.repetition_profile(docs).filter("keep").select("doc_id"),
            "doc_id",
        ).collect()
    )
    assert got == expected and len(got) > 0


def test_stream_refreshes_incremental_vector_index(spark, tmp_path, sf_dir):
    """readStream -> foreachBatch -> IncrementalVectorIndex.refresh:
    micro-batched index ingestion converges to the same cells and the
    same query answers as a one-shot build over the full corpus."""
    from cocoindex_data_ingestion_spark.operators import vector_search
    from cocoindex_data_ingestion_spark.operators.indexing import (
        IncrementalVectorIndex,
    )
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = emb.filter(F.col("vec_id") != 0)
    # stage the corpus as 3 parquet files so the file stream delivers
    # multiple micro-batches
    src = str(tmp_path / "vec_src")
    corpus.repartition(3).write.parquet(src)
    cents = vector_search.ivf_centroids(corpus, 37).select(
        "cent_id", F.col("cvec").cast("array<double>").alias("cvec")
    )
    idx = IncrementalVectorIndex(
        spark, str(tmp_path / "vidx"), cents, assign="expr"
    )

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _id: idx.refresh(inserts=batch)
        )
        .option("checkpointLocation", str(tmp_path / "vidx_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    idx2 = IncrementalVectorIndex(
        spark, str(tmp_path / "vidx_oneshot"), cents, assign="expr"
    )
    idx2.refresh(inserts=corpus)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    a = [(r.vec_id, r.score) for r in idx.query(qv, k=10, nprobe=3).collect()]
    b = [(r.vec_id, r.score) for r in idx2.query(qv, k=10, nprobe=3).collect()]
    assert a == b and len(a) > 0


def test_streaming_expectations_gate(spark, tmp_path, sf_dir):
    """foreach_batch_expectations splits a replayed event stream into
    good/quarantine sinks whose union is the input and whose good
    side equals the batch-mode expectations filter."""
    from cocoindex_data_ingestion_spark.operators import expectations
    from cocoindex_data_ingestion_spark.sources.tables import load_table
    from cocoindex_data_ingestion_spark.streaming.events import (
        foreach_batch_expectations,
    )

    events = load_table(spark, "events", sf_dir).limit(2000)
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)

    def rules():
        return {
            "value_nonneg": F.col("value") >= 0,
            "known_type": F.col("event_type").isin(
                "view", "click", "purchase", "refund", "signup"
            ),
        }

    good_p = str(tmp_path / "good")
    bad_p = str(tmp_path / "bad")
    audit_p = str(tmp_path / "audit")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_expectations(rules, good_p, bad_p, audit_p)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    good = spark.read.parquet(good_p)
    bad = spark.read.parquet(bad_p)
    n_in = events.count()
    assert good.count() + bad.count() == n_in
    # stream split == batch split
    batch_good, _ = expectations.split(events, rules())
    assert good.count() == batch_good.count()
    assert set(good.columns) == set(events.columns)
    assert "ok_value_nonneg" in bad.columns
    # audit totals add up across batches
    audit = spark.read.parquet(audit_p)
    tot = audit.agg(
        F.sum("n_rows").alias("r"), F.sum("n_valid").alias("v")
    ).collect()[0]
    assert tot["r"] == n_in and tot["v"] == good.count()


def test_foreach_batch_drift_fences_and_matches_batch_psi(spark, tmp_path):
    """Micro-batches folded into the drift monitor's reference
    histogram equal the batch two-cohort PSI; a re-delivered batchId
    is a no-op (histogram deltas are not idempotent — the fence is
    what makes the stream exactly-once)."""
    import numpy as np
    from pyspark.sql import functions as F

    import cocoindex_data_ingestion_spark.streaming.events as se
    from cocoindex_data_ingestion_spark.operators import evaluation

    rng = np.random.RandomState(23)
    ref = rng.uniform(-0.9, 0.9, size=(200, 4))
    shifted = np.clip(ref + np.array([0.5, 0, 0, 0]), -1, 1)
    mk = lambda X, off=0: spark.createDataFrame(
        [(i + off, [float(x) for x in r]) for i, r in enumerate(X)],
        "vec_id long, embedding array<double>",
    )

    mon = evaluation.IncrementalDriftMonitor(
        spark, str(tmp_path / "sdrift"), n_buckets=8
    )
    sink = se.foreach_batch_drift(mon)
    sink(mk(ref[:120]), 0)
    sink(mk(ref[:120]), 0)          # redelivery: must not double-count
    sink(mk(ref[120:], 120), 1)

    stream_psi = {r["dim"]: r["psi"] for r in mon.psi_vs(mk(shifted)).collect()}
    batch_psi = {
        r["dim"]: r["psi"]
        for r in evaluation.embedding_drift_psi(
            mk(ref), mk(shifted), n_buckets=8
        ).collect()
    }
    assert stream_psi == batch_psi
    assert stream_psi[0] > 0.3 and stream_psi[2] < 0.05


def test_sse_change_stream_matches_batch_twin(spark, tmp_path):
    """Streaming/batch parity for the SSE change detector: the same
    poll set, split across TWO micro-batch files (the second file
    re-observes the first file's final states — those duplicates
    must be suppressed THROUGH the state store), must produce exactly
    the batch operator's events."""
    from cocoindex_data_ingestion_spark.operators import state_machine as sm

    docs = spark.createDataFrame(
        [(i,) for i in range(len(sm.LEDGER_PATHS))], "doc_id long"
    )
    ledger = sm.simulate_transition_ledger(docs).select(
        "doc_id", "seq", "to_state"
    )
    # batch twin over polls where every transition is observed twice
    polls = ledger.select(
        "doc_id", "seq",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("tick"),
        "to_state",
    )
    expected = [
        (r["doc_id"], r["seq"], r["status"], r["event_type"])
        for r in sm.sse_events_from_polls(polls)
        .orderBy("doc_id", "seq").collect()
    ]

    in_dir = tmp_path / "polls"
    in_dir.mkdir()
    # file 1: first half of each walk; file 2 RE-OBSERVES the last
    # state of file 1 (cross-batch duplicate) plus the rest
    first = ledger.filter("seq <= 1")
    last_of_first = first.groupBy("doc_id").agg(
        F.max("seq").alias("seq")
    ).join(first, ["doc_id", "seq"])
    first.coalesce(1).write.mode("append").parquet(str(in_dir))
    last_of_first.select("doc_id", "seq", "to_state").unionByName(
        ledger.filter("seq > 1")
    ).coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = se.read_poll_stream(spark, str(in_dir), max_files_per_trigger=1)
    q = (
        se.sse_change_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sse_events")
        .option("checkpointLocation", str(tmp_path / "sse_ckpt"))
        .start()
    )
    _run_to_completion(q)
    got = [
        (r["doc_id"], r["seq"], r["status"], r["event_type"])
        for r in spark.sql(
            "SELECT * FROM sse_events ORDER BY doc_id, seq"
        ).collect()
    ]
    assert got == expected


def test_foreach_batch_upsert_collects_touched_buckets_once(
    spark, tmp_path, monkeypatch
):
    """On a non-empty state a batch's keys are hashed to buckets once:
    the read of the current rows and the merge share that set."""
    ddl = "user_id long, event_id long, ordinal long, event_type string, value double"
    state = BucketedParquetState(
        spark, str(tmp_path / "target"), ddl, key_col="user_id", n_buckets=8
    )
    sink = se.foreach_batch_upsert(state)
    sink(spark.createDataFrame(
        [(u, u, 100, "view", 1.0) for u in range(20)], ddl
    ), 0)

    calls = {"n": 0}
    real = BucketedParquetState._touched_buckets

    def counted(self, df):
        calls["n"] += 1
        return real(self, df)

    monkeypatch.setattr(BucketedParquetState, "_touched_buckets", counted)
    sink(spark.createDataFrame(
        [(3, 30, 200, "click", 2.0), (4, 40, 50, "stale", 0.0)], ddl
    ), 1)
    assert calls["n"] == 1
    rows = {r.user_id: (r.event_id, r.ordinal) for r in state.read().collect()}
    assert len(rows) == 20 and rows[3] == (30, 200) and rows[4] == (4, 100)


def _write_event_file(path, rows):
    """One events parquet file in the stream's schema; ``rows`` are
    (event_id, ts_us, user_id, event_type, value)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": ["{}"] * len(rows),
    }), path)


def test_upsert_and_ivm_streams_recover_from_checkpoint(spark, tmp_path):
    """Kill and restart: both streams replay 2 of 4 event files and
    stop; the IVM query loses its last commit-log entry, as a kill
    between its sink and the commit would leave it. Both restart from
    the same checkpoints over all 4 files. The upsert's emits across
    the two runs keep the newest event per user and never re-emit at
    or below the state run 1 left; the IVM view, whose re-delivered
    batch the batch-id fence skips, equals the one-shot aggregate."""
    import os
    import random

    from cocoindex_data_ingestion_spark.plans.ivm import MaterializedAgg

    rng = random.Random(11)
    # unique timestamps spread over the files at random, so later
    # files carry events older than what earlier files left in state
    ts = rng.sample(range(1_700_000_000_000_000, 1_700_003_600_000_000, 1_000_000), 160)
    events = [
        (i, ts[i], rng.randrange(10), rng.choice(["view", "click", "buy"]),
         rng.randrange(40) / 4)
        for i in range(160)
    ]
    files = [events[i * 40:(i + 1) * 40] for i in range(4)]
    src = tmp_path / "src"
    src.mkdir()

    def add_files(idx):
        for i in idx:
            name = str(src / f"events-{i}.parquet")
            _write_event_file(name, files[i])
            os.utime(name, (1_700_000_000 + i, 1_700_000_000 + i))

    ivm_ckpt = tmp_path / "ckpt_ivm"
    view = MaterializedAgg(spark, str(tmp_path / "view"), "event_type",
                           sum_cols=("value",), n_buckets=4)
    fenced = se.foreach_batch_ivm(view)
    batch_ids = []

    def ivm_sink(df, batch_id):
        batch_ids.append(batch_id)
        fenced(df, batch_id)

    def run():
        # the memory sink cannot recover from a checkpoint: collect the
        # upsert's emits on the driver instead
        emits = []
        stream = lambda: se.read_events_stream(spark, str(src), max_files_per_trigger=1)  # noqa: E731
        up = (se.ordinal_upsert_stream(stream()).writeStream
              .foreachBatch(lambda df, _: emits.extend(df.collect()))
              .option("checkpointLocation", str(tmp_path / "ckpt_upsert")).start())
        ivm = (stream().writeStream.foreachBatch(ivm_sink)
               .option("checkpointLocation", str(ivm_ckpt)).start())
        for q in (up, ivm):
            _run_to_completion(q)
            assert q.exception() is None
        return emits

    add_files([0, 1])
    emits1 = run()
    assert batch_ids == [0, 1]
    for name in ("1", ".1.crc"):  # the commit and its checksum
        os.remove(ivm_ckpt / "commits" / name)
    add_files([2, 3])
    emits2 = run()
    assert batch_ids[2:] == [1, 2, 3]  # batch 1 re-delivered under its id

    state1 = {}
    for r in emits1:
        state1[r.user_id] = max(state1.get(r.user_id, -1), r.ordinal)
    # the run-2 files hold events the restored state must drop
    assert any(t < state1.get(u, -1) for f in files[2:] for _, t, u, _, _ in f)
    assert all(r.ordinal > state1.get(r.user_id, -1) for r in emits2)
    latest = {}
    for r in emits1 + emits2:
        if r.ordinal > latest.get(r.user_id, (-1,))[0]:
            latest[r.user_id] = (r.ordinal, r.event_id)
    oracle = {}
    for e in events:
        if e[1] > oracle.get(e[2], (-1,))[0]:
            oracle[e[2]] = (e[1], e[0])
    assert latest == oracle

    got = {r["event_type"]: (r["n"], r["sum_value"]) for r in view.read().collect()}
    want = {
        r["event_type"]: (r["n"], r["s"])
        for r in spark.read.schema(se.EVENTS_SCHEMA).parquet(str(src))
        .groupBy("event_type").agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want
