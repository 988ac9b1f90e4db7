"""Hypothesis property tests over the pure-Python operator cores
(driven in one Spark round-trip per test for speed).

Models the reference's property style: chunk ranges must reproduce
their text (split_recursively.rs:1049-1071); duration parsing total
= sum of parts; packing respects bounds."""

import string

import pytest

from hypothesis import given, settings, strategies as st

from cocoindex_data_ingestion_spark.operators.chunking import _pack_sentences

TEXT_ALPHABET = string.ascii_lowercase + "  .,!?\n"


@given(
    sentences=st.lists(
        st.text(alphabet=string.ascii_lowercase + " ", min_size=1, max_size=80),
        min_size=1,
        max_size=30,
    ),
    chunk_size=st.integers(min_value=20, max_value=200),
)
@settings(max_examples=200, deadline=None)
def test_pack_sentences_bounds_and_order(sentences, chunk_size):
    offs = []
    pos = 0
    for s in sentences:
        offs.append((s, pos))
        pos += len(s) + 1
    full_text = " ".join(sentences)
    chunks = _pack_sentences(offs, chunk_size, full_text)
    assert chunks, "packing must always emit at least one chunk"
    idxs = [c[0] for c in chunks]
    assert idxs == list(range(len(chunks)))
    starts = [c[1] for c in chunks]
    assert starts == sorted(starts)
    longest = max(len(s) for s, _ in offs)
    for _, start, end, text in chunks:
        assert end - start == len(text)
        assert full_text[start:end] == text  # range contract
        # 1-sentence overlap means a flush can hold (overlap + next),
        # so the sound bound is chunk_size + longest sentence + sep —
        # the same property the reference's overlap packing has
        assert len(text) <= max(chunk_size, longest) + longest + 1


@given(
    parts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=999),
            st.sampled_from(["d", "h", "m", "s", "ms"]),
        ),
        min_size=0,
        max_size=5,
    )
)
@settings(max_examples=20, deadline=None)  # each example is a Spark job
@pytest.mark.slow  # ~2 min hypothesis matrix: explicit-only (r11, driver budget)
def test_duration_total_is_sum_of_parts(parts, spark):
    from cocoindex_data_ingestion_spark.functions.duration import (
        parse_duration_us,
    )

    mult = {"d": 86_400_000_000, "h": 3_600_000_000, "m": 60_000_000,
            "s": 1_000_000, "ms": 1_000}
    s = " ".join(f"{v}{u}" for v, u in parts)
    expected = sum(v * mult[u] for v, u in parts)
    df = spark.createDataFrame([(s,)], "s string").coalesce(1)
    got = df.select(parse_duration_us("s").alias("us")).collect()[0].us
    assert got == expected


def test_hash_embedder_series_properties():
    import math

    import pandas as pd

    from cocoindex_data_ingestion_spark.operators.embedding import (
        hash_embed_series,
    )

    texts = pd.Series(["alpha beta", "alpha  beta", "beta alpha", "", "x"])
    out = hash_embed_series(texts, dim=32).tolist()
    # whitespace-insensitive tokenization, order-sensitive sum
    assert out[0] == out[1]
    # unit norm for non-empty
    for v in (out[0], out[2], out[4]):
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9
    assert out[3] == [0.0] * 32
    # bag-of-words: reordering tokens preserves the vector (sum)
    assert [round(a, 12) for a in out[0]] == [round(b, 12) for b in out[2]]


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["upsert", "delete"]),
            st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                     max_size=6, unique=True),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=8, deadline=None)  # each op is a Spark write
@pytest.mark.slow  # ~1 min model-based matrix: explicit-only (r11, driver budget)
def test_bucketed_state_model_based(spark, tmp_path_factory, ops):
    """Model check: an arbitrary upsert/delete sequence against
    BucketedParquetState must equal the same sequence applied to a
    plain dict — state contents, not just no-crash."""
    from cocoindex_data_ingestion_spark.plans.incremental import (
        BucketedParquetState,
    )

    path = tmp_path_factory.mktemp("bstate_model")
    st_ = BucketedParquetState(
        spark, str(path), "k string, v long", key_col="k", n_buckets=4
    )
    model: dict[str, int] = {}
    version = 0
    for kind, keys in ops:
        version += 1
        if kind == "upsert":
            rows = [(f"k{i}", version * 100 + i) for i in keys]
            st_.merge(spark.createDataFrame(rows, "k string, v long"))
            for i in keys:
                model[f"k{i}"] = version * 100 + i
        else:
            st_.merge(
                spark.createDataFrame([], "k string, v long"),
                delete_keys=spark.createDataFrame(
                    [(f"k{i}",) for i in keys], "k string"
                ),
            )
            for i in keys:
                model.pop(f"k{i}", None)
    got = {r["k"]: r["v"] for r in st_.read().collect()}
    assert got == model


_ROW = st.tuples(
    st.sampled_from(["g0", "g1", "g2"]), st.sampled_from([1, 2, 3, 17, 40])
)


@given(data=st.data())
@settings(max_examples=6, deadline=None)  # each step refreshes six views
@pytest.mark.slow  # model-based matrix: explicit-only, like the one above
def test_ivm_views_model_based(spark, tmp_path_factory, data):
    """Model check of both IVM refresh routes: random insert/delete
    batches over a small key space (deletes drawn only from live rows)
    into every maintained view; after every step each view must equal
    a one-shot computation over the live multiset. Each step draws
    whether the invertible views fold on the driver or through Spark."""
    from collections import Counter
    from unittest import mock

    from pyspark.sql import functions as F

    from cocoindex_data_ingestion_spark.operators.sketches import (
        _qsk_bucket_expr,
    )
    from cocoindex_data_ingestion_spark.plans.incremental import (
        BucketedParquetState,
    )
    from cocoindex_data_ingestion_spark.plans.ivm import (
        MaterializedAgg, MaterializedDistinct, MaterializedJoin,
        MaterializedQuantile, MaterializedTopK,
    )

    path = str(tmp_path_factory.mktemp("ivm_model"))
    driver_rows = BucketedParquetState._DRIVER_ROWS
    schema = "id long, g string, v long"
    agg = MaterializedAgg(spark, f"{path}/agg", "g", sum_cols=("v",),
                          n_buckets=4)
    mm = MaterializedAgg(spark, f"{path}/mm", "g", sum_cols=("v",),
                         minmax_cols=("v",), n_buckets=4)
    dis = MaterializedDistinct(spark, f"{path}/dis", "g", "v", n_buckets=4)
    qs = MaterializedQuantile(spark, f"{path}/qs", "g", "v", n_buckets=4)
    topk = MaterializedTopK(spark, f"{path}/topk", "g", "id", "v", k=2,
                            n_buckets=4)
    join = MaterializedJoin(spark, f"{path}/join", "g", "a_v bigint",
                            "b_v bigint", n_buckets=4)

    # live multisets: R feeds every view (and the join's A side),
    # S feeds the join's B side
    live = {"r": {}, "s": {}}
    next_id = 0

    def frame(rows):
        return spark.createDataFrame(list(rows), schema)

    def side(df, col):
        return df.select("g", F.col("v").alias(col))

    for _step in range(data.draw(st.integers(1, 3), label="steps")):
        batch = {}
        for rel in ("r", "s"):
            cur = live[rel]
            gone = set(data.draw(
                st.lists(st.sampled_from(sorted(cur)), unique=True,
                         max_size=3) if cur else st.just([]),
                label=f"{rel} deletes",
            ))
            if cur and data.draw(st.booleans(), label=f"{rel} empties a group"):
                g = data.draw(st.sampled_from(sorted({r[1] for r in cur.values()})))
                gone |= {i for i, r in cur.items() if r[1] == g}
            new = data.draw(st.lists(_ROW, max_size=4), label=f"{rel} inserts")
            dels = [cur.pop(i) for i in gone]
            ins = []
            for g, v in new:
                cur[next_id] = (next_id, g, v)
                ins.append(cur[next_id])
                next_id += 1
            batch[rel] = (frame(ins) if ins else None,
                          frame(dels) if dels else None)
        (ins_r, del_r), (ins_s, del_s) = batch["r"], batch["s"]
        base = frame(live["r"].values())
        # the invertible views' fold: driver route, or Spark route
        driver = data.draw(st.booleans(), label="driver route")
        with mock.patch.object(
            BucketedParquetState, "_DRIVER_ROWS", driver_rows if driver else 0
        ):
            agg.refresh(inserts=ins_r, deletes=del_r)
            mm.refresh(inserts=ins_r, deletes=del_r, base=base)
            dis.refresh(inserts=ins_r, deletes=del_r)
            qs.refresh(inserts=ins_r, deletes=del_r)
            topk.refresh(inserts=ins_r, deletes=del_r, base=base)
            join.refresh(
                a_inserts=None if ins_r is None else side(ins_r, "a_v"),
                a_deletes=None if del_r is None else side(del_r, "a_v"),
                b_inserts=None if ins_s is None else side(ins_s, "b_v"),
                b_deletes=None if del_s is None else side(del_s, "b_v"),
            )

        rows = list(live["r"].values())
        groups = {g for _i, g, _v in rows}
        vals = {g: [v for _i, gg, v in rows if gg == g] for g in groups}
        assert {(r.g, r.n, r.sum_v) for r in agg.read().collect()} == {
            (g, len(vs), float(sum(vs))) for g, vs in vals.items()
        }
        assert {
            (r.g, r.n, r.sum_v, r.min_v, r.max_v) for r in mm.read().collect()
        } == {
            (g, len(vs), float(sum(vs)), float(min(vs)), float(max(vs)))
            for g, vs in vals.items()
        }
        assert {
            (r.g, r.n_distinct) for r in dis.read_counts().collect()
        } == {(g, len(set(vs))) for g, vs in vals.items()}
        cells = (
            base.select("g", F.expr(_qsk_bucket_expr("v")).alias("bucket"))
            .groupBy("g", "bucket").count().collect()
        )
        assert {
            (r.g, r.bucket, r.cnt) for r in qs.read_cells().collect()
        } == {(r.g, r.bucket, r["count"]) for r in cells}
        best = {
            (g, i, float(v))
            for g in groups
            for i, _g, v in sorted(
                (r for r in rows if r[1] == g), key=lambda r: (-r[2], r[0])
            )[:2]
        }
        assert {(r.g, r.id, r.v) for r in topk.read().collect()} == best
        a = Counter((g, v) for _i, g, v in rows)
        b = Counter((g, v) for _i, g, v in live["s"].values())
        assert {
            (r.g, r.a_v, r.b_v, r.m) for r in join.read().collect()
        } == {
            (ga, av, bv, ma * mb)
            for (ga, av), ma in a.items()
            for (gb, bv), mb in b.items()
            if ga == gb
        }
