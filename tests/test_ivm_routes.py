"""The two routes of ``BucketedParquetState.fold_merge_sum``: a small
delta over small buckets is folded on the driver with pyarrow, anything
larger through Spark. Both must leave the same state rows, and the
driver route must keep a warm refresh at the Spark jobs of the delta
collect alone."""

import datetime as dt
import math
import random
from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.operators.sketches import _qsk_bucket_expr
from cocoindex_data_ingestion_spark.plans.incremental import BucketedParquetState
from cocoindex_data_ingestion_spark.plans.ivm import (
    MaterializedAgg,
    MaterializedDistinct,
    MaterializedJoin,
    MaterializedQuantile,
    MaterializedTopK,
)

_R_DDL = "id long, g string, x double, q long, d date"
_S_DDL = "id long, g string, b_v long"
_KEYS = ["a", "b", "é", "日本", "", None]
_XS = [0.1, 0.2, 0.3, 1 / 3, 0.7, 1.1, 2 / 7]  # none is exact in binary
_QS = [1, 7, 40, 300, 1234]
_DAYS = [dt.date(2024, 1, 1), dt.date(1999, 12, 31), dt.date(2024, 2, 29)]


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def _batches(seed: int, steps: int):
    """Seeded insert/delete batches for relation R (every view, and the
    join's A side) and S (the join's B side). A group gets at most two
    inserted and two deleted R rows per batch, so each per-group double
    sum in a delta has at most two terms and is exact in any order;
    a group with at most two live rows picked for deletes is emptied."""
    rng = random.Random(seed)
    live = {"r": {}, "s": {}}
    next_id = 0
    emptied = []
    for step in range(steps):
        dels = {"r": [], "s": []}
        if step:
            r_groups = sorted({r[1] for r in live["r"].values()}, key=repr)
            for g in rng.sample(r_groups, min(2, len(r_groups))):
                ids = [i for i, r in live["r"].items() if r[1] == g]
                if len(ids) <= 2:
                    emptied.append(g)
                dels["r"] += rng.sample(ids, min(2, len(ids)))
            dels["s"] = rng.sample(sorted(live["s"]), min(1, len(live["s"])))
        ins = {"r": [], "s": []}
        for g in rng.sample(_KEYS, 3):
            for _ in range(rng.randint(1, 2)):
                ins["r"].append((next_id, g, rng.choice(_XS), rng.choice(_QS),
                                 rng.choice(_DAYS)))
                next_id += 1
        for g in rng.sample(_KEYS, 2):
            ins["s"].append((next_id, g, rng.randint(1, 3)))
            next_id += 1
        out = {}
        for rel in ("r", "s"):
            gone = [live[rel].pop(i) for i in dels[rel]]
            for row in ins[rel]:
                live[rel][row[0]] = row
            out[rel] = (ins[rel], gone)
        yield out, {rel: list(rows.values()) for rel, rows in live.items()}
    assert emptied, "the seeded sequence must empty a group"


class _Views:
    """One copy of the four invertible views."""

    def __init__(self, spark, path):
        self.agg = MaterializedAgg(spark, f"{path}/agg", "g", sum_cols=("x",),
                                   n_buckets=4)
        self.dis = MaterializedDistinct(spark, f"{path}/dis", "g", "x",
                                        n_buckets=4)
        self.qs = MaterializedQuantile(spark, f"{path}/qs", "g", "q",
                                       n_buckets=4)
        self.join = MaterializedJoin(spark, f"{path}/join", "g",
                                     "a_x double, a_d date", "b_v bigint",
                                     n_buckets=4)

    def refresh(self, r_ins, r_del, s_ins, s_del):
        self.agg.refresh(inserts=r_ins, deletes=r_del)
        self.dis.refresh(inserts=r_ins, deletes=r_del)
        self.qs.refresh(inserts=r_ins, deletes=r_del)

        def side(df, cols):
            return None if df is None else df.select("g", *cols)

        self.join.refresh(
            a_inserts=side(r_ins, [F.col("x").alias("a_x"), F.col("d").alias("a_d")]),
            a_deletes=side(r_del, [F.col("x").alias("a_x"), F.col("d").alias("a_d")]),
            b_inserts=side(s_ins, ["b_v"]),
            b_deletes=side(s_del, ["b_v"]),
        )

    def states(self):
        return [
            self.agg.state, self.dis.state, self.qs.state,
            self.join.a_state, self.join.b_state, self.join.view_state,
        ]


def test_fold_routes_give_equal_state(spark, tmp_path, monkeypatch):
    """Seeded refreshes through every invertible view, in two copies
    whose routes alternate in opposite phase (driver, Spark, driver...
    against Spark, driver, Spark...). After every refresh the copies'
    state rows are equal — doubles to the bit — and each view equals a
    one-shot computation over the live relations. The data has NULL,
    empty-string and non-ASCII group keys, non-exact doubles (summed,
    and as join payload), a date payload, and deletes that empty a
    group. The driver route runs no ``localCheckpoint``."""
    calls = Counter()
    for name in ("_fold_on_driver", "_spark_write"):
        real = getattr(BucketedParquetState, name)

        def counted(self, *a, _real=real, _name=name, **kw):
            calls[_name] += 1
            return _real(self, *a, **kw)

        monkeypatch.setattr(BucketedParquetState, name, counted)

    def no_checkpoint(self, *a, **kw):
        raise AssertionError("localCheckpoint on the driver route")

    copies = [_Views(spark, str(tmp_path / "x")), _Views(spark, str(tmp_path / "y"))]
    frame = spark.createDataFrame
    for step, (batch, live) in enumerate(_batches(seed=11, steps=5)):
        (r_ins, r_del), (s_ins, s_del) = batch["r"], batch["s"]
        args = [frame(rows, ddl) if rows else None
                for rows, ddl in ((r_ins, _R_DDL), (r_del, _R_DDL),
                                  (s_ins, _S_DDL), (s_del, _S_DDL))]
        for i, views in enumerate(copies):
            with monkeypatch.context() as m:
                if (step + i) % 2 == 0:
                    m.setattr(DataFrame, "localCheckpoint", no_checkpoint)
                else:
                    m.setattr(BucketedParquetState, "_DRIVER_ROWS", 0)
                views.refresh(*args)

        x, y = copies
        for sx, sy in zip(x.states(), y.states()):
            assert _rows(sx.read()) == _rows(sy.read()), (step, sx.path)

        rows = live["r"]
        by_g = {}
        for _i, g, xv, _q, _d in rows:
            by_g.setdefault(g, []).append(xv)
        got = {r.g: (r.n, r.sum_x) for r in x.agg.read().collect()}
        assert set(got) == set(by_g)
        for g, xs in by_g.items():
            assert got[g][0] == len(xs)
            assert math.isclose(got[g][1], math.fsum(xs), rel_tol=1e-12)
        assert {r.g: r.n_distinct for r in x.dis.read_counts().collect()} == {
            g: len(set(xs)) for g, xs in by_g.items()
        }
        cells = (
            frame(rows, _R_DDL)
            .select("g", F.expr(_qsk_bucket_expr("q")).alias("bucket"))
            .groupBy("g", "bucket").count()
        )
        assert _rows(x.qs.read_cells().select("g", "bucket", "cnt")) == _rows(cells)
        a = Counter((g, xv, d) for _i, g, xv, _q, d in rows if g is not None)
        b = Counter((g, v) for _i, g, v in live["s"] if g is not None)
        assert {
            (r.g, r.a_x, r.a_d, r.b_v): r.m for r in x.join.read().collect()
        } == {
            (ga, ax, ad, bv): ma * mb
            for (ga, ax, ad), ma in a.items()
            for (gb, bv), mb in b.items()
            if ga == gb
        }
    assert calls["_fold_on_driver"] and calls["_spark_write"]


def test_warm_count_sum_refresh_runs_two_jobs(spark, spark_jobs, tmp_path):
    """A warm count/sum refresh of a 300-row batch runs the delta's
    collect (one shuffle: 2 jobs) and nothing else in Spark: no
    checkpoint, no bucket collect, no schema inference, no write."""
    view = MaterializedAgg(spark, str(tmp_path / "agg"), "event_type",
                           sum_cols=("value",))
    kinds = ["view", "click", "signup", "purchase"]

    def batch(i):
        return spark.createDataFrame(
            [(kinds[(i * 300 + j) % 4], j / 4) for j in range(300)],
            "event_type string, value double",
        )

    view.refresh(inserts=batch(0))
    for i in (1, 2):
        assert spark_jobs(lambda: view.refresh(inserts=batch(i)))[0] <= 2
    assert {(r.event_type, r.n) for r in view.read().collect()} == {
        (k, 225) for k in kinds
    }


def test_topk_refresh_collects_touched_buckets_once(
    spark, spark_jobs, tmp_path, monkeypatch
):
    """The recompute route (top-k, min/max) hands the bucket set it
    collects for reading the current rows on to the merge: a warm
    20-row inserts-only refresh of a 4-group ``MaterializedTopK``
    collects its touched buckets once, in 11 Spark jobs."""
    view = MaterializedTopK(spark, str(tmp_path / "topk"), "g", "id", "v", k=3)
    rows = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("g"), "id",
        (F.col("id") * 7 % 13).cast("double").alias("v"),
    )

    def batch(i):
        return rows.filter((F.col("id") >= i * 20) & (F.col("id") < (i + 1) * 20))

    view.refresh(inserts=batch(0))
    collects = Counter()
    real = BucketedParquetState._touched_buckets

    def counted(self, df):
        collects["n"] += 1
        return real(self, df)

    monkeypatch.setattr(BucketedParquetState, "_touched_buckets", counted)
    assert spark_jobs(lambda: view.refresh(inserts=batch(1)))[0] <= 11
    assert collects["n"] == 1
    want = {
        (r.g, r.id, r.v)
        for r in batch(0).union(batch(1))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id"))
        ))
        .filter("_rn <= 3").collect()
    }
    assert {(r.g, r.id, r.v) for r in view.read().collect()} == want


def test_null_group_key_on_both_refresh_routes(spark, tmp_path):
    """A NULL group is one group, as in SQL ``GROUP BY``: NULL keys go
    to bucket 0 and the state's semi/anti joins match NULL to NULL, so
    count/sum, min/max and top-k views keep it across refreshes."""
    ddl = "g string, id long, x double"
    agg = MaterializedAgg(spark, str(tmp_path / "agg"), "g", sum_cols=("x",),
                          n_buckets=4)
    mm = MaterializedAgg(spark, str(tmp_path / "mm"), "g", sum_cols=("x",),
                         minmax_cols=("x",), n_buckets=4)
    topk = MaterializedTopK(spark, str(tmp_path / "tk"), "g", "id", "x", k=2,
                            n_buckets=4)
    first = [(None, 1, 1.0), (None, 2, 5.0), ("a", 3, 2.0)]
    second = [(None, 4, 3.0)]
    for rows in (first, second):
        df = spark.createDataFrame(rows, ddl)
        agg.refresh(inserts=df)
        mm.refresh(inserts=df)
        topk.refresh(inserts=df)
    gone = spark.createDataFrame([(None, 2, 5.0)], ddl)
    base = spark.createDataFrame([(None, 1, 1.0), ("a", 3, 2.0), (None, 4, 3.0)], ddl)
    agg.refresh(deletes=gone)
    mm.refresh(deletes=gone, base=base)
    topk.refresh(deletes=gone, base=base)
    assert _rows(agg.read()) == [("a", 1, 2.0), (None, 2, 4.0)]
    assert _rows(mm.read()) == [("a", 1, 2.0, 2.0, 2.0), (None, 2, 4.0, 1.0, 3.0)]
    assert _rows(topk.read()) == [("a", 3, 2.0), (None, 1, 1.0), (None, 4, 3.0)]


def test_join_with_array_payload_folds_through_spark(spark, tmp_path):
    """pyarrow cannot group by a nested column, so a join side or view
    whose fold key holds an ``array`` payload (an embedding, say) takes
    the Spark route even for a small delta; the side without one still
    folds on the driver."""
    join = MaterializedJoin(spark, str(tmp_path / "join"), "g",
                            "a_emb array<double>", "b_v bigint", n_buckets=4)
    a_ddl, b_ddl = "g string, a_emb array<double>", "g string, b_v bigint"
    join.refresh(
        a_inserts=spark.createDataFrame(
            [("a", [1.0, 2.0]), ("a", [1.0, 2.0]), ("b", [0.5])], a_ddl
        ),
        b_inserts=spark.createDataFrame([("a", 1), ("b", 2)], b_ddl),
    )
    join.refresh(a_deletes=spark.createDataFrame([("a", [1.0, 2.0])], a_ddl))
    assert sorted(
        (r.g, tuple(r.a_emb), r.b_v, r.m) for r in join.read().collect()
    ) == [("a", (1.0, 2.0), 1, 1), ("b", (0.5,), 2, 1)]
    assert _rows(join.b_state.read()) == [("a", 1, 1), ("b", 2, 1)]
