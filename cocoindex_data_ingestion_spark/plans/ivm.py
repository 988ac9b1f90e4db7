"""Incremental view maintenance: materialized views kept fresh by
folding insert/delete deltas into bucketed state.

The reference recomputes per-ROW results incrementally (ordinal skip
+ memoization, src/execution/row_indexer.rs) but has no incremental
AGGREGATE story — every aggregate its app layer shows (BM25 corpus
stats, entity counts, search stats) is recomputed from scratch. At
100 TB that's the difference between scanning the delta and scanning
the corpus, so this module adds the classic IVM construction on top
of the same state machinery. Every view keeps its rows in a
:class:`..plans.incremental.BucketedParquetState` keyed by its group
(or composite) key, and a refresh takes one of two routes, by whether
the view's partials can be subtracted:

- **Invertible views** — ``MaterializedAgg`` count/sum,
  ``MaterializedDistinct``, ``MaterializedQuantile`` and the
  ``MaterializedJoin`` sides and view. :func:`_signed_delta` turns the
  batch into ONE signed delta: per-key partials of the inserts with
  sign +1 and of the deletes with sign −1 (the standard delta-multiset
  encoding), unioned and re-summed per key. It is evaluated once, by
  one ``limit(N + 1).toArrow()`` collect that also brings each row's
  bucket id (``BucketedParquetState.pin``; N is the class constant
  ``BucketedParquetState._DRIVER_ROWS``). ``fold_merge_sum`` then adds
  it into the touched buckets; keys whose count folds to 0 disappear.
  The fold takes one of two routes:

  - **driver**, when the delta has at most N rows and the touched
    buckets hold at most N rows (read from their parquet footers):
    pyarrow reads the bucket files, adds the delta per key and writes
    one file per bucket into a new generation. The delta stays
    pinned as a ``LocalRelation`` for the join's cross reads. A warm
    count/sum refresh runs only the collect's 2 Spark jobs: a
    distributed write has a fixed cost (an exchange, a repartition,
    a write job and its commit) that a handful of rows never earns.
  - **Spark**, above N: the delta is ``localCheckpoint``ed, the
    buckets are read, unioned with it, summed and written by Spark.
    A fold keyed on a nested column (a join's array payload) also
    takes this route, as pyarrow cannot group by one.

  Both routes commit through the same manifest CAS, and they give the
  same state rows (tests/test_ivm_routes.py). The driver route needs
  the state directory on a driver-visible POSIX path, which the
  commit already needs (``os.listdir``, ``os.link``).
- **Non-invertible views** — ``MaterializedAgg`` with min/max and
  ``MaterializedTopK``: removing an extremum or a top-k member needs
  the runner-up, which the state no longer holds.
  :func:`_recompute_merge` recomputes the groups that saw deletes from
  the ``base`` rows of those groups alone (a pushed-down predicate;
  partition pruning when the base is laid out by group), combines the
  inserts with the other touched groups' current rows (a
  bucket-pruned ``read_keys``, which collects their buckets) and
  ``merge``s the result with every touched group as a delete key, so
  the groups that emptied go. The merge pins the result in one
  collect that brings its bucket ids, the same ``pin`` the invertible
  route takes, and writes it through Spark.

Cost per refresh on either route: O(|delta| + touched buckets), never
O(corpus). Both folds are associative + commutative, so the view
after any sequence of refreshes equals a one-shot computation over the
final relation — pinned in tests/test_incremental.py,
tests/test_ivm_routes.py and tests/test_properties.py, and oracled end
to end by the ``ivm_*`` registry queries. A NULL group key is one
group, as in SQL ``GROUP BY``.
"""

from __future__ import annotations

import functools
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.plans.incremental import (
    BucketedParquetState,
    PinnedDelta,
    join_keys,
)


def _union(dfs: list[DataFrame]) -> DataFrame:
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def _sum_by(
    df: DataFrame, on: list[str], sums: dict[str, str], *extra
) -> DataFrame:
    """``df`` grouped by ``on``: every ``sums`` column (name → SQL
    type) summed and cast back to its type, then ``extra`` aggregates."""
    return df.groupBy(*on).agg(
        *[F.sum(c).cast(t).alias(c) for c, t in sums.items()], *extra
    )


def _signed_counts(rows: DataFrame, sign: int, col: str) -> DataFrame:
    """One row per distinct row of ``rows`` with its count times
    ``sign`` in ``col``."""
    return rows.groupBy(*rows.columns).agg(
        (F.lit(sign) * F.count("*")).cast("bigint").alias(col)
    )


def _signed_parts(
    inserts: DataFrame | None,
    deletes: DataFrame | None,
    partials: Callable[[DataFrame, int], DataFrame],
) -> list[DataFrame]:
    """``partials(rows, sign)`` of the inserts (+1) and the deletes
    (−1), for those given."""
    return [
        partials(df, sign)
        for df, sign in ((inserts, +1), (deletes, -1))
        if df is not None
    ]


def _signed_delta(
    state: BucketedParquetState,
    parts: list[DataFrame],
    on: list[str],
    sums: dict[str, str],
    finish: Callable[[DataFrame], DataFrame] | None = None,
) -> PinnedDelta | None:
    """The invertible route's delta: signed partials ``parts`` unioned,
    re-summed per ``on`` key (:func:`_sum_by`), passed through the
    view's own ``finish`` (a filter) and pinned under
    ``state``'s bucketing (:meth:`BucketedParquetState.pin`). None
    when there are no parts.

    The delta is bounded by the batch's distinct keys, never its row
    count, and it is evaluated exactly once: a small one is collected
    with its bucket ids and rebuilt as a ``LocalRelation``, a large one
    is checkpointed. Without the pin every later action (the
    generation write, a cross read) would re-scan and re-shuffle the
    whole micro-batch. A checkpoint's truncated lineage is safe: on a
    failed or lost-executor replay the streaming fence
    (events.foreach_batch_ivm) re-runs the batch as a whole."""
    if not parts:
        return None
    delta = _sum_by(_union(parts), on, sums)
    if finish is not None:
        delta = finish(delta)
    return state.pin(delta)


def _nonzero(delta: DataFrame) -> DataFrame:
    return delta.filter(F.col("m") != 0)


def _recompute_merge(
    state: BucketedParquetState,
    inserts: DataFrame | None,
    deletes: DataFrame | None,
    base: DataFrame | None,
    rows: Callable[[DataFrame], DataFrame],
    combine: Callable[[DataFrame], DataFrame],
    what: str,
) -> None:
    """The non-invertible route. ``rows(df)`` maps relation rows (group
    column already cast to string) to state-shaped rows; ``combine``
    reduces state-shaped rows to the state of each group, and must
    satisfy ``combine(combine(A) ∪ B) == combine(A ∪ B)``.

    1. Groups with deletes are recomputed from ``rows`` of their
       ``base`` rows (``base`` = the full relation AFTER this batch).
    2. The inserts of the other groups are combined with those groups'
       current state rows (a bucket-pruned ``read_keys``).
    3. ``merge`` writes the result (bounded by touched groups) and
       takes every touched group as a delete key: a group in the
       result is replaced by its rows, and a group that emptied
       (deleted, with no base row left) is deleted. The merge pins
       the result, which evaluates it once."""
    if deletes is not None and base is None:
        raise ValueError(
            f"{what} maintenance needs `base` to recompute deleted"
            f" groups (the view is not invertible)"
        )
    (g,) = state.key_cols

    def by_group(df: DataFrame) -> DataFrame:
        return df.withColumn(g, F.col(g).cast("string"))

    del_groups = ins = None
    groups = []
    if deletes is not None:
        del_groups = by_group(deletes).select(g).distinct()
        groups.append(del_groups)
    if inserts is not None:
        ins = by_group(inserts)
        groups.append(ins.select(g).distinct())
    if not groups:
        return
    parts = []
    if del_groups is not None:
        parts.append(rows(join_keys(by_group(base), del_groups, [g], "left_semi")))
    if ins is not None:
        if del_groups is not None:
            # the recompute already covers groups that also saw deletes
            ins = join_keys(ins, del_groups, [g], "left_anti")
        current = state.read_keys(ins.select(g).distinct())
        parts.append(current.unionByName(rows(ins)))
    state.merge(combine(_union(parts)), delete_keys=_union(groups))


class MaterializedAgg:
    """``SELECT group_col, count(*), sum(vals...) [, min/max(cols...)]
    GROUP BY group_col`` maintained under insert/delete deltas.

    Count/sum views take the invertible route. With ``minmax_cols``
    the view takes the non-invertible route (min/max cannot be
    subtracted), and deletes need ``base``.

    Groups whose count reaches 0 are deleted from the state (so the
    view never reports empty groups, matching the SQL semantics)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str,
        sum_cols: tuple[str, ...] = (),
        minmax_cols: tuple[str, ...] = (),
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.group_col = group_col
        self.sum_cols = sum_cols
        self.minmax_cols = minmax_cols
        # the summed state columns and their types
        self._sums = {"n": "bigint", **{f"sum_{c}": "double" for c in sum_cols}}
        schema = ", ".join(
            [f"{group_col} string"]
            + [f"{c} {t}" for c, t in self._sums.items()]
            + [
                f"{agg}_{c} double"
                for c in minmax_cols
                for agg in ("min", "max")
            ]
        )
        self.state = BucketedParquetState(
            spark, path, schema, key_col=group_col, n_buckets=n_buckets
        )

    def _extrema(self, col: Callable[[str, str], F.Column]) -> list:
        """``min_c`` / ``max_c`` aggregates of ``col(agg, c)`` for each
        min/max column ``c``."""
        return [
            fn(col(a, c)).alias(f"{a}_{c}")
            for c in self.minmax_cols
            for a, fn in (("min", F.min), ("max", F.max))
        ]

    def _partials(self, delta: DataFrame, sign: int) -> DataFrame:
        aggs = [F.sum(F.lit(sign)).cast("bigint").alias("n")] + [
            (F.lit(sign) * F.sum(F.col(c))).cast("double").alias(f"sum_{c}")
            for c in self.sum_cols
        ] + self._extrema(lambda _a, c: F.col(c).cast("double"))
        return (
            delta.groupBy(F.col(self.group_col).cast("string").alias(self.group_col))
            .agg(*aggs)
        )

    def refresh(
        self,
        inserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
        base: DataFrame | None = None,
    ) -> None:
        """Fold one delta batch into the view. ``deletes`` rows must
        carry the same columns as inserts (the rows being removed).

        ``base`` — the CURRENT full relation (after this batch's
        deltas are applied) — is required only when ``minmax_cols``
        are maintained and ``deletes`` is non-empty: deleted groups
        are recomputed from the base rows of those groups alone,
        since an extremum removal needs the runner-up."""
        g = self.group_col
        if self.minmax_cols:
            _recompute_merge(
                self.state, inserts, deletes, base, what="min/max",
                rows=lambda df: self._partials(df, +1),
                combine=lambda cand: _sum_by(
                    cand, [g], self._sums,
                    *self._extrema(lambda a, c: F.col(f"{a}_{c}")),
                ),
            )
            return
        delta = _signed_delta(
            self.state, _signed_parts(inserts, deletes, self._partials),
            [g], self._sums,
        )
        if delta is not None:
            self.state.fold_merge_sum(delta, on=[g], sum_cols=tuple(self._sums))

    def read(self) -> DataFrame:
        return self.state.read()


class MaterializedDistinct:
    """``SELECT group_col, count(DISTINCT value_col) GROUP BY
    group_col`` maintained exactly under insert/delete deltas.

    ``count(DISTINCT)`` is not delta-mergeable from per-group partials
    (two deltas can insert the same value) and sketches cannot
    subtract, so the state is the **support multiset**: one row per
    (group, value) with its multiplicity — the classical exact
    construction. A refresh aggregates the delta to signed
    per-(group, value) counts, bucket-prune-merges them into the
    support, and drops rows whose multiplicity reaches 0; a value is
    distinct-in-group exactly while its support row exists. Cost per
    refresh: O(|delta| + touched buckets), never O(corpus).

    ``read_counts`` aggregates the (already-deduplicated) support —
    one scan of the support table, never of the base relation. NULL
    values are excluded to match SQL ``count(DISTINCT)``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str,
        value_col: str,
        n_buckets: int = 32,
    ):
        self.group_col = group_col
        self.value_col = value_col
        schema = f"{group_col} string, {value_col} string, m bigint"
        self.state = BucketedParquetState(
            spark, path, schema, key_col=(group_col, value_col),
            n_buckets=n_buckets,
        )

    def _partials(self, delta: DataFrame, sign: int) -> DataFrame:
        g, v = self.group_col, self.value_col
        return _signed_counts(
            delta.select(
                F.col(g).cast("string").alias(g),
                F.col(v).cast("string").alias(v),
            ).filter(F.col(v).isNotNull()),
            sign, "m",
        )

    def refresh(
        self,
        inserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
    ) -> None:
        g, v = self.group_col, self.value_col
        delta = _signed_delta(
            self.state, _signed_parts(inserts, deletes, self._partials),
            [g, v], {"m": "bigint"},
        )
        if delta is not None:
            self.state.fold_merge_sum(delta, on=[g, v])

    def read_support(self) -> DataFrame:
        return self.state.read()

    def read_counts(self) -> DataFrame:
        return (
            self.state.read()
            .groupBy(self.group_col)
            .agg(F.count("*").alias("n_distinct"))
        )


class MaterializedTopK:
    """Per-group top-k ``(id, score)`` lists maintained under
    insert/delete deltas — the incremental form of every leaderboard
    /-per-key-best query on the surface (top_customer_per_nation,
    search suggestion tables, per-collection best chunks).

    Top-k is a mergeable but non-invertible sketch, so the view takes
    the non-invertible route (same as min/max in
    :class:`MaterializedAgg`):

    - **inserts only**: ``topk(stored ∪ delta)`` — pure delta work,
      because ``topk(A ∪ B) == topk(topk(A) ∪ B)`` (any row evicted
      from topk(A) is dominated by k better rows that are still
      present). One bucket-pruned read of the affected groups.
    - **any delete in a group**: the stored list may lose a member
      whose runner-up was evicted long ago, so the group is
      recomputed from ``base`` rows of that group alone. Never a full
      rescan.

    Row identity is ``id_col`` (unique per relation row); ordering is
    (score desc, id asc) so the list is deterministic under ties.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str,
        id_col: str,
        score_col: str,
        k: int = 5,
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.group_col, self.id_col, self.score_col = group_col, id_col, score_col
        self.k = k
        schema = f"{group_col} string, {id_col} bigint, {score_col} double"
        self.state = BucketedParquetState(
            spark, path, schema, key_col=group_col, n_buckets=n_buckets
        )

    def _norm(self, df: DataFrame) -> DataFrame:
        g, i, s = self.group_col, self.id_col, self.score_col
        return df.select(
            F.col(g).cast("string").alias(g),
            F.col(i).cast("long").alias(i),
            F.col(s).cast("double").alias(s),
        )

    def refresh(
        self,
        inserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
        base: DataFrame | None = None,
    ) -> None:
        """``base`` (the full relation AFTER this batch) is required
        when ``deletes`` is non-empty — evicted runner-ups make
        deletion non-invertible."""
        from pyspark.sql import Window

        w = Window.partitionBy(self.group_col).orderBy(
            F.col(self.score_col).desc(), F.col(self.id_col).asc()
        )
        _recompute_merge(
            self.state, inserts, deletes, base, what="top-k",
            rows=self._norm,
            combine=lambda cand: (
                cand.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= self.k)
                .drop("_rn")
            ),
        )

    def read(self) -> DataFrame:
        return self.state.read()


class MaterializedEWMA:
    """Incrementally-maintained α=1/2 EWMA curves per group: the view
    holds each group's full smoothed daily curve plus its frontier
    (last day + last smoothed value), so a refresh folds ONLY the new
    days into the recurrence — O(delta) work per batch, never a
    rescan of history. The batch twin is
    ``relational.grouped_ewma``; equality of the maintained curve
    with the one-shot batch smoothing over all data IS the
    maintenance contract (the MaterializedAgg discipline applied to
    a sequential recurrence, which plain delta-aggregation cannot
    express — state here is the recurrence frontier, not a sum).

    Batches must arrive in day order per group (the streaming
    at-least-once upstream is deduplicated/ordered by the caller,
    e.g. events.dedup_stream + watermarking); a batch whose days
    precede a group's frontier raises rather than silently
    corrupting the curve.
    """

    _SCHEMA = "g string, day long, n long, ewma double"

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self._curve = os.path.join(path, "curve")

    def _read_curve(self):
        """The curve so far, or None before the first refresh. Whether
        it exists is read from its directory, so a curve that exists
        but cannot be read raises (at the first action) instead of
        passing for "no curve yet"."""
        if not os.path.isdir(self._curve):
            return None
        return self.spark.read.schema(self._SCHEMA).parquet(self._curve)

    def read(self) -> "DataFrame":
        cur = self._read_curve()
        if cur is None:
            raise ValueError("MaterializedEWMA: no refresh yet")
        return cur.select("g", "day", "n", "ewma")

    def refresh(self, daily: "DataFrame") -> None:
        """``daily``: (g, day, n) new rows, strictly after each
        group's current frontier."""
        import pandas as pd

        from pyspark.sql import functions as F

        cur = self._read_curve()
        # frontier: last (day, ewma) per group via max_by
        if cur is not None:
            frontier = cur.groupBy("g").agg(
                F.max("day").alias("fday"),
                F.max_by("ewma", "day").alias("fewma"),
            )
            staged = daily.join(frontier, "g", "left")
            bad = staged.filter(
                F.col("fday").isNotNull() & (F.col("day") <= F.col("fday"))
            )
            if bad.limit(1).count() > 0:
                raise ValueError(
                    "MaterializedEWMA: batch contains days at or before "
                    "a group's frontier — order/dedup upstream"
                )
        else:
            staged = (
                daily.withColumn("fday", F.lit(None).cast("long"))
                .withColumn("fewma", F.lit(None).cast("double"))
            )

        def walk(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("day").reset_index(drop=True)
            seed = pdf["fewma"].iloc[0]
            cur_v = None if pd.isna(seed) else float(seed)
            out = []
            for x in pdf["n"].astype("float64"):
                cur_v = x if cur_v is None else (x + cur_v) / 2.0
                out.append(cur_v)
            pdf["ewma"] = out
            return pdf[["g", "day", "n", "ewma"]]

        new_rows = staged.groupBy("g").applyInPandas(walk, schema=self._SCHEMA)
        new_rows.write.mode("append").parquet(self._curve)


class MaterializedQuantile:
    """Per-group approximate quantiles maintained incrementally via
    the deterministic mergeable quantile sketch
    (operators/sketches.py::qsketch_*, DDSketch contract with the
    pure-integer log2/16 bucket map).

    State is the CELL table — one row per (group, bucket) with a
    SIGNED count. Because the sketch's only state is counts, deletes
    are EXACT (fold −1s), which rank-based quantile sketches
    (KLL, t-digest) cannot do without rebuilding; this is the same
    reason MaterializedDistinct keeps a support multiset. A refresh
    aggregates the delta to signed per-(group, bucket) counts and
    bucket-prune-merges them; rows whose count reaches 0 are
    dropped. Cost per refresh O(|delta| + touched buckets);
    ``read_quantiles`` scans only the cell table (groups × occupied
    buckets — hundreds of rows), never the base relation.

    ``value_col`` must be a positive BIGINT (quantize exactly
    upstream, e.g. ``CAST(floor(x*100 + 0.5) AS BIGINT)``).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str,
        value_col: str,
        n_buckets: int = 32,
    ):
        self.group_col = group_col
        self.value_col = value_col
        schema = f"{group_col} string, bucket bigint, cnt bigint"
        self.state = BucketedParquetState(
            spark, path, schema, key_col=(group_col, "bucket"),
            n_buckets=n_buckets,
        )

    def _partials(self, delta: DataFrame, sign: int) -> DataFrame:
        from cocoindex_data_ingestion_spark.operators.sketches import (
            _qsk_bucket_expr,
        )

        g = self.group_col
        return _signed_counts(
            delta.select(
                F.col(g).cast("string").alias(g),
                F.col(self.value_col).alias("_v"),
            )
            .filter(F.col("_v").isNotNull())
            .select(g, F.expr(_qsk_bucket_expr("_v")).alias("bucket")),
            sign, "cnt",
        )

    def refresh(
        self,
        inserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
    ) -> None:
        g = self.group_col
        delta = _signed_delta(
            self.state, _signed_parts(inserts, deletes, self._partials),
            [g, "bucket"], {"cnt": "bigint"},
        )
        if delta is not None:
            self.state.fold_merge_sum(
                delta, on=[g, "bucket"], sum_cols=("cnt",)
            )

    def read_cells(self) -> DataFrame:
        return self.state.read()

    def read_quantiles(
        self, qs: tuple[float, ...] = (0.5, 0.95, 0.99)
    ) -> DataFrame:
        from cocoindex_data_ingestion_spark.operators.sketches import (
            qsketch_quantiles,
        )

        return qsketch_quantiles(
            self.state.read(),
            [self.group_col],
            qs,
        )


class MaterializedJoin:
    """An equi-join view ``A ⋈ B`` maintained under insert AND delete
    batches on EITHER side via the standard delta rule with
    signed-count multiplicity:

        ``Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_new ⋈ ΔB``

    (``A_new = A_old + ΔA`` absorbs the ``ΔA ⋈ ΔB`` cross term, so
    each batch's contribution is counted exactly once). Deltas are
    signed multisets — inserts +1, deletes −1 — and view-row
    multiplicities are products of side multiplicities, so deletes
    are EXACT folds (the MaterializedQuantile/Distinct signed-count
    argument, one level up: bag-join multiplicity is a sum of
    products of counts, and counts subtract).

    This is the one classic IVM operator a 100 TB pipeline needs to
    keep a two-table exported view fresh without recompute — e.g. the
    chunks ⋈ document-metadata join every publish-on-approval export
    performs (reference: app/tasks/document_tasks.py:1587-1737 always
    re-joins; the engine's incremental machinery skips unchanged ROWS
    — src/execution/row_indexer.rs:506-587 content-hash skip,
    src/execution/memoization.rs function cache — but maintains no
    joined VIEW).

    State = three bucketed tables under ``path``:

    - ``a`` / ``b`` — the side multisets, one row per distinct
      (key, payload...) with multiplicity ``m``, BUCKETED BY THE JOIN
      KEY so the delta rule's cross reads (current B rows for ΔA's
      keys, current A rows for ΔB's keys) are bucket-pruned reads of
      the delta's key buckets — O(touched buckets), never O(side).
    - ``view`` — one row per distinct joined row, keyed on the tuple
      ``(key, *payload)``, fold-merged with the signed view delta;
      rows whose multiplicity reaches 0 disappear.

    Cost per refresh: O(|delta| + matching rows of the other side +
    touched buckets). Join keys are cast to string (the family
    convention); NULL keys are dropped (SQL inner-join semantics).
    Payload columns must have disjoint names across the two sides
    (beyond the shared key) and simple (string-castable) types.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        a_schema: str,
        b_schema: str,
        n_buckets: int = 32,
    ):
        """``a_schema`` / ``b_schema``: DDL fragments for the payload
        columns of each side (the join key is held separately), e.g.
        ``"o_orderkey bigint, total_cents bigint"``."""
        self.spark = spark
        self.key_col = key_col
        # parse payload column names via Spark's DDL parser (robust to
        # nested types that a text split on ',' would break)
        self.a_cols = spark.createDataFrame([], a_schema).columns
        self.b_cols = spark.createDataFrame([], b_schema).columns
        dup = set(self.a_cols) & set(self.b_cols)
        if dup or key_col in self.a_cols or key_col in self.b_cols:
            raise ValueError(
                f"MaterializedJoin: payload columns must be disjoint"
                f" and not shadow the key ({sorted(dup)})"
            )
        if "m" in {key_col, *self.a_cols, *self.b_cols}:
            raise ValueError(
                "MaterializedJoin: column name 'm' is reserved"
                " (multiplicity)"
            )
        self.a_state = BucketedParquetState(
            spark, os.path.join(path, "a"),
            f"{key_col} string, {a_schema}, m bigint",
            key_col=key_col, n_buckets=n_buckets,
        )
        self.b_state = BucketedParquetState(
            spark, os.path.join(path, "b"),
            f"{key_col} string, {b_schema}, m bigint",
            key_col=key_col, n_buckets=n_buckets,
        )
        self.view_state = BucketedParquetState(
            spark, os.path.join(path, "view"),
            f"{key_col} string, {a_schema}, {b_schema}, m bigint",
            key_col=(key_col, *self.a_cols, *self.b_cols),
            n_buckets=n_buckets,
        )

    # -- refresh -----------------------------------------------------------

    def _signed(
        self,
        state: BucketedParquetState,
        inserts: DataFrame | None,
        deletes: DataFrame | None,
        cols: list[str],
    ) -> PinnedDelta | None:
        """One side's signed delta (NULL keys dropped), pinned with its
        key-bucket set. Both side states share key + bucket count, so
        the one bucket list serves the side's own fold AND the other
        side's pruned cross read."""
        k = self.key_col

        def partials(df: DataFrame, sign: int) -> DataFrame:
            return _signed_counts(
                df.select(F.col(k).cast("string").alias(k), *cols)
                .filter(F.col(k).isNotNull()),
                sign, "m",
            )

        return _signed_delta(
            state, _signed_parts(inserts, deletes, partials),
            [k, *cols], {"m": "bigint"}, finish=_nonzero,
        )

    def refresh(
        self,
        a_inserts: DataFrame | None = None,
        a_deletes: DataFrame | None = None,
        b_inserts: DataFrame | None = None,
        b_deletes: DataFrame | None = None,
    ) -> None:
        """Fold one batch of side deltas into the view, using the
        symmetric form of the delta rule

            ``Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB``

        (algebraically identical to the asymmetric
        ``ΔA⋈B_old ∪ A_new⋈ΔB`` — ``A_new = A_old + ΔA`` just
        distributes over the join — but every term now reads only the
        PRE-batch snapshots plus the pinned deltas, so the view
        delta no longer waits for the ΔA side fold to commit).

        That unlocks full overlap of the round's driver actions
        (guide §2.6 — each of these jobs is small and leaves the
        cluster mostly idle): the two side-delta pins run
        concurrently, then the ΔA fold, the ΔB fold and the
        view-delta/view-fold chain — three writes to three disjoint
        state directories — run concurrently. ``read`` pins concrete
        generation paths at call time and retained generations are
        never GC'd mid-refresh, so the *_old reads stay pre-batch
        snapshots regardless of commit timing."""
        from concurrent.futures import ThreadPoolExecutor

        k = self.key_col
        payload = self.a_cols + self.b_cols

        def cross(x: DataFrame, y: DataFrame) -> DataFrame:
            # one delta-rule term: an A-shaped ⋈ a B-shaped multiset,
            # multiplicities multiplied
            return x.alias("x").join(y.alias("y"), k).select(
                F.col(k), *payload, (F.col("x.m") * F.col("y.m")).alias("m")
            )

        pool = ThreadPoolExecutor(max_workers=2)
        try:
            if (a_inserts is not None or a_deletes is not None) and (
                b_inserts is not None or b_deletes is not None
            ):
                fa = pool.submit(
                    self._signed, self.a_state, a_inserts, a_deletes,
                    self.a_cols,
                )
                fb = pool.submit(
                    self._signed, self.b_state, b_inserts, b_deletes,
                    self.b_cols,
                )
                da, db = fa.result(), fb.result()
            else:
                da = self._signed(self.a_state, a_inserts, a_deletes, self.a_cols)
                db = self._signed(self.b_state, b_inserts, b_deletes, self.b_cols)
            if da is None and db is None:
                return

            # Pin all pre-batch snapshot reads BEFORE any fold
            # commits. Bucket-pruned read() only — read_keys' extra
            # per-key semi-join would be redundant here: each *_old
            # leg is immediately inner-joined on the key anyway.
            dv_parts, folds = [], []
            if da is not None:
                dv_parts.append(cross(da.df, self.b_state.read(da.buckets)))
            if db is not None:
                dv_parts.append(cross(self.a_state.read(db.buckets), db.df))
            if da is not None and db is not None:
                dv_parts.append(cross(da.df, db.df))  # the ΔA⋈ΔB cross term
            # each side's signed delta folds over the full (key,
            # payload...) uniqueness tuple; bucket pruning still runs
            # on the join key alone
            if da is not None:
                folds.append(pool.submit(
                    self.a_state.fold_merge_sum, da, on=[k, *self.a_cols]
                ))
            if db is not None:
                folds.append(pool.submit(
                    self.b_state.fold_merge_sum, db, on=[k, *self.b_cols]
                ))

            dv = _signed_delta(
                self.view_state, dv_parts, [k, *payload], {"m": "bigint"},
                finish=_nonzero,
            )

            # overlaps with the side folds still in flight — the
            # view delta reads only pinned pre-batch generation paths.
            # The view fold is the same signed-sum shape, keyed on the
            # full (key, payload...) row.
            self.view_state.fold_merge_sum(dv, on=[k, *payload])
            for f in folds:
                f.result()
        finally:
            pool.shutdown(wait=True)

    def read(self) -> DataFrame:
        """The maintained view: one row per distinct joined row with
        its bag multiplicity ``m`` (== the from-scratch join's
        ``GROUP BY *`` count over the final side states)."""
        return self.view_state.read()
