"""Incremental view maintenance: delta-maintained materialized
aggregates.

The reference recomputes per-ROW results incrementally (ordinal skip
+ memoization, src/execution/row_indexer.rs) but has no incremental
AGGREGATE story — every aggregate its app layer shows (BM25 corpus
stats, entity counts, search stats) is recomputed from scratch. At
100 TB that's the difference between scanning the delta and scanning
the corpus, so this module adds the classic IVM construction on top
of the same tracking/state machinery:

- A **materialized aggregate** ``GROUP BY g: count, sum(x)...`` is
  kept in a :class:`..plans.incremental.BucketedParquetState` keyed
  by the group columns.
- A **refresh** computes the same partial aggregates over the delta
  only (inserts positive, deletes negative — the standard
  delta-multiset encoding), merges them with the stored partials of
  the AFFECTED groups (bucket-pruned read), and commits only those
  buckets. Cost per refresh: O(|delta| + touched buckets), never
  O(corpus).
- Maintainable aggregates here: ``count``, ``sum`` (and anything
  derivable: avg = sum/count), plus ``min``/``max`` with the classic
  split strategy: inserts merge with ``least``/``greatest`` (pure
  delta work), while deletes trigger a **recompute of the affected
  groups only** from the base table (min/max are not invertible —
  removing the current extremum requires the runner-up). The
  recompute reads base rows for the deleted groups (a pushed-down
  predicate; partition pruning when the base is laid out by group),
  never the whole corpus.

Merging partials is associative + commutative, so the refresh result
is independent of delta batching/order — the equivalence contract
(state after any sequence of refreshes == one-shot groupBy over the
final table) is pinned in tests/test_incremental.py and oracled
end-to-end by the ``ivm_materialized_agg`` registry query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.plans.incremental import BucketedParquetState


class MaterializedAgg:
    """``SELECT group_col, count(*), sum(vals...) GROUP BY group_col``
    maintained under insert/delete deltas.

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
        schema = ", ".join(
            [f"{group_col} string", "n bigint"]
            + [f"sum_{c} double" for c in sum_cols]
            + [
                f"{agg}_{c} double"
                for c in minmax_cols
                for agg in ("min", "max")
            ]
        )
        self.state = BucketedParquetState(
            spark, path, schema, key_col=group_col, n_buckets=n_buckets
        )

    # -- delta aggregation -------------------------------------------------

    def _partials(self, delta: DataFrame, sign: int) -> DataFrame:
        aggs = [F.sum(F.lit(sign)).cast("bigint").alias("n")] + [
            (F.lit(sign) * F.sum(F.col(c))).cast("double").alias(f"sum_{c}")
            for c in self.sum_cols
        ]
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
        are maintained and ``deletes`` is non-empty: deleted groups'
        min/max are recomputed from the base rows of those groups
        alone (semi-join → pushed-down group predicate), since an
        extremum removal needs the runner-up."""
        if self.minmax_cols and deletes is not None and base is None:
            raise ValueError(
                "min/max maintenance needs `base` to recompute deleted"
                " groups (extrema are not invertible)"
            )
        parts = []
        if inserts is not None:
            parts.append(self._partials(inserts, +1))
        if deletes is not None:
            parts.append(self._partials(deletes, -1))
        if not parts:
            return
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        # one partial-aggregating shuffle over the DELTA only
        sum_aliases = [f"sum_{c}" for c in self.sum_cols]
        delta = delta.groupBy(self.group_col).agg(
            F.sum("n").cast("bigint").alias("n"),
            *[F.sum(a).cast("double").alias(a) for a in sum_aliases],
        )
        # Materialize the aggregated delta ONCE (one row per group in
        # the batch — bounded by group cardinality, never delta size).
        # Without this, every downstream action (read_keys' bucket
        # collect, merge's touched-bucket collect, the generation
        # write) re-scans and re-shuffles the whole micro-batch:
        # profiled at 20 jobs / 2-3 s per warm batch at sf0.1, which
        # is exactly the conf-insensitive floor the r6 tuned bench
        # row exposed. On a failed/lost-executor replay the streaming
        # fence (foreach_batch_ivm) re-runs the batch, so truncated
        # lineage is safe here.
        delta = delta.localCheckpoint(eager=True)

        g = self.group_col
        mm_aliases = [
            f"{agg}_{c}" for c in self.minmax_cols for agg in ("min", "max")
        ]
        mm_cols: list = []
        if self.minmax_cols:
            # inserts merge with least/greatest; deleted groups are
            # overridden by a recompute over base rows of those groups
            ins_mm = None
            if inserts is not None:
                ins_mm = inserts.groupBy(
                    F.col(g).cast("string").alias(g)
                ).agg(
                    *[
                        agg_fn(F.col(c).cast("double")).alias(f"i_{agg}_{c}")
                        for c in self.minmax_cols
                        for agg, agg_fn in (("min", F.min), ("max", F.max))
                    ]
                ).localCheckpoint(eager=True)  # same bound as delta
            re_mm = None
            if deletes is not None:
                del_groups = deletes.select(
                    F.col(g).cast("string").alias(g)
                ).distinct()
                re_mm = (
                    base.withColumn(g, F.col(g).cast("string"))
                    .join(del_groups, g, "left_semi")
                    .groupBy(g)
                    .agg(
                        *[
                            agg_fn(F.col(c).cast("double")).alias(f"r_{agg}_{c}")
                            for c in self.minmax_cols
                            for agg, agg_fn in (("min", F.min), ("max", F.max))
                        ]
                    )
                )
            for c in self.minmax_cols:
                for agg, comb in (("min", F.least), ("max", F.greatest)):
                    a = f"{agg}_{c}"
                    cur_v = F.col(f"c.{a}")
                    ins_v = F.col(f"i.i_{a}") if ins_mm is not None else F.lit(None)
                    fresh = F.coalesce(comb(cur_v, ins_v), cur_v, ins_v)
                    if re_mm is not None:
                        # recomputed value wins for deleted groups —
                        # including NULL-out when the group emptied
                        # (row then dropped by the n<=0 filter anyway)
                        fresh = F.when(
                            F.col("_recomputed"), F.col(f"r.r_{a}")
                        ).otherwise(fresh)
                    mm_cols.append(fresh.alias(a))

        # Pure count/sum views fold with the one-exchange signed-sum
        # specialization (r10); only the minmax split strategy needs
        # the generic join fold below.
        if not self.minmax_cols:
            self.state.fold_merge_sum(
                delta, on=[g], sum_cols=("n", *sum_aliases),
            )
            return

        # fold_merge: the current-state read, the fold arithmetic, and
        # the generation rewrite happen in ONE pass over the touched
        # buckets (one bucket-pruned read + one write per batch —
        # refresh previously paid a second full read for its own
        # pre-merge join; see the floor profile in SCALING.md).
        # Survivor rows (current key with no delta row) flow through
        # with d-side nulls: the coalesce-to-zero arithmetic is an
        # identity on them, and the minmax `fresh` coalesce keeps the
        # current extrema when no insert/recompute row exists.
        def fold(joined: DataFrame) -> DataFrame:
            j = joined
            if self.minmax_cols and inserts is not None:
                j = j.join(F.broadcast(ins_mm.alias("i")), g, "left_outer")
            if self.minmax_cols and deletes is not None:
                j = j.join(
                    re_mm.withColumn("_rec", F.lit(True)).alias("r"),
                    g,
                    "left_outer",
                ).withColumn(
                    "_recomputed", F.coalesce(F.col("r._rec"), F.lit(False))
                )
            elif self.minmax_cols:
                j = j.withColumn("_recomputed", F.lit(False))
            return j.select(
                F.col(g),
                (F.coalesce(F.col("c.n"), F.lit(0))
                 + F.coalesce(F.col("d.n"), F.lit(0))).alias("n"),
                *[
                    (F.coalesce(F.col(f"c.{a}"), F.lit(0.0))
                     + F.coalesce(F.col(f"d.{a}"), F.lit(0.0))).alias(a)
                    for a in sum_aliases
                ],
                *mm_cols,
            )

        self.state.fold_merge(delta, fold, keep=F.col("n") > 0)

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

    _SEP = "\x1f"

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
        schema = f"k string, {group_col} string, {value_col} string, m bigint"
        self.state = BucketedParquetState(
            spark, path, schema, key_col="k", n_buckets=n_buckets
        )

    def _partials(self, delta: DataFrame, sign: int) -> DataFrame:
        g, v = self.group_col, self.value_col
        return (
            delta.select(
                F.col(g).cast("string").alias(g),
                F.col(v).cast("string").alias(v),
            )
            .filter(F.col(v).isNotNull())
            .groupBy(g, v)
            .agg((F.lit(sign) * F.count("*")).cast("bigint").alias("m"))
        )

    def refresh(
        self,
        inserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
    ) -> None:
        parts = []
        if inserts is not None:
            parts.append(self._partials(inserts, +1))
        if deletes is not None:
            parts.append(self._partials(deletes, -1))
        if not parts:
            return
        g, v = self.group_col, self.value_col
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        delta = (
            delta.groupBy(g, v)
            .agg(F.sum("m").cast("bigint").alias("m"))
            .withColumn("k", F.concat_ws(self._SEP, F.col(g), F.col(v)))
        )
        # one-pass fold (same job-count rationale as MaterializedAgg:
        # checkpoint the bounded multiplicity delta once, then a
        # single bucket-pruned state read + rewrite per batch)
        delta = delta.localCheckpoint(eager=True)

        # signed-sum fold: one union+groupBy exchange instead of the
        # generic full_outer join's two-sided shuffle (r10)
        self.state.fold_merge_sum(delta, on=["k", g, v])

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

    Maintenance rules (top-k is a mergeable but non-invertible
    sketch, same split as min/max in :class:`MaterializedAgg`):

    - **inserts only**: ``topk(stored ∪ delta)`` — pure delta work,
      because ``topk(A ∪ B) == topk(topk(A) ∪ B)`` (any row evicted
      from topk(A) is dominated by k better rows that are still
      present). One bucket-pruned read of the affected groups.
    - **any delete in a group**: the stored list may lose a member
      whose runner-up was evicted long ago, so the group is
      recomputed from ``base`` rows of that group alone (semi-join →
      pushed-down group predicate / partition pruning on a
      group-partitioned base). Never a full rescan.

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
        if deletes is not None and base is None:
            raise ValueError(
                "top-k maintenance needs `base` to recompute deleted"
                " groups (evicted runner-ups are unrecoverable)"
            )
        from pyspark.sql import Window

        g = self.group_col
        parts = []
        del_groups = None
        if deletes is not None:
            del_groups = self._norm(deletes).select(g).distinct()
            parts.append(self._norm(base).join(del_groups, g, "left_semi"))
        if inserts is not None:
            ins = self._norm(inserts)
            if del_groups is not None:
                # recompute wins for groups that also saw deletes
                ins = ins.join(del_groups, g, "left_anti")
            current = self.state.read_keys(ins.select(g).distinct())
            parts.append(current.unionByName(ins))
        if not parts:
            return
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        w = Window.partitionBy(g).orderBy(
            F.col(self.score_col).desc(), F.col(self.id_col).asc()
        )
        topk = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.k)
            .drop("_rn")
            # bounded (affected groups × k); checkpoint so the merge's
            # touched-bucket collect, the `gone` anti-join, and the
            # generation write don't each re-run the window over the
            # state read + delta union
            .localCheckpoint(eager=True)
        )
        affected = topk.sparkSession.createDataFrame([], f"{g} string")
        if del_groups is not None:
            affected = affected.unionByName(del_groups)
        if inserts is not None:
            affected = affected.unionByName(
                self._norm(inserts).select(g).distinct()
            )
        gone = affected.distinct().join(
            topk.select(g).distinct(), g, "left_anti"
        )
        self.state.merge(topk, delete_keys=gone)

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

    def __init__(self, spark, path: str):
        import os

        self.spark = spark
        self.path = path
        self._curve = os.path.join(path, "curve")

    def _read_curve(self):
        try:
            return self.spark.read.parquet(self._curve)
        except Exception:
            return None

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

        new_rows = staged.groupBy("g").applyInPandas(
            walk, schema="g string, day long, n long, ewma double"
        )
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

    _SEP = "\x1f"

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
        schema = f"k string, {group_col} string, bucket bigint, cnt bigint"
        self.state = BucketedParquetState(
            spark, path, schema, key_col="k", n_buckets=n_buckets
        )

    def _partials(self, delta: DataFrame, sign: int) -> DataFrame:
        from cocoindex_data_ingestion_spark.operators.sketches import (
            _qsk_bucket_expr,
        )

        g = self.group_col
        return (
            delta.select(
                F.col(g).cast("string").alias(g),
                F.col(self.value_col).alias("_v"),
            )
            .filter(F.col("_v").isNotNull())
            .select(g, F.expr(_qsk_bucket_expr("_v")).alias("bucket"))
            .groupBy(g, "bucket")
            .agg((F.lit(sign) * F.count("*")).cast("bigint").alias("cnt"))
        )

    def refresh(
        self,
        inserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
    ) -> None:
        parts = []
        if inserts is not None:
            parts.append(self._partials(inserts, +1))
        if deletes is not None:
            parts.append(self._partials(deletes, -1))
        if not parts:
            return
        g = self.group_col
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        delta = (
            delta.groupBy(g, "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            .withColumn(
                "k",
                F.concat_ws(self._SEP, F.col(g), F.col("bucket")),
            )
        )
        # bounded delta (groups × touched buckets), checkpointed once
        # — the MaterializedAgg/Distinct job-count rationale
        delta = delta.localCheckpoint(eager=True)

        # signed-sum fold: one union+groupBy exchange instead of the
        # generic full_outer join's two-sided shuffle (r10)
        self.state.fold_merge_sum(
            delta, on=["k", g, "bucket"], sum_cols=("cnt",)
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
            self.state.read().select(self.group_col, "bucket", "cnt"),
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
      keys, current A rows for ΔB's keys) are bucket-pruned
      ``read_keys`` lookups — O(touched keys), never O(side).
    - ``view`` — one row per distinct joined row keyed by the full
      row composite, fold-merged with the signed view delta; rows
      whose multiplicity reaches 0 disappear.

    Cost per refresh: O(|delta| + matching rows of the other side +
    touched buckets). Join keys are cast to string (the family
    convention); NULL keys are dropped (SQL inner-join semantics).
    Payload columns must have disjoint names across the two sides
    (beyond the shared key) and simple (string-castable) types.
    """

    _SEP = "\x1f"
    _NULL = "\x00"  # composite-key sentinel for NULL payload values

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
        import os

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
        reserved = {"k", "m"} & ({key_col} | set(self.a_cols) | set(self.b_cols))
        if reserved:
            raise ValueError(
                f"MaterializedJoin: column names {sorted(reserved)} are"
                f" reserved (composite key 'k', multiplicity 'm')"
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
            f"k string, {key_col} string, {a_schema}, {b_schema},"
            f" m bigint",
            key_col="k", n_buckets=n_buckets,
        )

    # -- signed side deltas ------------------------------------------------

    def _signed(
        self,
        inserts: DataFrame | None,
        deletes: DataFrame | None,
        cols: list[str],
    ) -> tuple[DataFrame, list[int]] | None:
        k = self.key_col
        parts = []
        for df, sign in ((inserts, +1), (deletes, -1)):
            if df is None:
                continue
            parts.append(
                df.select(
                    F.col(k).cast("string").alias(k), *cols
                )
                .filter(F.col(k).isNotNull())
                .groupBy(k, *cols)
                .agg((F.lit(sign) * F.count("*")).cast("bigint").alias("m"))
            )
        if not parts:
            return None
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        delta = (
            delta.groupBy(k, *cols)
            .agg(F.sum("m").cast("bigint").alias("m"))
            .filter(F.col("m") != 0)
        )
        # bounded (distinct delta rows), read several times below —
        # the MaterializedAgg checkpoint rationale
        delta = delta.localCheckpoint(eager=True)
        # the delta's key-bucket set, collected ONCE over the
        # checkpointed rows (r10): both side states share key +
        # bucket count, so this one list serves the delta's own
        # fold_merge AND the other side's pruned read — previously
        # each of those ran its own distinct+collect job
        return delta, self.a_state._touched_buckets(delta)

    def _apply_side(
        self,
        state: BucketedParquetState,
        delta: DataFrame,
        cols: list[str],
        touched: list[int] | None = None,
    ) -> None:
        """Fold a signed delta into a side multiset in ONE state pass:
        ``fold_merge_sum`` unions the touched buckets with the delta
        and groupBy-sums signed multiplicities over the full (key,
        payload...) uniqueness tuple (bucket pruning still runs on the
        join key alone); rows folding to m<=0 disappear by their
        bucket being rewritten without them. (The earlier read_keys +
        checkpoint + merge + gone-anti-join path cost five driver
        actions per side per batch; the generic fold_merge full_outer
        join needed a two-sided shuffle where this is one exchange.)"""
        state.fold_merge_sum(delta, on=[self.key_col, *cols],
                             touched=touched)

    # -- refresh -----------------------------------------------------------

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
        PRE-batch snapshots plus the checkpointed deltas, so the view
        delta no longer waits for the ΔA side fold to commit).

        That unlocks full overlap of the round's driver actions
        (guide §2.6 — each of these jobs is small and leaves the
        cluster mostly idle): the two side-delta checkpoints run
        concurrently, then the ΔA fold, the ΔB fold and the
        view-delta/view-fold chain — three writes to three disjoint
        state directories — run concurrently. ``read_keys`` pins
        concrete generation paths at call time and retained
        generations are never GC'd mid-refresh, so the *_old reads
        stay pre-batch snapshots regardless of commit timing."""
        from concurrent.futures import ThreadPoolExecutor

        k = self.key_col
        pool = ThreadPoolExecutor(max_workers=2)
        try:
            if (a_inserts is not None or a_deletes is not None) and (
                b_inserts is not None or b_deletes is not None
            ):
                fa = pool.submit(
                    self._signed, a_inserts, a_deletes, self.a_cols
                )
                fb = pool.submit(
                    self._signed, b_inserts, b_deletes, self.b_cols
                )
                da_t, db_t = fa.result(), fb.result()
            else:
                da_t = self._signed(a_inserts, a_deletes, self.a_cols)
                db_t = self._signed(b_inserts, b_deletes, self.b_cols)
            if da_t is None and db_t is None:
                return

            # Pin all pre-batch snapshot reads BEFORE any fold
            # commits. Bucket-pruned read() only — read_keys' extra
            # per-key semi-join would be redundant here: each *_old
            # leg is immediately inner-joined on the key anyway.
            dv_parts = []
            if da_t is not None:
                da, da_buckets = da_t
                b_old = self.b_state.read(da_buckets)
                dv_parts.append(
                    da.alias("x")
                    .join(b_old.alias("y"), k)
                    .select(
                        F.col(k), *self.a_cols, *self.b_cols,
                        (F.col("x.m") * F.col("y.m")).alias("m"),
                    )
                )
            if db_t is not None:
                db, db_buckets = db_t
                a_old = self.a_state.read(db_buckets)
                dv_parts.append(
                    a_old.alias("x")
                    .join(db.alias("y"), k)
                    .select(
                        F.col(k), *self.a_cols, *self.b_cols,
                        (F.col("x.m") * F.col("y.m")).alias("m"),
                    )
                )
            if da_t is not None and db_t is not None:
                # the ΔA⋈ΔB cross term, straight off the two
                # checkpointed deltas
                dv_parts.append(
                    da.alias("x")
                    .join(db.alias("y"), k)
                    .select(
                        F.col(k), *self.a_cols, *self.b_cols,
                        (F.col("x.m") * F.col("y.m")).alias("m"),
                    )
                )

            folds = []
            if da_t is not None:
                folds.append(pool.submit(
                    self._apply_side, self.a_state, da, self.a_cols,
                    da_buckets,
                ))
            if db_t is not None:
                folds.append(pool.submit(
                    self._apply_side, self.b_state, db, self.b_cols,
                    db_buckets,
                ))

            dv = dv_parts[0]
            for p in dv_parts[1:]:
                dv = dv.unionByName(p)
            payload = self.a_cols + self.b_cols
            dv = (
                dv.groupBy(k, *payload)
                .agg(F.sum("m").cast("bigint").alias("m"))
                .filter(F.col("m") != 0)
                .withColumn(
                    "k",
                    F.concat_ws(
                        self._SEP,
                        F.col(k),
                        # NULL-vs-missing disambiguation: concat_ws
                        # SKIPS nulls, which would collide
                        # (x, NULL, y) with (x, y, NULL) — coalesce
                        # each payload to a reserved sentinel instead
                        *[
                            F.coalesce(
                                F.col(c).cast("string"), F.lit(self._NULL)
                            )
                            for c in payload
                        ],
                    ),
                )
                .localCheckpoint(eager=True)  # bounded view delta
            )

            # overlaps with the side folds still in flight — the
            # view delta reads only pinned pre-batch generation paths.
            # The view fold is the same signed-sum shape ('k' is a
            # function of (key, payload), so grouping by the full
            # column tuple groups exactly per view row).
            self.view_state.fold_merge_sum(
                dv, on=["k", self.key_col, *payload]
            )
            for f in folds:
                f.result()
        finally:
            pool.shutdown(wait=True)

    def read(self) -> DataFrame:
        """The maintained view: one row per distinct joined row with
        its bag multiplicity ``m`` (== the from-scratch join's
        ``GROUP BY *`` count over the final side states)."""
        return self.view_state.read().select(
            self.key_col, *self.a_cols, *self.b_cols, "m"
        )
