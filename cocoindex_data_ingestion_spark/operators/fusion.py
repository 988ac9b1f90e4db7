"""Result fusion: reciprocal-rank fusion + weighted score merge.

Reference behavior:
- RRF: per-source rank maps, score = Σ 1/(60 + rank), best payload
  per id (app/services/search_service.py:370-423, k=60).
- Weighted merge: w·vector + (1−w)·graph on duplicate ids
  (app/services/search_service.py:502-542, w=0.7).
- Multi-vector fusion: two top-k lists full-outer joined on id,
  linear blend with coalesce(score, 0)
  (app/services/qdrant_service.py:306-388, w=0.5).

Spark-first design: ranks are ``row_number`` over a per-source window
— the inputs are already top-k lists (tiny), so the window sort is
over k·sources rows, never the corpus. Fusion itself is one groupBy
on id. RRF scores are sums of 1/(60+rank) over integer ranks, which
is exactly reproducible across engines (no precision hazard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.functions.compare import (
    stable_round,
    stable_round_spark_sql,
)

RRF_K = 60  # app/services/search_service.py:375


def add_ranks(
    results: DataFrame, source_col: str = "source", id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """1-based rank within each source, deterministic tie-break on id."""
    w = Window.partitionBy(source_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return results.withColumn("rank", F.row_number().over(w))


def rrf_fuse(
    results: DataFrame,
    limit: int = 10,
    rrf_k: int = RRF_K,
    source_col: str = "source",
    id_col: str = "id",
    score_col: str = "score",
    round_to: int = 4,
) -> DataFrame:
    """Fuse ranked lists from several sources into one ranking.

    ``results``: union of per-source ranked lists
    (source, id, score). Output: (id, rrf_score, n_sources).
    """
    ranked = add_ranks(results, source_col, id_col, score_col)
    return (
        ranked.groupBy(id_col)
        .agg(
            stable_round(
                F.sum(1.0 / (F.lit(rrf_k) + F.col("rank"))), round_to
            ).alias("rrf_score"),
            F.countDistinct(source_col).alias("n_sources"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(limit)
    )


def rrf_fuse_legs(
    legs: list[DataFrame],
    limit: int = 10,
    rrf_k: int = RRF_K,
    source_col: str = "source",
    id_col: str = "id",
    score_col: str = "score",
    round_to: int = 4,
) -> DataFrame:
    """RRF over per-source legs, fused in ONE exchange-free tail.

    Identical math to :func:`rrf_fuse` (same ranks, same rounding —
    it shares the DuckDB oracle), restructured for the physical plan:

    - each leg is already a top-k ``orderBy().limit()`` =
      TakeOrderedAndProject, whose output is a SINGLE partition;
      ranking per leg BEFORE the union means the row_number window's
      ClusteredDistribution(source) is already satisfied — no
      exchange, where ranking after the union hash-shuffles on
      source;
    - ``coalesce(1)`` after the union restores SinglePartition for
      the fusion groupBy (legs × k rows — tens), so it too plans
      without an exchange.

    Why it matters: under AQE every exchange is a materialized query
    stage = one scheduler wave; on a warm in-memory corpus the waves
    ARE the latency (measured: indexed_hybrid_rrf 8 jobs → 4, ~1.0 s
    → ~0.5 s at sf0.1). At 100 TB the legs' internal plans still
    shuffle/scan at full parallelism — only the ≤(legs·k)-row fusion
    tail is pinned to one task, which is exactly where a single task
    is optimal."""
    ranked = [
        add_ranks(leg, source_col, id_col, score_col) for leg in legs
    ]
    unioned = ranked[0]
    for r in ranked[1:]:
        unioned = unioned.unionByName(r)
    fused = (
        unioned.coalesce(1)
        .groupBy(id_col)
        .agg(
            stable_round(
                F.sum(1.0 / (F.lit(rrf_k) + F.col("rank"))), round_to
            ).alias("rrf_score"),
            F.countDistinct(source_col).alias("n_sources"),
        )
    )
    if limit is None:
        # caller ranks later (e.g. after a graph append) — still an
        # exchange-free tail, just without the TakeOrdered
        return fused
    return fused.orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    ).limit(limit)


def rrf_fuse_legs_sql(
    legs: list[tuple[str, str, str]],
    limit: int = 10,
    rrf_k: int = RRF_K,
    round_to: int = 4,
) -> str:
    """SQL text of :func:`rrf_fuse_legs` over ``(source, id column,
    leg statement)`` triples, each leg statement a top-k query with
    columns (id column, score): rank per leg, ``UNION ALL``, then
    ``/*+ COALESCE(1) */`` before the fusion groupBy — the same
    exchange-free tail, the same ranks and rounding."""
    ranked = " UNION ALL ".join(
        "SELECT source, id, score, row_number() OVER "
        "(PARTITION BY source ORDER BY score DESC, id ASC) AS rank "
        f"FROM (SELECT '{source}' AS source, `{id_col}` AS id, score FROM ({leg}))"
        for source, id_col, leg in legs
    )
    rrf = stable_round_spark_sql(f"sum(1.0D / ({int(rrf_k)} + rank))", round_to)
    return (
        f"SELECT id, {rrf} AS rrf_score, count(DISTINCT source) AS n_sources "
        f"FROM (SELECT /*+ COALESCE(1) */ * FROM ({ranked})) "
        f"GROUP BY id ORDER BY rrf_score DESC, id ASC LIMIT {int(limit)}"
    )


def rrf_fuse_graph_append(
    legs: list[DataFrame],
    graph_leg: DataFrame,
    limit: int = 10,
    rrf_k: int = RRF_K,
    id_col: str = "id",
    score_col: str = "score",
    round_to: int = 4,
) -> DataFrame:
    """The reference's full ``_fuse_results`` including its graph
    blend (search_service.py:370-423): vector+bm25 candidates RRF-fuse
    over ALL their ids; graph results whose ids are NOT already fused
    are then APPENDED carrying their own score — the reference's
    graph hits score a flat 1.0 (:160), which by construction
    outranks every RRF sum (max ≈ 2/61); that oddity is faithful, not
    a bug here — and one global (score desc, id asc) rank takes the
    top ``limit``.

    Scale shape: the legs are top-k bounded, the graph leg is its own
    bounded traversal result, so the append is an anti-join of two
    k-row frames — nothing corpus-sized reaches the tail."""
    fused = rrf_fuse_legs(
        legs, limit=None, rrf_k=rrf_k, id_col=id_col,
        score_col=score_col, round_to=round_to,
    )
    extra = (
        graph_leg.select(
            F.col(id_col),
            stable_round(F.col(score_col), round_to).alias("rrf_score"),
            F.lit(1).cast("long").alias("n_sources"),
        )
        .join(fused.select(id_col), id_col, "left_anti")
    )
    return (
        fused.unionByName(extra)
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(limit)
    )


def merge_vector_graph(
    vector: DataFrame,
    graph: DataFrame,
    vector_weight: float = 0.7,
    id_col: str = "id",
    score_col: str = "score",
    round_to: int = 4,
) -> DataFrame:
    """The reference's ``_merge_and_rank`` (search_service.py:502-542)
    for the vector+graph source pair: ids present in BOTH sources get
    the weighted blend w·vector + (1−w)·graph; single-source ids keep
    their own score UNCHANGED (unlike :func:`weighted_fuse`, whose
    multi-vector semantics coalesce the missing side to 0 — the two
    reference code paths genuinely differ and both are kept).
    Output: (id, merged_score, n_sources), ranked desc."""
    v = vector.select(F.col(id_col), F.col(score_col).alias("_vs"))
    g = graph.select(F.col(id_col), F.col(score_col).alias("_gs"))
    both = F.col("_vs").isNotNull() & F.col("_gs").isNotNull()
    return (
        v.join(g, id_col, "full_outer")
        .select(
            F.col(id_col),
            stable_round(
                F.when(
                    both,
                    F.lit(vector_weight) * F.col("_vs")
                    + F.lit(1.0 - vector_weight) * F.col("_gs"),
                ).otherwise(F.coalesce(F.col("_vs"), F.col("_gs"))),
                round_to,
            ).alias("merged_score"),
            (
                F.col("_vs").isNotNull().cast("int")
                + F.col("_gs").isNotNull().cast("int")
            ).cast("long").alias("n_sources"),
        )
        .orderBy(F.col("merged_score").desc(), F.col(id_col).asc())
    )


def weighted_fuse(
    left: DataFrame,
    right: DataFrame,
    weight: float = 0.7,
    id_col: str = "id",
    score_col: str = "score",
    limit: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """Linear blend of two score lists on shared ids.

    full-outer join; missing side contributes 0 (reference multi-vector
    fusion semantics, qdrant_service.py:327-362).
    Output: (id, fused_score).
    """
    l = left.select(F.col(id_col), F.col(score_col).alias("_ls"))
    r = right.select(F.col(id_col), F.col(score_col).alias("_rs"))
    return (
        l.join(r, id_col, "full_outer")
        .withColumn(
            "fused_score",
            stable_round(
                F.lit(weight) * F.coalesce(F.col("_ls"), F.lit(0.0))
                + F.lit(1.0 - weight) * F.coalesce(F.col("_rs"), F.lit(0.0)),
                round_to,
            ),
        )
        .orderBy(F.col("fused_score").desc(), F.col(id_col).asc())
        .limit(limit)
        .select(id_col, "fused_score")
    )
