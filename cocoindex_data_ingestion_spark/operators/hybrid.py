"""Hybrid search: vector + BM25 (+ graph) fused with RRF.

Reference behavior: ``SearchService.hybrid_search``
(app/services/search_service.py:181-279): embed query once, fan out
to vector search + BM25 (+ graph seed), RRF-fuse (k=60), optional
rerank, top-k.

Spark-first: each leg is an independent small top-k plan; the
fan-out is two plans unioned into one query, and the fusion groupBy
runs over ≤ (legs × k) rows. Nothing here shuffles the corpus: the
vector leg is a TakeOrderedAndProject scan, the BM25 leg touches only
the query terms' postings.

With ``index_dir`` the whole request is one parameterized SQL
statement (indexing.bm25_statement / knn_statement under
fusion.rrf_fuse_legs_sql, their parameters merged), built in a
handful of gateway calls; the Column-operator form of the same plan
made about 1,400. On an index whose postings layout is at most
indexing._COALESCE_MAX_BYTES (64 MB) the BM25 leg aggregates without
an exchange, so the request is one job of one stage; above that size
the leg's aggregate exchange is its own query stage (2 jobs, 3 stages).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.operators.bm25 import bm25_search
from cocoindex_data_ingestion_spark.operators.fusion import (
    rrf_fuse_legs, rrf_fuse_legs_sql,
)
from cocoindex_data_ingestion_spark.operators.vector_search import knn


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_vec: Column,
    query_terms: list[str],
    k: int = 10,
    leg_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_dir: str | None = None,
    query_vec_df: DataFrame | None = None,
) -> DataFrame:
    """Vector leg + BM25 leg → RRF. Returns (id, rrf_score, n_sources).

    ``index_dir`` is the production path: both legs are served from
    the prebuilt layout (operators/indexing.py — token-partition-
    pruned postings, norm-precomputed vectors) so nothing rescans or
    re-tokenizes the corpus at query time. Requires ``query_vec_df``
    (one row, column ``qvec``) because the indexed vector leg resolves
    the query driver-side for static partition pruning. Results are
    identical to the ad-hoc path (same math, same rounding) — the
    ad-hoc legs remain the DuckDB-oracle twins."""
    if index_dir is not None:
        from cocoindex_data_ingestion_spark.operators.indexing import (
            bm25_statement, knn_statement,
        )

        if query_vec_df is None:
            raise ValueError("index_dir fast path requires query_vec_df")
        spark = docs.sparkSession
        bm25_sql, bm25_args = bm25_statement(
            spark, index_dir, query_terms, k=leg_k, id_col=id_col
        )
        vec_sql, vec_args = knn_statement(
            spark, index_dir, query_vec_df, k=leg_k, id_col=vec_id_col,
            exact=True,
        )
        return spark.sql(rrf_fuse_legs_sql(
            [("vector", vec_id_col, vec_sql), ("bm25", id_col, bm25_sql)],
            limit=k,
        ), args={**vec_args, **bm25_args})
    vec_leg = knn(
        embeddings, query_vec, k=leg_k, vec_col=vec_col, id_col=vec_id_col
    ).select(
        F.lit("vector").alias("source"),
        F.col(vec_id_col).alias("id"),
        F.col("score"),
    )
    bm25_leg = bm25_search(
        docs, query_terms, k=leg_k, id_col=id_col, text_col=text_col
    ).select(
        F.lit("bm25").alias("source"),
        F.col(id_col).alias("id"),
        F.col("score"),
    )
    # per-leg ranking + exchange-free fusion tail (fusion.rrf_fuse_legs):
    # both legs end in TakeOrderedAndProject (single partition), so the
    # whole hybrid query is ONE physical plan with no post-leg shuffle
    return rrf_fuse_legs([vec_leg, bm25_leg], limit=k)


def small_to_big(
    child_hits: DataFrame,
    children: DataFrame,
    parents: DataFrame,
    k: int = 5,
    child_id_col: str = "chunk_id",
    parent_col: str = "parent_chunk_id",
    score_col: str = "score",
) -> DataFrame:
    """Small-to-big (parent-context) retrieval: the two-tier
    chunker's reason to exist (two_tier_chunker.py:26-43 —
    ``parent_chunk_id`` / parent-context fields; match on precise
    child chunks, return the broader parent for prompting).

    ``child_hits``: top-leg child results (child_id, score) from any
    scorer (BM25/knn over the child tier). ``children``: the child
    table mapping child id → parent id. ``parents``: the parent tier
    (parent id, document id, parent_index, parent_text).

    Semantics: a parent is ranked by its BEST child's score (not the
    sum — three weak children must not outrank one precise hit);
    ties break on parent id. ``n_child_hits`` reports how many of
    the leg's children collapsed into each parent.

    Scale shape: child_hits is already top-k bounded, so the dedup
    windows run over ≤ leg_k rows. Both corpus-sized inputs are
    probed with the small side explicitly broadcast: the child→parent
    mapping join broadcasts the leg_k-row ``child_hits`` (hinted, not
    AQE-dependent), and the final ``parents`` fetch broadcasts the
    k-row ranked frame — at 100 TB neither tier is ever shuffled."""
    from pyspark.sql import Window

    hits = F.broadcast(child_hits).join(
        children.select(child_id_col, parent_col), child_id_col
    )
    w_parent = Window.partitionBy(parent_col).orderBy(
        F.col(score_col).desc(), F.col(child_id_col).asc()
    )
    best = (
        hits.withColumn("rn", F.row_number().over(w_parent))
        .withColumn(
            "n_child_hits", F.count("*").over(Window.partitionBy(parent_col))
        )
        .filter(F.col("rn") == 1)
    )
    w_rank = Window.orderBy(F.col(score_col).desc(), F.col(parent_col).asc())
    ranked = (
        best.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            "rank",
            parent_col,
            F.col(score_col).alias("best_child_score"),
            F.col(child_id_col).alias("best_child_id"),
            "n_child_hits",
        )
    )
    return parents.join(F.broadcast(ranked), parent_col)
