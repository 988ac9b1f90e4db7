"""Prebuilt search indexes: the production path for the query surface.

The ad-hoc operators (bm25_search, knn) recompute postings/norms from
the raw corpus inside every query — correct, but at 100 TB the index
must be *built once and pruned at query time*, exactly like the
reference's externalized indexes (Qdrant collections, Postgres GIN):

- ``build_search_index`` writes:
  - ``postings/``  parquet partitioned by token → a term lookup is
    partition pruning (reads only the query terms' files);
  - ``doclens/``   per-doc token counts;
  - ``stats/``     (n_docs, avgdl) one row;
  - ``vectors/``   embeddings + precomputed L2 norm, parquet
    partitioned by sign-LSH signature → ANN probes read only the
    query's bucket partition.
- ``indexed_bm25`` / ``indexed_knn`` / ``indexed_knn_exact`` answer
  queries from those layouts. Results are IDENTICAL to the ad-hoc
  operators (same math, same rounding) — the DuckDB oracles are
  shared.

A search request is ONE parameterized ``spark.sql`` statement over
per-layout views (:func:`bm25_statement`, :func:`knn_statement`),
not a Column-operator chain: in PySpark 4.1 every Column operator
costs about 5 gateway round trips (``getActiveSession``, the
``PySparkCurrentOrigin`` set/clear pair, the conf read, the call), so
a hybrid request built from Columns made ~1,400 Py4J calls and spent
half its latency building a plan that runs no Spark job. The
statement text is the same expression tree in the same order (every
double literal ``D``-suffixed, because Spark SQL reads ``0.5`` as
DECIMAL), so scores are unchanged. Query terms are bound as named
parameters, never spliced into the text, and so is the query vector:
one string parameter ``:qvec`` of ``repr``-formatted doubles, read as
``CAST(split(:qvec, ',') AS ARRAY<DOUBLE>)``. Catalyst folds that to
the same array literal the spliced ``D`` literals gave (``repr`` ->
``Double.parseDouble`` round-trips every finite double) without
parsing each component twice per k-NN text; an empty vector, NaN
and infinities are refused with ``ValueError``.

A request runs as one Spark job. The BM25 leg coalesces its pruned
postings scan to one partition (``/*+ COALESCE(1) */``) when the whole
postings layout is at most ``_COALESCE_MAX_BYTES`` (64 MB, below the
measured ~80 MB crossover), so its ``GROUP BY`` needs no exchange; a
larger layout keeps the exchange and its parallel scan.

At cluster scale the same layout is a Delta/Iceberg table with
bucketing on token / z-order on signature; partition pruning is what
turns O(corpus) per query into O(result).
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.functions.parallel import spread_python_stage

from cocoindex_data_ingestion_spark.functions.localrel import local_df

from cocoindex_data_ingestion_spark.functions.compare import (
    spark_double,
    stable_round,
    stable_round_spark_sql,
    stable_sum,
    stable_sum_spark_sql,
)
from cocoindex_data_ingestion_spark.functions.similarity import dot
from cocoindex_data_ingestion_spark.functions.text import bm25_tokens
from cocoindex_data_ingestion_spark.memo import forget, memo
from cocoindex_data_ingestion_spark.operators.bm25 import B, K1
from cocoindex_data_ingestion_spark.operators.vector_search import lsh_signature


POSTINGS_BUCKETS = 64  # token-hash partition count of the postings layout

# Largest postings layout whose BM25 leg runs as one coalesced task
# (bm25_statement). Measured on synthetic Zipf postings written by the
# build's own path, local[4] on a 4-vCPU VM, median warm request, three
# query terms, exchange -> coalesced: 1.9 MB 77 -> 59 ms (rare terms),
# 66 MB 87 -> 79 (rare) and 256 -> 193 (common), 82 MB 78 -> 78 (rare),
# 101 MB 80 -> 87 (rare), 394 MB 112 -> 173, 1 GB 210 -> 418 (rare).
# Rare-term requests lose from ~80 MB on, because one task then reads
# every pruned bucket file in turn; common-term requests still gain at
# 1 GB (3,228 -> 3,076 ms), their shuffle costing more than the
# parallel scan saves. 64 MB keeps every measured request shape ahead.
_COALESCE_MAX_BYTES = 64 << 20


def _token_bucket(token: Column, n_buckets: int = POSTINGS_BUCKETS) -> Column:
    # crc32 == zlib.crc32, so the query side can compute the same
    # bucket driver-side (static partition pruning) without Spark
    return F.pmod(F.crc32(token.cast("binary")), F.lit(n_buckets))


def _token_buckets_py(terms: list[str], n_buckets: int = POSTINGS_BUCKETS) -> list[int]:
    import zlib

    return sorted({zlib.crc32(t.encode("utf-8")) % n_buckets for t in terms})


# Resolved-layout readers and index descriptors live in the session
# memo: spark.read.parquet pays file listing + schema inference as
# driver-side jobs at DEFINITION time (~0.2 s per layout on
# local[32]), which dominated warm indexed-query latency (3-4 layout
# reads per hybrid query). Keys are ("layout", path, ...) so build
# functions forget their index_dir prefix after writing, and a
# rebuilt layout is never served from a stale file listing.
def read_layout(spark: SparkSession, path: str) -> DataFrame:
    return memo(spark, ("layout", path), lambda: spark.read.parquet(path))


def invalidate_layout(path_prefix: str) -> None:
    forget(lambda k: k[0] == "layout" and k[1].startswith(path_prefix))


def _layout_view(spark: SparkSession, path: str) -> str:
    """Qualified name of a global temp view over the layout's memoized
    reader, registered once per layout (global, so every session of
    the application sees it, as it sees the memo). A rebuilt layout's
    ``invalidate_layout`` drops the name with the reader; the next
    request re-registers it over a fresh listing."""

    def build() -> str:
        name = "layout_" + hashlib.sha1(path.encode()).hexdigest()[:16]
        read_layout(spark, path).createOrReplaceGlobalTempView(name)
        return f"`{spark.conf.get('spark.sql.globalTempDatabase')}`.`{name}`"

    return memo(spark, ("layout", path, "view"), build)


def _layout_bytes(spark: SparkSession, path: str) -> int:
    """On-disk size of a layout: the file listing's byte sum the
    optimizer's statistics carry (no job runs), once per layout."""
    return memo(spark, ("layout", path, "bytes"), lambda: int(
        read_layout(spark, path)._jdf.queryExecution().optimizedPlan()
        .stats().sizeInBytes()
    ))


def _stats_scalars(spark: SparkSession, index_dir: str) -> tuple[int, float]:
    """Corpus stats (one row), read once per session and layout."""
    path = f"{index_dir}/stats"

    def build() -> tuple[int, float]:
        row = read_layout(spark, path).first()
        return int(row["n_docs"]), float(row["avgdl"])

    return memo(spark, ("layout", path, "scalars"), build)


def _centroid_rows(spark: SparkSession, index_dir: str) -> list:
    path = f"{index_dir}/centroids"
    return memo(
        spark, ("layout", path, "rows"),
        lambda: read_layout(spark, path).collect(),
    )


def _resolve_qvec(query_vec) -> list:
    """Query vector as driver-side floats: pass-through for a plain
    list (the warm-service path — zero jobs), one-row collect for a
    DataFrame with column ``qvec``."""
    if isinstance(query_vec, (list, tuple)):
        return [float(x) for x in query_vec]
    return [float(x) for x in query_vec.select("qvec").first()["qvec"]]


def _qvec_df_of(spark: SparkSession, query_vec) -> DataFrame:
    """One-row ``qvec`` DataFrame: passthrough for a DataFrame, a
    LocalRelation for a plain list (no parquet scan, no resolve
    job — the warm-service path)."""
    if isinstance(query_vec, (list, tuple)):
        return local_df(
            spark, [([float(x) for x in query_vec],)], "qvec array<float>"
        )
    return query_vec


def _qvec_sql(vals: list) -> str:
    return "array(" + ",".join(spark_double(x) for x in vals) + ")"


# the query vector as it appears in a statement: the one bound string
# parameter :qvec (see _qvec_param), folded to an array<double> literal
_QVEC_PARAM_SQL = "CAST(split(:qvec, ',') AS ARRAY<DOUBLE>)"


def _qvec_param(vals: list) -> str:
    """Value of ``:qvec``: the doubles' ``repr``s joined by commas.
    A string cast would read ``nan``/``inf`` silently (a ``D`` literal
    failed to parse), and ``''`` would fail as a cast, so an empty
    vector and non-finite components are refused here."""
    if not vals:
        raise ValueError("query vector is empty")
    if not all(map(math.isfinite, vals)):
        raise ValueError("query vector has a NaN or infinite component")
    return ",".join(repr(float(x)) for x in vals)


def _qvec_literal(vals: list) -> Column:
    """array<double> literal built in ONE expression parse — the
    per-element ``F.array(*[F.lit(x)...])`` form costs a py4j round
    trip per component (~50 ms for 64 dims)."""
    return F.expr(_qvec_sql(vals))


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _dot_sql(a: str, b: str) -> str:
    """Spark SQL twin of ``similarity.dot`` (same operand order)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def build_search_index(
    docs: DataFrame,
    embeddings: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_bits: int = 8,
    n_buckets: int = POSTINGS_BUCKETS,
    ivf_stride: int | None = None,
    ivf_n_cells: int | None = None,
    ivf_assign: str = "expr",
    pq: bool = False,
    pq_m: int = 16,
    pq_k: int = 16,
    pq_sub_d: int = 4,
    pq_encode: str = "numpy",
    positions: bool = False,
) -> None:
    """One pass over the corpus → queryable index layout on disk.

    Postings are DENORMALIZED (each row carries its doc's length and
    its token's document frequency) and partitioned by
    ``crc32(token) % n_buckets``:

    - bounded partition count → directory listing stays O(n_buckets)
      no matter the vocabulary size (per-token dirs would be millions
      of object-store prefixes at 100 TB);
    - a query reads only its terms' buckets (static pruning) and the
      token equality predicate pushes into parquet row-group stats
      (sorted within partitions by token);
    - dl/df in-row → query-time scoring needs NO join against the
      corpus-sized doclens table — one pruned read, one small groupBy.
    """
    from cocoindex_data_ingestion_spark.functions.text import (
        is_content_token, tokenize,
    )

    toks = docs.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("token")
    ).filter(is_content_token("token"))
    # ONE corpus tokenize pass (r11, guide §1.4/§6): the postings
    # aggregate feeds FOUR consumers (doclens write, df table, the
    # denormalized postings write, the avgdl scalar) across separate
    # actions — without the checkpoint each action re-tokenized the
    # corpus (ReuseExchange only dedups within one query). The
    # checkpointed frame is the narrow (id, token, tf) projection,
    # orders of magnitude smaller than the text it derives from —
    # materializing it is exactly what the layout build writes anyway.
    postings = (
        toks.groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )

    dls = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dls.write.mode("overwrite").parquet(f"{index_dir}/doclens")

    dfs = postings.groupBy("token").agg(F.countDistinct(id_col).alias("df"))
    denorm = (
        postings.join(dls, id_col)
        .join(dfs, "token")  # vocabulary-sized — let AQE pick the strategy
        .withColumn("tbucket", _token_bucket(F.col("token"), n_buckets))
    )
    (
        denorm.repartition("tbucket")
        .sortWithinPartitions("token", id_col)
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(f"{index_dir}/postings")
    )

    n_docs = docs.count()
    spark = docs.sparkSession
    stats = local_df(
        spark, [(n_docs,)], "n_docs long"
    ).crossJoin(dls.agg(F.avg("dl").alias("avgdl")))
    stats.write.mode("overwrite").parquet(f"{index_dir}/stats")

    from cocoindex_data_ingestion_spark.functions.similarity import l2_norm

    # norm + LSH signature computed ONCE for both vector layouts: the
    # flat layout (exact scans, no small-files overhead) is written
    # first, and the sig-partitioned layout (ANN partition pruning) is
    # written from a re-read of it — a durable source, unlike a
    # checkpoint pinning every embedding on the executors. The read
    # takes the written frame's schema, so no inference job runs.
    vectors = embeddings.select(
        F.col(vec_id_col),
        F.col(vec_col),
        l2_norm(vec_col).alias("norm"),
        lsh_signature(vec_col, lsh_bits).alias("sig"),
    )
    vectors.write.mode("overwrite").parquet(f"{index_dir}/vectors")
    spark.read.schema(vectors.schema).parquet(
        f"{index_dir}/vectors"
    ).write.mode("overwrite").partitionBy("sig").parquet(
        f"{index_dir}/vectors_lsh"
    )
    invalidate_layout(index_dir)
    if ivf_stride is not None or ivf_n_cells is not None:
        build_ivf_layout(
            embeddings, index_dir, stride=ivf_stride, n_cells=ivf_n_cells,
            vec_id_col=vec_id_col, vec_col=vec_col, assign=ivf_assign,
        )
    if pq:
        build_pq_layout(
            embeddings, index_dir, m=pq_m, cb_k=pq_k, sub_d=pq_sub_d,
            vec_id_col=vec_id_col, vec_col=vec_col, encode=pq_encode,
        )
    if pq and (ivf_stride is not None or ivf_n_cells is not None):
        build_ivfpq_codes(embeddings.sparkSession, index_dir, vec_id_col)
    if positions:
        build_positions_layout(
            docs, index_dir, id_col=id_col, text_col=text_col,
            n_buckets=n_buckets,
        )


def build_ivfpq_codes(
    spark: SparkSession, index_dir: str, vec_id_col: str = "vec_id"
) -> None:
    """IVF-PQ composite (the canonical FAISS IVFADC layout): the PQ
    byte codes re-partitioned by their vector's IVF cell so the ADC
    scan is cell-PRUNED — a query reads ~nprobe/K of 1/16th-sized
    data. Requires the ``vectors_ivf`` and ``pq_codes`` layouts."""
    codes = spark.read.parquet(f"{index_dir}/pq_codes")
    cells = spark.read.parquet(f"{index_dir}/vectors_ivf").select(
        vec_id_col, "cent_id"
    )
    (
        codes.join(cells, vec_id_col)
        .repartition("cent_id")
        .write.mode("overwrite")
        .partitionBy("cent_id")
        .parquet(f"{index_dir}/pq_codes_ivf")
    )
    invalidate_layout(index_dir)


def build_ivf_layout(
    embeddings: DataFrame,
    index_dir: str,
    stride: int | None = 64,
    n_cells: int | None = None,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "expr",
) -> None:
    """IVF index layout: the amortized home of the O(N·K) centroid
    assignment that ``vector_search.ivf_knn`` otherwise pays per
    query.

    - ``centroids/``    K rows (cent_id, cvec) — broadcast-sized;
    - ``vectors_ivf/``  the corpus + precomputed norm, parquet
      partitioned by assigned ``cent_id`` → a query's nprobe cells
      become static partition pruning, reading ~nprobe/K of the data.

    ``n_cells`` (when given) overrides ``stride`` with
    ``ceil(N / n_cells)`` so K stays FIXED as the corpus grows —
    a constant stride makes K grow with N and turns the O(N·K)
    assignment quadratic (measured: 842 s at 100k vectors with
    stride=37). Real IVF sizes K ~ sqrt(N); pass that as n_cells.

    ``assign``: ``"expr"`` uses the interpreted-HOF expression cosine
    (bit-identical to the DuckDB oracle — the correctness path);
    ``"numpy"`` runs an Arrow-batched BLAS argmax (~100× per pair —
    the 100 TB build path). The two can disagree on cell membership
    only when a vector is within ~1 ulp of equidistant between two
    centroids (SIMD summation order); equivalence-tested on the
    fixture corpus."""
    from cocoindex_data_ingestion_spark.functions.similarity import l2_norm
    from cocoindex_data_ingestion_spark.operators.vector_search import (
        ivf_assign, ivf_centroids,
    )

    if n_cells is not None:
        n = embeddings.count()
        stride = max(1, -(-n // n_cells))
    cents = ivf_centroids(embeddings, stride, vec_col, vec_id_col)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    if assign == "numpy":
        assigned = _ivf_assign_numpy(embeddings, cents, vec_col, vec_id_col)
    else:
        assigned = ivf_assign(embeddings, cents, vec_col, vec_id_col)
    (
        assigned.select(
            F.col(vec_id_col),
            F.col(vec_col),
            l2_norm(vec_col).alias("norm"),
            "cent_id",
        )
        .write.mode("overwrite")
        .partitionBy("cent_id")
        .parquet(f"{index_dir}/vectors_ivf")
    )
    invalidate_layout(index_dir)


def _ivf_assign_numpy(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vectorized nearest-centroid assignment: one BLAS matmul per
    Arrow batch against the driver-collected centroid matrix
    (centroids are broadcast-sized by construction). Ties resolve to
    the lowest cent_id (centroid matrix sorted by cent_id; argmax
    returns the first maximum)."""
    import numpy as np
    import pandas as pd

    cents = centroids.orderBy("cent_id").collect()
    C = np.stack([np.asarray(r["cvec"], dtype=np.float64) for r in cents])
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = np.inf
    cids = np.array([r["cent_id"] for r in cents], dtype=np.int64)

    elem_t = df.schema[vec_col].dataType.simpleString()
    id_t = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_t}, {vec_col} {elem_t}, cent_id long"

    def _assign(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mn = np.linalg.norm(m, axis=1)
            mn[mn == 0] = np.inf
            sims = (m @ C.T) / mn[:, None] / cn[None, :]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cent_id": cids[sims.argmax(axis=1)],
                }
            )

    return spread_python_stage(
        df.select(id_col, vec_col), id_col
    ).mapInPandas(_assign, schema)


def indexed_bm25(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    round_to: int = 4,
) -> DataFrame:
    """BM25 from the prebuilt index: one bucket-pruned postings read
    (dl/df carried in-row — no joins); the two corpus scalars
    (n_docs, avgdl) are read once per index and inlined as LITERALS —
    an index descriptor a service holds in memory, not a per-query
    broadcast stage (each AQE broadcast materialization is a
    scheduler wave, and on a warm index the waves are the latency).
    No corpus scan, no tokenization. Arithmetic is identical to the
    broadcast form: n_docs stays integral, avgdl stays the stored
    double."""
    return spark.sql(*bm25_statement(
        spark, index_dir, query_terms, k=k, id_col=id_col, k1=k1, b=b,
        round_to=round_to,
    ))


def bm25_statement(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    round_to: int = 4,
) -> tuple[str, dict[str, str]]:
    """SQL text and named parameters of :func:`indexed_bm25`. The
    bucket list is static partition pruning, the token IN-list (terms
    bound as ``:t0, :t1, ...``) pushes into parquet row-group stats;
    an empty term list reads nothing (``IN ()`` is not SQL).

    When the whole postings layout is at most ``_COALESCE_MAX_BYTES``,
    the scan is coalesced to one partition (``/*+ COALESCE(1) */``): its
    ``SinglePartition`` output satisfies the ``GROUP BY``, so the leg
    aggregates in its scan stage and a request is one job of one
    stage. A larger layout keeps the hash exchange, and with it a
    parallel scan of the pruned bucket files."""
    qterms = list(dict.fromkeys(t.lower() for t in query_terms))
    n_docs, avgdl = _stats_scalars(spark, index_dir)
    args = {f"t{i}": t for i, t in enumerate(qterms)}
    if qterms:
        buckets = ", ".join(map(str, _token_buckets_py(qterms)))
        where = f"tbucket IN ({buckets}) AND token IN ({', '.join(':' + p for p in args)})"
    else:
        where = "false"
    i = _ident(id_col)
    idf = f"ln(((({int(n_docs)} - df) + 0.5D) / (df + 0.5D)) + 1.0D)"
    # the Column form's `k1 * (1 - b + b * dl / avgdl)` analyzed as
    # `((dl * b) / avgdl + (1 - b)) * k1`: a Python scalar on the left
    # of a Column operator lands on its right
    d = spark_double
    term_score = (
        f"({idf} * (tf * {d(k1 + 1)})) / "
        f"(tf + ((((dl * {d(b)}) / {d(avgdl)}) + {d(1 - b)}) * {d(k1)}))"
    )
    # same order-independent fixed-point sum as bm25.bm25_search —
    # keeps the shared DuckDB oracle bit-identical
    score = stable_round_spark_sql(stable_sum_spark_sql("term_score", 6), round_to)
    postings = f"{index_dir}/postings"
    hint = (
        "/*+ COALESCE(1) */ "
        if _layout_bytes(spark, postings) <= _COALESCE_MAX_BYTES else ""
    )
    text = (
        f"SELECT {i}, {score} AS score FROM ("
        f"SELECT {hint}{i}, {term_score} AS term_score "
        f"FROM {_layout_view(spark, postings)} WHERE {where}) "
        f"GROUP BY {i} ORDER BY score DESC, {i} ASC LIMIT {int(k)}"
    )
    return text, args


def _query_postings(
    spark: SparkSession,
    index_dir: str,
    qterms: list[str],
    n_buckets: int = POSTINGS_BUCKETS,
) -> DataFrame:
    """Pruned postings read for a term list: static partition pruning
    on the crc32 token bucket + a token IN-list that parquet pushes
    into row-group stats (postings are token-sorted per bucket)."""
    return read_layout(spark, f"{index_dir}/postings").filter(
        F.col("tbucket").isin(_token_buckets_py(qterms, n_buckets))
        & F.col("token").isin(qterms)
    )


def indexed_keyword_overlap(
    spark: SparkSession,
    index_dir: str,
    candidates: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """``|distinct_tokens(doc) ∩ query_terms|`` per candidate, answered
    from the token-partition-pruned postings index.

    The ad-hoc rerank re-tokenizes the *whole corpus* to build each
    doc's distinct-token set (reranker_service.py:17-62 does the same
    against a doc cache); at scale that's an O(corpus) pass per query.
    Postings already ARE the distinct (doc, token) pairs, so the
    overlap count is one pruned read of the query terms' partitions +
    a count per doc — O(query-term postings), identical result
    (postings and ``bm25_tokens`` share the tokenizer + content
    filter, functions/text.py)."""
    qterms = list(dict.fromkeys(t.lower() for t in query_terms))
    postings = _query_postings(spark, index_dir, qterms)
    overlap = postings.groupBy(id_col).agg(F.count("*").alias("n_overlap"))
    return candidates.join(overlap, id_col, "left").withColumn(
        "n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0))
    )


def indexed_rerank(
    spark: SparkSession,
    index_dir: str,
    candidates: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    score_col: str = "score",
    boost: float = 0.1,
    round_to: int = 4,
) -> DataFrame:
    """Keyword-overlap rerank (reranker_service.py:17-62 fallback
    scorer: ``score * (1 + 0.1 * overlap)``) served from the index.
    Returns (id_col, rerank_score) top-k."""
    with_ov = indexed_keyword_overlap(
        spark, index_dir, candidates, query_terms, id_col=id_col
    )
    return (
        with_ov.select(
            id_col,
            stable_round(
                F.col(score_col) * (1.0 + boost * F.col("n_overlap")), round_to
            ).alias("rerank_score"),
        )
        .orderBy(F.col("rerank_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _scored_vectors(
    vectors: DataFrame, query_vec: Column, id_col: str, round_to: int
) -> DataFrame:
    cos = F.when(
        (F.col("norm") > 0),
        dot(F.col("embedding"), query_vec)
        / (F.col("norm") * F.sqrt(dot(query_vec, query_vec))),
    ).otherwise(F.lit(0.0))
    return vectors.withColumn("score", stable_round(cos, round_to))


def indexed_knn(
    spark: SparkSession,
    index_dir: str,
    query_vec_df: DataFrame,
    k: int = 10,
    lsh_bits: int = 8,
    id_col: str = "vec_id",
    exact: bool = False,
    round_to: int = 4,
    multiprobe: int = 0,
) -> DataFrame:
    """Top-k from the vector index. ``exact=False`` probes ONLY the
    query's LSH-signature partition; ``exact`` scans the flat layout
    (norms still precomputed).

    ``query_vec_df``: one row with column ``qvec``. The query vector
    is resolved driver-side (a search request is a literal) so the
    signature is a compile-time constant — that is what makes the
    partition filter STATIC pruning (``PartitionFilters: [sig =
    '...']``) instead of a per-row post-scan filter.

    ``multiprobe`` > 0 enumerates every signature within that Hamming
    distance of the query's (1 + lsh_bits buckets at distance 1, plus
    C(lsh_bits, 2) at distance 2, ...) into a literal IN list, so the
    recall/scan-fraction dial STAYS static partition pruning
    (``PartitionFilters: [sig IN (...)]``) — no post-scan predicate,
    no extra shuffle, just more partitions read.

    ``query_vec_df`` may also be a plain ``list[float]`` (a service
    holds the request vector in memory): that skips the resolve job
    entirely on the warm path."""
    return spark.sql(*knn_statement(
        spark, index_dir, query_vec_df, k=k, lsh_bits=lsh_bits, id_col=id_col,
        exact=exact, round_to=round_to, multiprobe=multiprobe,
    ))


def knn_statement(
    spark: SparkSession,
    index_dir: str,
    query_vec_df,
    k: int = 10,
    lsh_bits: int = 8,
    id_col: str = "vec_id",
    exact: bool = False,
    round_to: int = 4,
    multiprobe: int = 0,
) -> tuple[str, dict[str, str]]:
    """SQL text and named parameters of :func:`indexed_knn`. The query
    vector is the one string parameter ``:qvec`` (:func:`_qvec_param`;
    ``ValueError`` if it is empty or not finite), cast to
    ``array<double>`` where the statement uses it; the probe
    signatures (strings of ``0``/``1`` derived from it) are an IN list
    on the ``sig`` partition column.

    The query norm stays ``sqrt(dot(q, q))`` in SQL rather than a
    driver-computed double: a per-request double literal lands in the
    generated code, so every request would compile a new class, while
    the folded array is a reference the generated code reads."""
    qvec_vals = _resolve_qvec(query_vec_df)
    args = {"qvec": _qvec_param(qvec_vals)}
    if exact:
        source = _layout_view(spark, f"{index_dir}/vectors")
    else:
        qsig = "".join("1" if x > 0 else "0" for x in qvec_vals[:lsh_bits])
        probe_sigs = [qsig]
        for d in range(1, multiprobe + 1):
            for flips in itertools.combinations(range(lsh_bits), d):
                s = list(qsig)
                for j in flips:
                    s[j] = "1" if s[j] == "0" else "0"
                probe_sigs.append("".join(s))
        sigs = ", ".join(f"'{s}'" for s in probe_sigs)
        source = (
            f"{_layout_view(spark, f'{index_dir}/vectors_lsh')} WHERE sig IN ({sigs})"
        )
    q = _QVEC_PARAM_SQL
    cos = (
        f"CASE WHEN norm > 0 THEN {_dot_sql('embedding', q)} / "
        f"(norm * sqrt({_dot_sql(q, q)})) ELSE 0.0D END"
    )
    i = _ident(id_col)
    text = (
        f"SELECT {i}, score FROM (SELECT *, {stable_round_spark_sql(cos, round_to)} AS score "
        f"FROM {source} ORDER BY score DESC, {i} ASC LIMIT {int(k)})"
    )
    return text, args


def _rank_probe_cells(
    spark: SparkSession,
    index_dir: str,
    query_vec_df: DataFrame,
    nprobe: int,
) -> tuple[list[float], list]:
    """Driver-side nprobe centroid ranking shared by the IVF and
    IVF-PQ query paths: K centroid rows collected, cosine in the same
    left-to-right double arithmetic as the expression path, cent_id
    tie-break. Returns (query vector values, probe cell ids) — the
    probe list becomes a compile-time IN filter, i.e. static
    partition pruning."""
    qvec_vals = _resolve_qvec(query_vec_df)

    def _dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    qn = math.sqrt(_dot(qvec_vals, qvec_vals))
    scored_cents = []
    for r in _centroid_rows(spark, index_dir):
        cv = [float(x) for x in r["cvec"]]
        cn = math.sqrt(_dot(cv, cv))
        sim = _dot(cv, qvec_vals) / (cn * qn) if cn > 0 and qn > 0 else 0.0
        scored_cents.append((sim, r["cent_id"]))
    scored_cents.sort(key=lambda t: (-t[0], t[1]))
    return qvec_vals, [cid for _sim, cid in scored_cents[:nprobe]]


def indexed_knn_ivf(
    spark: SparkSession,
    index_dir: str,
    query_vec_df: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    round_to: int = 4,
) -> DataFrame:
    """IVF top-k from the prebuilt ``vectors_ivf`` layout.

    The nprobe nearest centroids are ranked DRIVER-side (K centroid
    rows; same left-to-right double arithmetic as the expression
    cosine, cent_id tie-break) so the cell filter is a compile-time
    constant — static partition pruning (``PartitionFilters:
    [cent_id IN (...)]``), reading ~nprobe/K of the corpus. Identical
    results to ``vector_search.ivf_knn`` (shared DuckDB oracle)."""
    qvec_vals, probe_ids = _rank_probe_cells(
        spark, index_dir, query_vec_df, nprobe
    )
    vectors = read_layout(spark, f"{index_dir}/vectors_ivf").filter(
        F.col("cent_id").isin(probe_ids)
    )
    scored = _scored_vectors(vectors, _qvec_literal(qvec_vals), id_col, round_to)
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "score")
    )


def build_pq_layout(
    embeddings: DataFrame,
    index_dir: str,
    m: int = 16,
    cb_k: int = 16,
    sub_d: int = 4,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode: str = "numpy",
    dist_round: int = 6,
) -> None:
    """PQ index layout: the amortized home of the per-query corpus
    encode that ``vector_search.pq_knn`` otherwise pays.

    - ``pq_codebook/``  m·cb_k rows (subspace, code_id, cw) —
      broadcast-sized;
    - ``pq_codes/``     one (id, subspace, code) byte-code row per
      vector per subspace — 16 one-byte codes per vector at the
      default geometry, a 16x read-reduction vs raw vectors; flat
      parquet (ADC scans ALL codes by design — the compressed domain
      IS the pruning).

    ``encode="numpy"`` is the BLAS build path; ``"expr"`` matches the
    DuckDB oracle term-for-term (same contract as build_ivf_layout)."""
    from cocoindex_data_ingestion_spark.operators.vector_search import (
        pq_codebook, pq_encode, pq_encode_numpy,
    )

    cb = pq_codebook(embeddings, m, cb_k, sub_d, vec_col, vec_id_col)
    cb.write.mode("overwrite").parquet(f"{index_dir}/pq_codebook")
    spark = embeddings.sparkSession
    cb_saved = spark.read.parquet(f"{index_dir}/pq_codebook")
    if encode == "numpy":
        codes = pq_encode_numpy(
            embeddings, cb_saved, m, sub_d, vec_col, vec_id_col, dist_round
        )
    else:
        codes = pq_encode(
            embeddings, cb_saved, m, sub_d, vec_col, vec_id_col, dist_round
        )
    codes.write.mode("overwrite").parquet(f"{index_dir}/pq_codes")
    invalidate_layout(index_dir)


def indexed_knn_pq(
    spark: SparkSession,
    index_dir: str,
    query_vec_df: DataFrame,
    k: int = 10,
    candidates: int = 100,
    sub_d: int = 4,
    id_col: str = "vec_id",
    round_to: int = 4,
    dist_round: int = 6,
) -> DataFrame:
    """PQ top-k from the prebuilt code layout: broadcast the query's
    (subspace, code) distance table, one scan of the byte codes for
    ADC ranking, exact cosine rerank of the top ``candidates``
    against the flat vector layout — identical results to
    ``vector_search.pq_knn`` (shared DuckDB oracle), with the corpus
    encode amortized into the index build."""
    from cocoindex_data_ingestion_spark.functions.compare import stable_sum
    from cocoindex_data_ingestion_spark.operators.vector_search import l2_sq
    from cocoindex_data_ingestion_spark.operators.vector_search import knn

    query_vec_df = _qvec_df_of(spark, query_vec_df)
    cb = read_layout(spark, f"{index_dir}/pq_codebook")
    codes = read_layout(spark, f"{index_dir}/pq_codes")
    qsub = query_vec_df.select(F.col("qvec").cast("array<double>").alias("qv"))
    qdist = (
        cb.crossJoin(F.broadcast(qsub))
        .select(
            "subspace",
            "code_id",
            F.slice(F.col("qv"), F.col("subspace") * sub_d + 1, sub_d).alias("qsv"),
            "cw",
        )
        .withColumn("qd", l2_sq(F.col("qsv"), F.col("cw")))
        .select("subspace", "code_id", "qd")
    )
    adist = (
        codes.join(
            F.broadcast(qdist),
            (codes["subspace"] == qdist["subspace"])
            & (codes["code"] == qdist["code_id"]),
        )
        .groupBy(id_col)
        .agg(stable_sum(F.col("qd"), dist_round).alias("ad"))
    )
    cand_ids = adist.orderBy(F.col("ad").asc(), F.col(id_col).asc()).limit(
        candidates
    )
    vectors = read_layout(spark, f"{index_dir}/vectors")
    cand = vectors.join(F.broadcast(cand_ids.select(id_col)), id_col)
    return knn(
        cand.crossJoin(F.broadcast(query_vec_df.select("qvec"))),
        F.col("qvec"),
        k=k,
        id_col=id_col,
        round_to=round_to,
    )


def indexed_knn_ivfpq(
    spark: SparkSession,
    index_dir: str,
    query_vec_df: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    candidates: int = 50,
    sub_d: int = 4,
    id_col: str = "vec_id",
    round_to: int = 4,
    dist_round: int = 6,
) -> DataFrame:
    """IVF-PQ composite query (FAISS IVFADC, re-expressed as static
    partition pruning + a compressed-domain scan):

    1. rank nprobe cells driver-side (K-bounded) — compile-time cell
       filter;
    2. ADC-score ONLY the probed cells' byte codes
       (``pq_codes_ivf/`` is partitioned by cent_id, so the scan
       reads ~nprobe/K of 1/16th-sized data — the multiplicative
       pruning neither index achieves alone);
    3. exact cosine rerank of the top ``candidates`` against the
       probed cells of the flat layout (cell-pruned again).

    Exactly the PQ ranking restricted to the IVF candidate set, so
    the DuckDB oracle is the PQ oracle with the IVF assign/probe CTEs
    composed in."""
    from cocoindex_data_ingestion_spark.functions.compare import stable_sum
    from cocoindex_data_ingestion_spark.operators.vector_search import l2_sq

    query_vec_df = _qvec_df_of(spark, query_vec_df)
    qvec_vals, probe_ids = _rank_probe_cells(
        spark, index_dir, query_vec_df, nprobe
    )
    cb = read_layout(spark, f"{index_dir}/pq_codebook")
    qsub = query_vec_df.select(F.col("qvec").cast("array<double>").alias("qv"))
    qdist = (
        cb.crossJoin(F.broadcast(qsub))
        .select(
            "subspace",
            "code_id",
            F.slice(F.col("qv"), F.col("subspace") * sub_d + 1, sub_d).alias(
                "qsv"
            ),
            "cw",
        )
        .withColumn("qd", l2_sq(F.col("qsv"), F.col("cw")))
        .select("subspace", "code_id", "qd")
    )
    codes = read_layout(spark, f"{index_dir}/pq_codes_ivf").filter(
        F.col("cent_id").isin(probe_ids)
    )
    adist = (
        codes.join(
            F.broadcast(qdist),
            (codes["subspace"] == qdist["subspace"])
            & (codes["code"] == qdist["code_id"]),
        )
        .groupBy(id_col)
        .agg(stable_sum(F.col("qd"), dist_round).alias("ad"))
    )
    cand_ids = adist.orderBy(F.col("ad").asc(), F.col(id_col).asc()).limit(
        candidates
    )
    vectors = read_layout(spark, f"{index_dir}/vectors_ivf").filter(
        F.col("cent_id").isin(probe_ids)
    )
    cand = vectors.join(F.broadcast(cand_ids.select(id_col)), id_col)
    scored = _scored_vectors(cand, _qvec_literal(qvec_vals), id_col, round_to)
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "score")
    )


class IncrementalVectorIndex:
    """IVF vector index maintained under insert/delete deltas — the
    index-freshness story a live ingestion pipeline needs (the batch
    ``build_ivf_layout`` rebuilds the world; a 100 TB corpus takes
    deltas).

    Centroids are FIXED at construction (re-training is a rebuild by
    contract — same as every production IVF: FAISS/Milvus re-train
    offline and swap). Because assignment is a pure function of
    (vector, centroids), delta rows can always be routed to their
    cell without consulting the existing index, so:

    - **insert**: assign the delta (BLAS or expression path), merge
      into the affected cells only (bucket-pruned read + rewrite via
      the OCC manifest state — multi-writer safe).
    - **delete**: rows carry their vectors; assignment recovers each
      row's cell deterministically, so only those cells are touched.
      No corpus scan, no id→cell sidecar.
    - **query**: nprobe nearest cells → bucket-pruned read of just
      those cells → exact cosine top-k. With ``n_buckets`` sized to
      the cell count this is the same pruning the static layout gets
      from parquet partitioning.

    The maintained state is row-equivalent to a fresh
    ``build_ivf_layout`` over the live rows (pinned in
    test_operators), which is why the DuckDB oracle for the
    registered query is the plain IVF SQL over the final row set.
    """

    def __init__(
        self,
        spark,
        path: str,
        centroids: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_buckets: int = 32,
        assign: str = "expr",
    ):
        from cocoindex_data_ingestion_spark.plans.incremental import (
            BucketedParquetState,
        )

        self.spark = spark
        self.vec_col, self.id_col, self.assign_mode = vec_col, id_col, assign
        self.centroids = centroids.select(
            "cent_id", F.col("cvec").cast("array<double>").alias("cvec")
        ).localCheckpoint(eager=True)
        schema = (
            f"cent_id string, {id_col} long, {vec_col} array<double>, "
            "norm double"
        )
        self.state = BucketedParquetState(
            spark, path, schema, key_col="cent_id", n_buckets=n_buckets
        )

    def _assigned(self, df: DataFrame) -> DataFrame:
        from cocoindex_data_ingestion_spark.functions.similarity import l2_norm
        from cocoindex_data_ingestion_spark.operators.vector_search import (
            ivf_assign,
        )

        d = df.select(
            F.col(self.id_col).cast("long").alias(self.id_col),
            F.col(self.vec_col).cast("array<double>").alias(self.vec_col),
        )
        if self.assign_mode == "numpy":
            a = _ivf_assign_numpy(d, self.centroids, self.vec_col, self.id_col)
        else:
            a = ivf_assign(d, self.centroids, self.vec_col, self.id_col)
        return a.select(
            F.col("cent_id").cast("string").alias("cent_id"),
            self.id_col,
            self.vec_col,
            l2_norm(self.vec_col).alias("norm"),
        )

    def refresh(
        self, inserts: DataFrame | None = None, deletes: DataFrame | None = None
    ) -> None:
        """Fold a delta batch in. ``deletes`` rows must carry their
        vectors (assignment recovers the cell)."""
        ins = self._assigned(inserts) if inserts is not None else None
        dels = self._assigned(deletes) if deletes is not None else None
        cells = None
        for part in (ins, dels):
            if part is not None:
                c = part.select("cent_id").distinct()
                cells = c if cells is None else cells.unionByName(c).distinct()
        if cells is None:
            return
        current = self.state.read_keys(cells)
        if dels is not None:
            current = current.join(
                dels.select(self.id_col), self.id_col, "left_anti"
            )
        new_rows = (
            current.unionByName(ins) if ins is not None else current
        )
        # every touched cell is a delete key: a cell with new rows is
        # replaced by them, and only a cell left empty goes
        self.state.merge(new_rows, delete_keys=cells)

    def query(
        self,
        qvec_df: DataFrame,
        k: int = 10,
        nprobe: int = 3,
        qvec_col: str = "qvec",
        round_to: int | None = 4,
    ) -> DataFrame:
        """nprobe-cell exact top-k: probes chosen by centroid cosine
        (cent_id tie-break), candidates read bucket-pruned."""
        from cocoindex_data_ingestion_spark.functions.similarity import (
            cosine_sim,
        )
        from cocoindex_data_ingestion_spark.operators.vector_search import knn

        probes = (
            self.centroids.crossJoin(F.broadcast(qvec_df))
            .withColumn("_cs", cosine_sim(F.col("cvec"), F.col(qvec_col)))
            .orderBy(F.col("_cs").desc(), F.col("cent_id").asc())
            .limit(nprobe)
            .select(F.col("cent_id").cast("string").alias("cent_id"))
        )
        cand = self.state.read_keys(probes)
        return knn(
            cand.crossJoin(F.broadcast(qvec_df)),
            F.col(qvec_col),
            k=k,
            vec_col=self.vec_col,
            id_col=self.id_col,
            round_to=round_to,
        )


def indexed_bm25_weighted(
    spark: SparkSession,
    index_dir: str,
    weighted_terms: list[tuple[str, float]],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    round_to: int = 4,
) -> DataFrame:
    """Weighted-term BM25 from the prebuilt index: per-term weights
    scale each term's contribution; the term list drives the same
    bucket pruning as :func:`indexed_bm25` (terms are literal query
    parameters, so the probe is static partition pruning + an IN-list
    pushed into row-group stats)."""
    terms = [t.lower() for t, _w in weighted_terms]
    wdf = local_df(
        spark, [(t.lower(), float(w)) for t, w in weighted_terms],
        "token string, w double",
    )
    postings = _query_postings(spark, index_dir, terms)
    stats = read_layout(spark, f"{index_dir}/stats")
    scored = (
        postings.join(F.broadcast(wdf), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .withColumn(
            "term_score",
            F.col("w")
            * F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy(id_col)
        .agg(stable_round(stable_sum(F.col("term_score"), 6), round_to).alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "score")
    )


def indexed_bm25_prf(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    query_terms: list[str],
    fb_docs: int = 10,
    n_terms: int = 5,
    beta: float = 0.5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RM3 pseudo-relevance feedback served from the index — the
    scale path for ``bm25.prf_expansion_terms`` + weighted rescore
    (the ad-hoc twin re-tokenizes the corpus twice; documented-weak).

    Stage cost: base retrieval = one bucket-pruned postings read;
    expansion statistics = re-tokenizing ONLY the ``fb_docs``
    feedback documents (a pushed-down id predicate over the corpus —
    row-group pruned, k docs of text); rescore = a second pruned
    postings read for original + expansion terms. The ≤ (|q| +
    n_terms) expansion terms are collected to the driver — they ARE
    the second stage's query parameters (same bounded-collect
    contract as the 1-row query vector), which is what lets them
    drive static partition pruning.
    """
    from cocoindex_data_ingestion_spark.functions.text import (
        is_content_token, tokenize,
    )

    qterms = list(dict.fromkeys(t.lower() for t in query_terms))
    base = indexed_bm25(spark, index_dir, qterms, k=fb_docs, id_col=id_col)
    fb_ids = base.select(id_col)
    expansion = (
        docs.join(F.broadcast(fb_ids), id_col)
        .select(F.explode(tokenize(text_col)).alias("token"))
        .filter(is_content_token("token") & ~F.col("token").isin(qterms))
        .groupBy("token")
        .agg(F.count("*").alias("w_tf"))
        .orderBy(F.col("w_tf").desc(), F.col("token").asc())
        .limit(n_terms)
        .collect()
    )
    weighted = [(t, 1.0) for t in qterms] + [
        (r["token"], float(beta)) for r in expansion
    ]
    return indexed_bm25_weighted(spark, index_dir, weighted, k=k, id_col=id_col)


class SegmentedPostingsIndex:
    """Incrementally-maintained BM25 index, Lucene-segment shape:
    each insert batch becomes an immutable SEGMENT (postings
    partitioned by token bucket + a doc-length table + a one-row
    stats ledger entry); deletes append doc tombstones plus a
    negative ledger entry. Queries stay correct and pruned at every
    point — no rebuild, ever; ``compact()`` folds segments +
    tombstones back into one.

    Why this shape at 100 TB: postings must stay token-bucketed for
    query pruning, but a bucketed-merge state keyed by token would
    rewrite nearly the whole index per batch (any sizable batch
    touches most of the vocabulary). Immutable segments make a
    refresh O(batch); the query-side cost is reading each segment's
    (pruned) term buckets — bounded by segment count, which
    compaction controls. Exactly Lucene/Tantivy's contract,
    re-expressed as parquet + DataFrames.

    Correctness of scoring under deletes: df for the query's terms is
    computed from the retrieved (live) postings themselves — cheap
    because they are already term-pruned; n_docs and avgdl come from
    the ledger (segment sums minus tombstoned docs' contributions),
    so scores equal an ad-hoc BM25 over the live corpus (the
    registered oracle checks precisely that).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark, self.path = spark, path
        os.makedirs(f"{path}/segments", exist_ok=True)
        os.makedirs(f"{path}/tombstones", exist_ok=True)
        os.makedirs(f"{path}/ledger", exist_ok=True)

    # -- maintenance -------------------------------------------------------

    def _segment_dirs(self) -> list[str]:
        root = f"{self.path}/segments"
        return sorted(
            f"{root}/{d}" for d in os.listdir(root)
            if os.path.isdir(f"{root}/{d}")
        )

    def _next_name(self, prefix: str) -> str:
        import uuid

        return f"{prefix}_{len(os.listdir(f'{self.path}/segments')):05d}_{uuid.uuid4().hex[:6]}"

    def add_segment(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = POSTINGS_BUCKETS,
        check_unique: bool = True,
    ) -> None:
        """One pass over the batch → an immutable segment.

        CONTRACT: a doc_id may be live (non-tombstoned) in at most ONE
        segment. Violating it double-counts the doc in search()'s
        doclens join and the ledger's n_docs while dfreq counts it
        once — silently skewed scores. Updates go delete_docs → add.
        Enforced by default with one doclens-only scan (doclens are
        (doc_id, dl) pairs — tiny next to postings); pass
        ``check_unique=False`` on bulk loads whose ids are disjoint by
        construction."""
        from cocoindex_data_ingestion_spark.functions.text import (
            is_content_token, tokenize,
        )

        segs = self._segment_dirs()
        if check_unique and segs:
            ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
            live = None
            for s in segs:
                d = self.spark.read.parquet(f"{s}/doclens").select("doc_id")
                live = d if live is None else live.unionByName(d)
            tomb = self._tombstones()
            if tomb is not None:
                live = live.join(tomb, "doc_id", "left_anti")
            dup = live.join(F.broadcast(ids), "doc_id").limit(1).collect()
            if dup:
                raise ValueError(
                    f"doc_id {dup[0]['doc_id']} is already live in a "
                    "segment; delete_docs before re-adding"
                )

        seg = f"{self.path}/segments/{self._next_name('seg')}"
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokenize(text_col)).alias("token"),
        ).filter(is_content_token("token"))
        postings = toks.groupBy("doc_id", "token").agg(
            F.count("*").alias("tf")
        )
        # doclens cover EVERY doc (dl=0 for token-free ones): deletes
        # must be able to decrement the all-docs count, and BM25's idf
        # uses n_docs over ALL docs while avgdl averages only docs
        # with >= 1 token (the ad-hoc oracle's exact semantics)
        dls = (
            docs.select(F.col(id_col).alias("doc_id"))
            .distinct()
            .join(
                postings.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
                "doc_id",
                "left",
            )
            .select("doc_id", F.coalesce("dl", F.lit(0)).alias("dl"))
        )
        (
            postings.withColumn("tbucket", _token_bucket(F.col("token"), n_buckets))
            .repartition("tbucket")
            .sortWithinPartitions("token", "doc_id")
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(f"{seg}/postings")
        )
        dls.write.mode("overwrite").parquet(f"{seg}/doclens")
        led = dls.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count(F.when(F.col("dl") > 0, True)).cast("long").alias("n_docs_tok"),
            F.sum("dl").cast("long").alias("total_dl"),
        )
        led.write.mode("append").parquet(f"{self.path}/ledger")

    def delete_docs(self, doc_ids: DataFrame, id_col: str = "doc_id") -> None:
        """Tombstone a set of doc ids (idempotent per id). The
        negative ledger entry uses the docs' stored lengths, read
        from the (small) per-segment doclens tables."""
        ids = doc_ids.select(F.col(id_col).alias("doc_id")).distinct()
        # subtract only ids not already tombstoned (idempotence)
        existing = self._tombstones()
        if existing is not None:
            ids = ids.join(existing, "doc_id", "left_anti")
        dls = None
        for seg in self._segment_dirs():
            d = self.spark.read.parquet(f"{seg}/doclens")
            dls = d if dls is None else dls.unionByName(d)
        if dls is None:
            return
        gone = dls.join(F.broadcast(ids), "doc_id")
        led = gone.agg(
            (-F.count("*")).cast("long").alias("n_docs"),
            (-F.count(F.when(F.col("dl") > 0, True))).cast("long").alias("n_docs_tok"),
            (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("total_dl"),
        )
        ids.write.mode("append").parquet(f"{self.path}/tombstones")
        led.write.mode("append").parquet(f"{self.path}/ledger")

    def _tombstones(self) -> DataFrame | None:
        root = f"{self.path}/tombstones"
        if not any(f.endswith(".parquet") for f in os.listdir(root)):
            return None
        return self.spark.read.parquet(root).distinct()

    # -- query -------------------------------------------------------------

    def search(
        self,
        query_terms: list[str],
        k: int = 10,
        k1: float = K1,
        b: float = B,
        round_to: int = 4,
        n_buckets: int = POSTINGS_BUCKETS,
    ) -> DataFrame:
        qterms = list(dict.fromkeys(t.lower() for t in query_terms))
        buckets = _token_buckets_py(qterms, n_buckets)
        post = None
        for seg in self._segment_dirs():
            p = self.spark.read.parquet(f"{seg}/postings").filter(
                F.col("tbucket").isin(buckets) & F.col("token").isin(qterms)
            )
            post = p if post is None else post.unionByName(p)
        if post is None:
            return self.spark.createDataFrame([], "doc_id long, score double")
        tomb = self._tombstones()
        if tomb is not None:
            post = post.join(F.broadcast(tomb), "doc_id", "left_anti")
        ledger = self.spark.read.parquet(f"{self.path}/ledger").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_docs_tok").alias("n_docs_tok"),
            F.sum("total_dl").alias("total_dl"),
        )
        stats = ledger.select(
            "n_docs",
            (F.col("total_dl").cast("double") / F.col("n_docs_tok")).alias("avgdl"),
        )
        # dl per matching doc: Σ tf of that doc's postings is NOT dl
        # (only query terms present) — read dl from the doclens tables
        # of each segment, pruned to the matched docs
        dls = None
        for seg in self._segment_dirs():
            d = self.spark.read.parquet(f"{seg}/doclens")
            dls = d if dls is None else dls.unionByName(d)
        matched = post.select("doc_id").distinct()
        dls = dls.join(F.broadcast(matched), "doc_id")
        dfreq = post.groupBy("token").agg(
            F.countDistinct("doc_id").alias("df")
        )
        scored = (
            post.join(F.broadcast(dfreq), "token")
            .join(dls, "doc_id")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "idf",
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                ),
            )
            .withColumn(
                "term_score",
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
            )
            .groupBy("doc_id")
            .agg(
                stable_round(stable_sum(F.col("term_score"), 6), round_to).alias(
                    "score"
                )
            )
        )
        return (
            scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .select("doc_id", "score")
        )

    # -- compaction --------------------------------------------------------

    def compact(self, n_buckets: int = POSTINGS_BUCKETS) -> None:
        """Fold all segments + tombstones into one segment (the
        background merge). Ledger is rewritten from the surviving
        doc-length table, tombstones cleared."""
        import shutil

        segs = self._segment_dirs()
        if not segs:
            return
        post = None
        dls = None
        for seg in segs:
            p = self.spark.read.parquet(f"{seg}/postings")
            d = self.spark.read.parquet(f"{seg}/doclens")
            post = p if post is None else post.unionByName(p)
            dls = d if dls is None else dls.unionByName(d)
        tomb = self._tombstones()
        if tomb is not None:
            post = post.join(F.broadcast(tomb), "doc_id", "left_anti")
            dls = dls.join(F.broadcast(tomb), "doc_id", "left_anti")
        new_root = f"{self.path}/segments_new"
        shutil.rmtree(new_root, ignore_errors=True)
        seg = f"{new_root}/{self._next_name('compacted')}"
        (
            post.repartition("tbucket")
            .sortWithinPartitions("token", "doc_id")
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(f"{seg}/postings")
        )
        dls_out = dls.localCheckpoint(eager=True)
        dls_out.write.mode("overwrite").parquet(f"{seg}/doclens")
        led = dls_out.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count(F.when(F.col("dl") > 0, True)).cast("long").alias("n_docs_tok"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_dl"),
        )
        # Crash-safe swap: every replacement is fully WRITTEN before
        # any live directory is touched, and the cutover is a chain of
        # renames — never a delete-then-write. Each intermediate state
        # is consistent: after the segments swap, the OLD ledger still
        # sums to the live-doc totals (its negative delete entries
        # cancel the tombstoned docs the compaction dropped) and the
        # old tombstones anti-join ids that no longer exist, which is
        # a no-op. A crash at any point leaves a searchable index.
        import uuid as _uuid

        led.write.mode("overwrite").parquet(f"{self.path}/ledger_new")
        os.makedirs(f"{self.path}/tombstones_new", exist_ok=True)
        trash = f"{self.path}/_trash_{_uuid.uuid4().hex[:8]}"
        os.makedirs(trash)
        os.rename(f"{self.path}/segments", f"{trash}/segments")
        os.rename(new_root, f"{self.path}/segments")
        os.rename(f"{self.path}/tombstones", f"{trash}/tombstones")
        os.rename(f"{self.path}/tombstones_new", f"{self.path}/tombstones")
        os.rename(f"{self.path}/ledger", f"{trash}/ledger")
        os.rename(f"{self.path}/ledger_new", f"{self.path}/ledger")
        shutil.rmtree(trash, ignore_errors=True)


def build_positions_layout(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = POSTINGS_BUCKETS,
) -> None:
    """Positional postings layout: ``(token, doc_id, pos)`` rows
    partitioned by ``crc32(token) % n_buckets`` and token-sorted
    within partitions — the phrase/proximity companion of the BM25
    postings layout (same bucket discipline, same pruning math:
    a phrase query reads only its terms' buckets, the token IN-list
    pushes into row-group stats).

    Positions are the 0-based posexplode offsets over the FULL token
    stream (phrases contain stopwords; the BM25 layout's
    content-token filter would break adjacency), matching
    bm25.phrase_search so the ad-hoc operator remains this layout's
    correctness oracle.
    """
    from cocoindex_data_ingestion_spark.functions.text import tokenize

    pos = docs.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("pos", "token")
    )
    (
        pos.withColumn("tbucket", _token_bucket(F.col("token"), n_buckets))
        .repartition("tbucket")
        .sortWithinPartitions("token", id_col, "pos")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(f"{index_dir}/positions")
    )
    invalidate_layout(index_dir)


def indexed_phrase(
    spark: SparkSession,
    index_dir: str,
    phrase: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    n_buckets: int = POSTINGS_BUCKETS,
) -> DataFrame:
    """Exact-phrase search from the prebuilt positional layout: each
    term's occurrence list comes from a bucket-pruned read (static
    PartitionFilters + token row-group pushdown — no corpus scan, no
    tokenization), then the same (id, base) equi-join chain as
    bm25.phrase_search: term j must appear at ``base + j``. Ranked by
    phrase frequency, then id."""
    terms = [t.lower() for t in phrase]
    uniq = list(dict.fromkeys(terms))
    pos = read_layout(spark, f"{index_dir}/positions").filter(
        F.col("tbucket").isin(_token_buckets_py(uniq, n_buckets))
        & F.col("token").isin(uniq)
    )
    cur = pos.filter(F.col("token") == terms[0]).select(
        id_col, F.col("pos").alias("base")
    )
    for j, t in enumerate(terms[1:], start=1):
        nxt = pos.filter(F.col("token") == t).select(
            id_col, (F.col("pos") - j).alias("base")
        )
        cur = cur.join(nxt, [id_col, "base"])
    return (
        cur.groupBy(id_col)
        .agg(F.count("*").alias("n_phrase"))
        .orderBy(F.col("n_phrase").desc(), F.col(id_col).asc())
        .limit(k)
    )


def indexed_proximity(
    spark: SparkSession,
    index_dir: str,
    term_a: str,
    term_b: str,
    window: int = 5,
    k: int = 20,
    id_col: str = "doc_id",
    n_buckets: int = POSTINGS_BUCKETS,
) -> DataFrame:
    """Proximity search from the positional layout: documents where
    ``term_a`` and ``term_b`` co-occur within ``window`` tokens (any
    order), ranked by the number of such close pairs — the
    "terms NEAR each other" operator between exact-phrase (order +
    adjacency) and bag-of-words BM25 (no position signal at all).

    Plan: two bucket-pruned occurrence reads (the same static
    pruning as indexed_phrase), an equi-join on the document id with
    the |Δpos| <= window band as a join-time filter — never a
    positions×positions product across documents.
    """
    ta, tb = term_a.lower(), term_b.lower()
    pos = read_layout(spark, f"{index_dir}/positions").filter(
        F.col("tbucket").isin(_token_buckets_py([ta, tb], n_buckets))
        & F.col("token").isin([ta, tb])
    )
    a = pos.filter(F.col("token") == ta).select(id_col, F.col("pos").alias("pa"))
    b = pos.filter(F.col("token") == tb).select(id_col, F.col("pos").alias("pb"))
    pairs = a.join(b, id_col).filter(
        F.abs(F.col("pa") - F.col("pb")) <= window
    )
    return (
        pairs.groupBy(id_col)
        .agg(F.count("*").alias("n_near"))
        .orderBy(F.col("n_near").desc(), F.col(id_col).asc())
        .limit(k)
    )
