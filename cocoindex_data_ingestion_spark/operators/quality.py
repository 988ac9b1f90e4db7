"""Corpus quality filters for pretraining-data pipelines.

The reference scores entity/text quality with length/stopword/format
heuristics (app/utils/entity_quality.py:94-267); this module carries
the same idea to the corpus level with the two standard pretraining
filter families:

- **Repetition filters** (Gopher, Rae et al. 2021 §A1.1): documents
  dominated by a single repeated n-gram, with a high duplicate-n-gram
  share, or containing long same-token runs are machine-generated /
  boilerplate signals and get dropped before training.
- **Unigram log-probability** (perplexity-proxy, CCNet-style): score
  each document by the mean negative log-probability of its tokens
  under the corpus unigram distribution; far-from-typical documents
  (gibberish or exotic boilerplate) surface at the high-NLL tail
  without shipping a language model into the engine.

Scale shape (100 TB): everything is explode → lead-window n-gram
construction (whole-stage codegen, no higher-order-function lambdas —
the same lesson as curation.decontaminate) followed by aggregations
keyed by ``doc_id`` (or by the tiny vocabulary, which is then
broadcast). No all-pairs joins, no collects, one token-level exchange
per metric family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.functions.compare import (
    stable_avg,
    stable_round,
)
from cocoindex_data_ingestion_spark.functions.text import tokenize

# Gopher-flavored keep thresholds, calibrated on the synthetic corpus
# so both keep and drop classes are populated (the published
# thresholds — e.g. top-2-gram fraction <= 0.20 — target natural
# prose; the synthetic word-salad corpus is intentionally more
# repetitive).
TOP_BIGRAM_MAX = 0.12
DUP_TRIGRAM_MAX = 0.05
MAX_RUN_MAX = 2


def _positions(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, token) rows, 1-based position, codegen tokenizer."""
    return docs.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("pos0", "token")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "token")


def repetition_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition metrics + keep/drop decision.

    Returns ``(id, n_tokens, top_bigram_frac, dup_trigram_frac,
    max_run, keep)``:

    - ``top_bigram_frac`` — fraction of tokens covered by the single
      most frequent word 2-gram (``2 · count(top bigram) / n_tokens``),
      the Gopher "top n-gram fraction" family;
    - ``dup_trigram_frac`` — ``1 − distinct/total`` word 3-grams, the
      "duplicate n-grams" family;
    - ``max_run`` — longest run of the same token repeated
      consecutively (gap-and-island via ``pos − row_number`` per
      (doc, token): constant within a run);
    - ``keep`` — all three under their thresholds.

    Plan: ONE posexplode; bigrams/trigrams built with ``lead`` windows
    over (doc, pos) so gram construction stays in codegen; three
    doc-keyed aggregations joined on ``id`` (each with map-side
    partial aggregation — at any corpus size only per-doc rows cross
    the final exchange).
    """
    pos = _positions(docs, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy("pos")
    g = pos.select(
        F.col(id_col),
        F.col("pos"),
        F.col("token"),
        F.lead("token", 1).over(w).alias("t1"),
        F.lead("token", 2).over(w).alias("t2"),
    )

    n_toks = pos.groupBy(id_col).agg(F.count("*").alias("n_tokens"))

    bigrams = g.filter(F.col("t1").isNotNull()).select(
        id_col, F.concat_ws(" ", "token", "t1").alias("g2")
    )
    top_big = (
        bigrams.groupBy(id_col, "g2")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bigram_count"))
    )

    trigrams = g.filter(F.col("t2").isNotNull()).select(
        id_col, F.concat_ws(" ", "token", "t1", "t2").alias("g3")
    )
    tri = trigrams.groupBy(id_col).agg(
        F.count("*").alias("tri_total"),
        F.countDistinct("g3").alias("tri_distinct"),
    )

    run_w = Window.partitionBy(id_col, "token").orderBy("pos")
    runs = (
        pos.withColumn("grp", F.col("pos") - F.row_number().over(run_w))
        .groupBy(id_col, "token", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy(id_col)
        .agg(F.max("run_len").alias("max_run"))
    )

    out = (
        n_toks.join(top_big, id_col, "left")
        .join(tri, id_col, "left")
        .join(runs, id_col, "left")
    )
    n = F.col("n_tokens").cast("double")
    top_frac = stable_round(
        F.coalesce(F.lit(2.0) * F.col("top_bigram_count") / n, F.lit(0.0)), 4
    )
    dup_frac = stable_round(
        F.coalesce(
            F.lit(1.0) - F.col("tri_distinct") / F.col("tri_total").cast("double"),
            F.lit(0.0),
        ),
        4,
    )
    max_run = F.coalesce(F.col("max_run"), F.lit(0)).cast("long")
    return out.select(
        F.col(id_col),
        F.col("n_tokens"),
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_trigram_frac"),
        max_run.alias("max_run"),
        (
            (top_frac <= TOP_BIGRAM_MAX)
            & (dup_frac <= DUP_TRIGRAM_MAX)
            & (max_run <= MAX_RUN_MAX)
        ).alias("keep"),
    )


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Mean negative log-probability of each document's tokens under
    the corpus unigram distribution (CCNet-style perplexity proxy).

    Returns ``(id, n_tokens, avg_nll)``; high ``avg_nll`` = atypical
    for the corpus (filter tail or route to review).

    Plan: pass 1 aggregates the corpus vocabulary (tiny — bounded by
    vocabulary size, not corpus size) with the total folded in as a
    window-free broadcast scalar; pass 2 broadcast-joins token rows to
    their frequencies and aggregates per doc. The token stream crosses
    exactly one exchange (the per-doc aggregation), and the vocabulary
    broadcast is the classic dimension-table pattern.
    """
    pos = _positions(docs, id_col, text_col)
    vocab = pos.groupBy("token").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("tot"))
    vocab = vocab.crossJoin(F.broadcast(total)).select(
        "token", (-F.log(F.col("cnt") / F.col("tot"))).alias("nll")
    )
    return (
        pos.join(F.broadcast(vocab), "token")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            stable_avg(F.col("nll"), 4).alias("avg_nll"),
        )
    )


BIGRAM_LAMBDA = 0.8  # interpolation weight on the bigram MLE


def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = BIGRAM_LAMBDA,
) -> DataFrame:
    """Interpolated bigram LM score per document (the order-2 shape
    of CCNet's KenLM perplexity filter):

        p(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}·)
                           + (1−λ)·(c(w_i)+1)/(T+V)

    with the unigram backoff add-1 smoothed over the corpus
    vocabulary. Returns ``(id, n_transitions, avg_nll)`` over each
    doc's token transitions (docs with <2 tokens drop out — no
    transitions to score).

    Scale shape: transitions come from one lead() pass over the
    token stream (single shuffle on id); the bigram/context count
    tables are corpus-vocabulary-sized aggregates joined back on
    the *per-doc distinct transition* rows (multiplicity folded into
    an integer ``k``), so the expensive joins carry Σ|distinct
    bigrams per doc| rows, not the raw token stream. The per-doc
    average is fixed-point (order-independent).
    """
    pos = _positions(docs, id_col, text_col)
    uni = pos.groupBy("token").agg(F.count("*").alias("cnt"))
    totv = uni.agg(
        F.sum("cnt").alias("tot"), F.count("*").alias("v")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    trans = (
        pos.withColumn("nxt", F.lead("token").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(id_col, F.col("token").alias("prev"), F.col("nxt").alias("cur"))
    )
    bi = trans.groupBy("prev", "cur").agg(F.count("*").alias("c_bi"))
    ctx = trans.groupBy("prev").agg(F.count("*").alias("c_ctx"))
    dt = trans.groupBy(id_col, "prev", "cur").agg(F.count("*").alias("k"))
    nll = (
        dt.join(bi, ["prev", "cur"])
        .join(ctx, "prev")
        .join(uni.withColumnRenamed("token", "cur"), "cur")
        .crossJoin(F.broadcast(totv))
        .select(
            F.col(id_col),
            F.col("k"),
            (
                -F.log(
                    F.lit(lam) * (F.col("c_bi").cast("double") / F.col("c_ctx"))
                    + F.lit(1 - lam)
                    * ((F.col("cnt") + 1.0) / (F.col("tot") + F.col("v")))
                )
            ).alias("nll"),
        )
    )
    q = F.floor(F.col("nll") * F.lit(1e6) + F.lit(0.5)).cast("long")
    return nll.groupBy(id_col).agg(
        F.sum("k").alias("n_transitions"),
        stable_round(
            (F.sum(F.col("k") * q) / F.lit(1e6)) / F.sum("k"), 4
        ).alias("avg_nll"),
    )


def line_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 15,
    round_to: int = 4,
) -> DataFrame:
    """Line-level boilerplate audit (the C4/RefinedWeb line rules):
    per document, how many lines are too short, bullet items,
    ALL-CAPS, or trail off with an ellipsis — the signals a line
    filter strips and a doc filter thresholds on.

    Shape: explode lines → one codegen'd conditional-aggregate pass
    (map-side combined, one shuffle on the doc id). No lambdas — the
    per-line predicates are plain Column expressions, so the whole
    scan stays in whole-stage codegen at any corpus size.

    Returns (id, n_lines, n_short, n_bullet, n_caps, n_ellipsis,
    boilerplate_ratio) where a line is boilerplate if ANY rule fires;
    blank lines are excluded from the universe.
    """
    line = F.trim(F.col("line"))
    short = F.length(line) < min_line_chars
    bullet = line.rlike(r"^[-*•·]")
    caps = (line == F.upper(line)) & line.rlike("[A-Za-z]")
    ellipsis = line.rlike(r"(\.\.\.|…)$")
    boiler = short | bullet | caps | ellipsis
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), r"\n")).alias("line"),
    ).filter(F.length(line) > 0)
    return lines.groupBy("id").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(short, True)).alias("n_short"),
        F.count(F.when(bullet, True)).alias("n_bullet"),
        F.count(F.when(caps, True)).alias("n_caps"),
        F.count(F.when(ellipsis, True)).alias("n_ellipsis"),
        stable_round(
            F.count(F.when(boiler, True)) / F.count("*").cast("double"),
            round_to,
        ).alias("boilerplate_ratio"),
    )


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC'20): rank
    every document by its LM negative log-likelihood (here the corpus
    unigram proxy from :func:`unigram_logprob`) and cut the ranking
    into ``n_buckets`` equal-frequency tiers — head (most typical),
    middle, tail. Downstream pipelines keep head+middle or sample the
    tail.

    The global rank uses the ``as_ltable`` partition-offset shape
    (range repartition + per-partition row_number + broadcast
    offsets), NOT a no-partition window — rank assignment stays
    distributed at any corpus size. bucket = floor(rank·B / N).

    Returns one row per bucket: ``(bucket, label, n_docs,
    bucket_avg_nll)``, bucket ascending. Docs with zero content
    tokens have no NLL and are excluded (both engines)."""
    from cocoindex_data_ingestion_spark.datamodel import as_ltable

    # two consumers (rank + total) — materialize the NLL table once
    nll = (
        unigram_logprob(docs, id_col, text_col)
        .select(id_col, "avg_nll")
        .localCheckpoint(eager=False)
    )
    ranked = as_ltable(nll, ["avg_nll", id_col], pos_col="_pos")
    total = nll.agg(F.count("*").alias("_total"))
    bucket = F.floor(
        F.col("_pos") * F.lit(n_buckets) / F.col("_total")
    ).cast("long")
    label = (
        F.when(F.col("bucket") == 0, F.lit("head"))
        .when(F.col("bucket") == n_buckets - 1, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(bucket.alias("bucket"), F.col("avg_nll"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            stable_avg(F.col("avg_nll"), round_to).alias("bucket_avg_nll"),
        )
        .withColumn("label", label)
        .select("bucket", "label", "n_docs", "bucket_avg_nll")
        .orderBy("bucket")
    )
