"""Round-6 tests: ANN-defaults floor invariant, LPA cache scoping,
and the round-6 operators (small-to-big retrieval, fused hybrid,
hierarchical MMR)."""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- ANN probe defaults: never below the hardcoded production floor ----------


def test_ann_defaults_respect_production_floor():
    """r5 advisor finding: ann_defaults.json shipped ivf_nprobe=2
    (below the production value 3) and both query and oracle read it,
    making the recall shave gate-invisible. The file must never hold
    a value below __spark_entry__._ANN_FALLBACKS, and the loader must
    clamp even if it does."""
    import __spark_entry__ as entrymod

    with open(os.path.join(REPO, "tools", "ann_defaults.json")) as f:
        shipped = json.load(f)
    for knob, floor in entrymod._ANN_FALLBACKS.items():
        assert shipped.get(knob, floor) >= floor, (
            f"ann_defaults.json {knob}={shipped.get(knob)} < floor {floor}"
        )
        # loader-level clamp: even a sub-floor file value is raised
        assert entrymod._ann_tuned(knob) >= floor


def test_ann_tuned_clamps_subfloor_file_value(tmp_path, monkeypatch):
    import __spark_entry__ as entrymod

    # point the loader at a doctored file holding a sub-floor value
    bad = {"ivf_nprobe": 1}
    tools = tmp_path / "tools"
    tools.mkdir()
    (tools / "ann_defaults.json").write_text(json.dumps(bad))
    real_join = os.path.join

    def fake_join(*parts):
        if parts[-1] == "ann_defaults.json":
            return str(tools / "ann_defaults.json")
        return real_join(*parts)

    monkeypatch.setattr(os.path, "join", fake_join)
    assert entrymod._ann_tuned("ivf_nprobe") == \
        entrymod._ANN_FALLBACKS["ivf_nprobe"]


def test_tune_floors_at_hardcoded_fallbacks():
    """The tuner's recommendation floor must come from the hardcoded
    constants, not the (possibly already-lowered) module values —
    otherwise the never-shave invariant can only ratchet downward."""
    import inspect

    from tools import ann_recall

    sig = inspect.signature(ann_recall.tune)
    assert "floors" in sig.parameters
    src = inspect.getsource(ann_recall.main)
    assert "_ANN_FALLBACKS" in src


def test_ann_recall_cli_parses_fixture_flag():
    """`--tune --fixture clustered` must not swallow 'clustered' as
    the sf_dir positional (r5 advisor finding)."""
    import argparse

    from tools import ann_recall  # noqa: F401  (import side effects none)

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("n_queries", nargs="?", type=int, default=16)
    ap.add_argument("--tune", action="store_true")
    ap.add_argument("--write-defaults", action="store_true")
    ap.add_argument("--fixture", choices=["driver", "clustered"],
                    default="driver")
    ns = ap.parse_args(["--tune", "--fixture", "clustered"])
    assert ns.fixture == "clustered"
    assert ns.sf_dir == "/root/testdata/sf0.01"


# -- LPA cache is scoped to the SparkContext ---------------------------------


def test_lpa_cache_keyed_by_application_id(spark, sf_dir):
    """The shared LPA leg lives in the session memo under ("lpa",
    sf_dir): later callers in the same application get the same
    checkpointed frames. A new application rebuilding it is covered
    by tests/test_memo.py."""
    import __spark_entry__ as entrymod
    from cocoindex_data_ingestion_spark.memo import memo

    legs = entrymod._ensure_lpa(spark, sf_dir)
    assert entrymod._ensure_lpa(spark, sf_dir) is legs
    assert memo(spark, ("lpa", sf_dir), lambda: None) is legs


# -- small-to-big (parent-context) retrieval ---------------------------------


def test_small_to_big_best_child_beats_many_weak(spark):
    """Parent ranking is MAX child score: a parent with ONE precise
    child hit must outrank a parent with MORE but weaker hits."""
    from pyspark.sql import functions as F

    from cocoindex_data_ingestion_spark.operators.hybrid import small_to_big

    # parent A: one strong child (0.9); parent B: three weak (0.5 each)
    child_hits = spark.createDataFrame(
        [("a1", 0.9), ("b1", 0.5), ("b2", 0.5), ("b3", 0.5)],
        "chunk_id string, score double",
    )
    children = spark.createDataFrame(
        [("a1", "pA"), ("b1", "pB"), ("b2", "pB"), ("b3", "pB")],
        "chunk_id string, parent_chunk_id string",
    )
    parents = spark.createDataFrame(
        [("pA", 1, 0, "parent A text"), ("pB", 2, 0, "parent B text")],
        "parent_chunk_id string, doc_id long, parent_index long, parent_text string",
    )
    out = {r.parent_chunk_id: r for r in
           small_to_big(child_hits, children, parents, k=5).collect()}
    assert out["pA"].rank == 1 and out["pA"].best_child_score == 0.9
    assert out["pB"].rank == 2 and out["pB"].n_child_hits == 3
    assert out["pA"].n_child_hits == 1


def test_small_to_big_tiebreak_and_k(spark):
    from cocoindex_data_ingestion_spark.operators.hybrid import small_to_big

    # equal best scores: ties break on parent_chunk_id ascending;
    # k bounds the output
    child_hits = spark.createDataFrame(
        [("c1", 0.7), ("c2", 0.7), ("c3", 0.6)],
        "chunk_id string, score double",
    )
    children = spark.createDataFrame(
        [("c1", "p2"), ("c2", "p1"), ("c3", "p3")],
        "chunk_id string, parent_chunk_id string",
    )
    parents = spark.createDataFrame(
        [("p1", 1, 0, "t1"), ("p2", 2, 0, "t2"), ("p3", 3, 0, "t3")],
        "parent_chunk_id string, doc_id long, parent_index long, parent_text string",
    )
    rows = sorted(
        small_to_big(child_hits, children, parents, k=2).collect(),
        key=lambda r: r.rank,
    )
    assert [r.parent_chunk_id for r in rows] == ["p1", "p2"]


def test_two_tier_fixed_child_mode(spark):
    """child_mode='fixed' children tile each parent page exactly and
    keep the md5 id/token plumbing of the sentence mode."""
    from pyspark.sql import functions as F

    from cocoindex_data_ingestion_spark.operators import chunking

    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 30)], "doc_id long, text string"
    )  # 300 chars
    out = chunking.two_tier_chunks(
        docs, page_size=100, page_overlap=20, child_size=30,
        child_mode="fixed",
    ).collect()
    assert all(len(r.chunk_text) <= 30 for r in out)
    # every child's global [start, end) reproduces its text
    full = "abcdefghij" * 30
    pages = {
        r.parent_chunk_id: r
        for r in chunking.two_tier_pages(
            docs, page_size=100, page_overlap=20
        ).collect()
    }
    for r in out:
        page = pages[r.parent_chunk_id]
        local_start = r.location_start - page.parent_start
        assert r.chunk_text == page.parent_text[local_start:local_start + len(r.chunk_text)]
    # 100-char page, 30-char children -> 4 children per page (tail short)
    from collections import Counter

    per_parent = Counter(r.parent_chunk_id for r in out)
    assert set(per_parent.values()) <= {1, 2, 3, 4}
    assert max(per_parent.values()) == 4


# -- hierarchical MMR ---------------------------------------------------------


def _blob_emb(spark, n=60, dim=8, seed=7):
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.uniform(-1, 1, size=(4, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[np.arange(n) % 4] + 0.05 * rng.randn(n, dim)
    return spark.createDataFrame(
        [(i + 1, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )


def test_mmr_hierarchical_agrees_with_flat_when_cells_small(spark):
    """When every cell holds <= k candidates the local stage prunes
    nothing, so hierarchical == flat greedy MMR exactly."""
    from pyspark.sql import functions as F

    from cocoindex_data_ingestion_spark.operators import vector_search as vs

    emb = _blob_emb(spark)
    q = spark.createDataFrame(
        [([0.4] * 8,)], "qvec array<float>"
    )
    flat = vs.mmr_rerank(emb, q, n_candidates=30, k=8).collect()
    # stride 7 over ids 1..60 -> ~8 cells over a 30-candidate pool,
    # so cells hold well under k=8 members each
    hier = vs.mmr_rerank_hierarchical(
        emb, q, n_candidates=30, k=8, cell_stride=7
    ).collect()
    assert [(r.rank, r.vec_id, r.mmr_score) for r in flat] == \
        [(r.rank, r.vec_id, r.mmr_score) for r in hier]


def test_mmr_hierarchical_handles_pools_past_flat_guard(spark):
    """Pools larger than MMR_MAX_CANDIDATES raise in the flat path
    but run hierarchically (pruning distributed per cell)."""
    import pytest as _pytest

    from cocoindex_data_ingestion_spark.operators import vector_search as vs

    emb = _blob_emb(spark, n=120)
    q = spark.createDataFrame([([0.4] * 8,)], "qvec array<float>")
    old_guard = vs.MMR_MAX_CANDIDATES
    vs.MMR_MAX_CANDIDATES = 50
    try:
        with _pytest.raises(ValueError, match="MMR_MAX_CANDIDATES"):
            vs.mmr_rerank(emb, q, n_candidates=100, k=5)
        out = vs.mmr_rerank_hierarchical(
            emb, q, n_candidates=100, k=5, cell_stride=10
        ).collect()
        assert len(out) == 5
        assert [r.rank for r in out] == [1, 2, 3, 4, 5]
        # diversification actually happened: scores are the greedy
        # mmr values (non-increasing after rank 1 by construction)
        scores = [r.mmr_score for r in out]
        assert all(s is not None for s in scores)
    finally:
        vs.MMR_MAX_CANDIDATES = old_guard


def test_mmr_hierarchical_prunes_per_cell(spark):
    """With one giant cell-worth of near-duplicates and k=2, the
    local stage keeps only 2 representatives of the dup cluster."""
    from cocoindex_data_ingestion_spark.operators import vector_search as vs

    # ids 1..12: 11 near-identical vectors + 1 orthogonal
    rows = [(i, [1.0, 0.001 * i, 0.0]) for i in range(1, 12)]
    rows.append((12, [0.0, 1.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame([([1.0, 0.3, 0.0],)], "qvec array<float>")
    out = vs.mmr_rerank_hierarchical(
        emb, q, n_candidates=12, k=2, lam=0.5, cell_stride=100
    ).collect()
    ids = {r.vec_id for r in out}
    # the orthogonal doc must be selected for diversity (lam=0.5:
    # a second near-dup scores 0.5·rel − 0.5·~1.0 < 0, the
    # orthogonal doc scores 0.5·rel − 0)
    assert 12 in ids and len(ids) == 2


# -- chunk_two_tier oracle precondition ---------------------------------------


def test_corpus_pages_never_whitespace_only():
    """The chunk_two_tier oracle's identity drops whitespace-only
    pages on the Spark side (sentence_chunks skips them) and filters
    them in SQL — assert no page at the registered (400, 80) params
    is whitespace-only-but-nonempty, at every SF the gates use."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        p = f"/root/testdata/sf{sf}/documents.parquet"
        n = duckdb.sql(
            f"""
            SELECT count(*) FROM (
              SELECT substr(text, CAST(s + 1 AS INTEGER), 400) AS pt
              FROM (SELECT text,
                           unnest(generate_series(0,
                               greatest(length(text) - 1, 0), 320)) AS s
                    FROM read_parquet('{p}'))
            ) WHERE length(pt) > 0 AND length(trim(pt)) = 0
            """
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} whitespace-only pages"


# -- entity_mentions oracle precondition --------------------------------------


def test_corpus_is_single_spaced_lowercase_words():
    """The entity_mentions oracle reconstructs match offsets as token
    prefix sums, which is exact iff the text is lowercase [a-z ]
    words joined by single spaces — assert at every SF."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        p = f"/root/testdata/sf{sf}/documents.parquet"
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{p}') "
            "WHERE regexp_matches(text, '[^a-z ]') OR text LIKE '%  %' "
            "   OR text LIKE ' %' OR text LIKE '% '"
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} docs break the offset identity"


# -- BPE oracle precondition ---------------------------------------------------


def test_bpe_replace_fixpoint_headroom():
    """The BPE oracle emulates Spark's zero-width-boundary merge
    regex by nesting plain replace() 8 times; that reaches the
    fixpoint iff no word has more than 8 adjacent occurrences of a
    pair, guaranteed while max token length stays <= 17 chars
    (ceil((17+1)/2) = 9 symbols incl. </w> -> <= 8 adjacent pairs).
    Assert the corpus keeps that headroom at every SF."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        p = f"/root/testdata/sf{sf}/documents.parquet"
        mx = duckdb.sql(
            f"SELECT max(length(w)) FROM (SELECT "
            f"unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w "
            f"FROM read_parquet('{p}'))"
        ).fetchone()[0]
        assert mx <= 17, f"sf{sf}: max token length {mx} exceeds headroom"


# -- fused hybrid tail plan shape ---------------------------------------------


def test_rrf_fuse_legs_plans_exchange_free_tail(spark):
    """The fusion tail (rank -> union -> coalesce(1) -> groupBy ->
    top-k) must plan with NO exchange after the legs: per-leg
    row_number windows sit BELOW the union (single-partition
    TakeOrderedAndProject output satisfies them) and the groupBy runs
    on the coalesced single partition."""
    from pyspark.sql import functions as F

    from cocoindex_data_ingestion_spark.operators.fusion import rrf_fuse_legs

    emb = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(1, 200)], "id long, x double"
    )
    legA = (emb.select(F.lit("a").alias("source"), "id",
                       F.col("x").alias("score"))
            .orderBy(F.desc("score"), F.asc("id")).limit(10))
    legB = (emb.select(F.lit("b").alias("source"), "id",
                       (F.col("x") * 0.5).alias("score"))
            .orderBy(F.desc("score"), F.asc("id")).limit(10))
    out = rrf_fuse_legs([legA, legB], limit=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 1" in plan
    # no Exchange anywhere: the legs here are plain in-memory scans +
    # TakeOrderedAndProject, so ANY exchange would be the fusion tail
    # regressing to a shuffle
    assert "Exchange" not in plan, plan
    rows = out.collect()
    assert len(rows) == 5


# -- layout reader cache invalidation -----------------------------------------


def test_read_layout_invalidated_by_rebuild(spark, tmp_path):
    """A rebuilt layout must never be served from a stale cached file
    listing: build writes invalidate their index_dir prefix."""
    from cocoindex_data_ingestion_spark.operators import indexing

    p = str(tmp_path / "lay")
    spark.createDataFrame([(1,)], "a long").write.parquet(p)
    first = indexing.read_layout(spark, p)
    assert first.count() == 1
    assert indexing.read_layout(spark, p) is first  # memo hit
    # overwrite with more rows, then invalidate (as build_* do)
    spark.createDataFrame([(1,), (2,)], "a long").write.mode(
        "overwrite"
    ).parquet(p)
    indexing.invalidate_layout(str(tmp_path))
    assert indexing.read_layout(spark, p).count() == 2

    # the statement path reads through per-layout views: a rebuild of
    # the same index_dir must re-register them over the new corpus
    from cocoindex_data_ingestion_spark.operators import bm25

    def corpus(texts):
        docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        emb = spark.createDataFrame(
            [(i, [1.0, float(i)]) for i in range(len(texts))],
            "vec_id long, embedding array<float>",
        )
        return docs, emb

    idx = str(tmp_path / "idx")
    terms = ["spark", "index"]
    for texts in (
        ["spark spark index", "index only here", "nothing relevant"],
        ["index spark", "more spark words", "spark index index", "filler text"],
    ):
        docs, emb = corpus(texts)
        indexing.build_search_index(docs, emb, idx, lsh_bits=2)
        got = [tuple(r) for r in indexing.indexed_bm25(spark, idx, terms).collect()]
        assert got == [tuple(r) for r in bm25.bm25_search(docs, terms).collect()]
        assert len(got) == len(texts) - 1
