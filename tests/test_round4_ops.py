"""Round-4 operators: paragraph dedup, line rules, token budget,
epoch shuffle, z-score anomalies, PCA."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.operators import (
    curation, dedup, quality, relational, vector_search,
)
from cocoindex_data_ingestion_spark.sources.tables import load_table


# -- paragraph dedup ----------------------------------------------------------


def test_paragraph_dedup_stats(spark):
    docs = spark.createDataFrame(
        [
            (1, "shared para here\n\nunique one alpha"),
            (2, "shared   para  here\n\nunique two beta\n\nunique three"),
            (3, "totally different text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in dedup.paragraph_dedup_stats(docs).collect()
    }
    # whitespace-normalized: doc2's double-spaced copy matches doc1's
    assert out[1]["n_paras"] == 2 and out[1]["n_dup_paras"] == 1
    assert out[2]["n_paras"] == 3 and out[2]["n_dup_paras"] == 1
    assert out[3]["n_dup_paras"] == 0
    assert out[1]["dup_para_ratio"] == 0.5


# -- line rules ---------------------------------------------------------------


def test_line_quality_rules(spark):
    text = "\n".join(
        [
            "A perfectly reasonable prose line that is long enough.",
            "short",                      # short
            "- bullet item long enough to dodge the short rule",
            "THIS LINE IS ALL CAPS AND LONG ENOUGH TO COUNT",
            "This one trails off into nothing at all...",
            "",                            # blank: excluded
        ]
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = quality.line_quality(docs).collect()[0]
    assert r["n_lines"] == 5
    assert r["n_short"] == 1
    assert r["n_bullet"] == 1
    assert r["n_caps"] == 1
    assert r["n_ellipsis"] == 1
    assert r["boilerplate_ratio"] == 0.8


# -- token budget -------------------------------------------------------------


def test_token_budget_select(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    budget = 3_000
    sel = curation.token_budget_select(docs, budget, group_col="lang")
    pdf = sel.toPandas()
    # every selected doc started within budget
    assert (pdf["cum_before"] < budget).all()
    # brute-force greedy per group reproduces the selection exactly
    full = docs.select(
        "doc_id", "lang",
        F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .cast("long").alias("n_toks"),
    ).toPandas()
    for lang, g in full.groupby("lang"):
        g = g.sort_values(["n_toks", "doc_id"], ascending=[False, True])
        cum, want = 0, []
        for _, row in g.iterrows():
            if cum < budget:
                want.append(row["doc_id"])
            cum += row["n_toks"]
        got = sorted(pdf[pdf["lang"] == lang]["doc_id"])
        assert got == sorted(want), lang


# -- epoch shuffle ------------------------------------------------------------


def test_epoch_shuffle_keys(spark):
    docs = spark.createDataFrame(
        [(i, "x") for i in range(50)], "doc_id long, text string"
    )
    k1 = curation.epoch_shuffle_keys(docs, epochs=2).toPandas()
    k2 = curation.epoch_shuffle_keys(docs, epochs=2).toPandas()
    # deterministic across runs
    assert sorted(map(tuple, k1.values.tolist())) == sorted(
        map(tuple, k2.values.tolist())
    )
    # every epoch covers every doc, orders differ between epochs
    by_epoch = {
        e: g.sort_values("skey")["doc_id"].tolist()
        for e, g in k1.groupby("epoch")
    }
    assert all(sorted(v) == list(range(50)) for v in by_epoch.values())
    assert by_epoch[1] != by_epoch[2]


# -- z-score outliers ---------------------------------------------------------


def test_zscore_outliers(spark):
    rows = [(1, "a", i, 10.0) for i in range(9)] + [(1, "a", 9, 100.0)]
    rows += [(2, "a", 10, 5.0), (2, "a", 11, 500.0)]          # group of 2: skipped
    rows += [(3, "a", 12 + i, 7.0) for i in range(6)]          # zero variance: skipped
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, event_id long, value double"
    )
    out = relational.zscore_outliers(
        df, ["user_id", "event_type"], "value", threshold=2.5, min_group=5
    ).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(1, 9)]
    assert out[0]["zscore"] > 2.5


# -- PCA ----------------------------------------------------------------------


def test_pca_matches_numpy(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir).filter("vec_id <> 0")
    mean, comps, eigvals = vector_search.pca_fit(emb, q=4)

    X = np.stack(
        emb.orderBy("vec_id").toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    mu = X.mean(axis=0)
    cov = (X - mu).T @ (X - mu) / len(X)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:4]
    ref = v[:, order].T
    for i in range(4):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]

    assert np.allclose(mean, mu, atol=1e-9)
    assert np.allclose(np.sort(eigvals)[::-1], np.sort(w[order])[::-1], atol=1e-9)
    assert np.allclose(comps, ref, atol=1e-7)

    proj = vector_search.pca_project(emb, mean, comps).orderBy("vec_id")
    P = np.stack(proj.toPandas()["comps"].to_numpy())
    assert np.allclose(P, np.round((X - mu) @ ref.T, 6), atol=1e-6)


def test_pca_partition_invariance(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir).filter("vec_id <> 0")
    m1, c1, _ = vector_search.pca_fit(emb, q=3)
    m2, c2, _ = vector_search.pca_fit(emb.repartition(7), q=3)
    assert np.allclose(m1, m2, atol=1e-9)
    assert np.allclose(c1, c2, atol=1e-7)


# -- IR evaluation metrics ----------------------------------------------------


def test_ranking_metrics_hand_computed(spark):
    from cocoindex_data_ingestion_spark.operators import evaluation

    # query 1: rel docs {10, 11, 12}; ranking puts rel at ranks 1, 3
    ranking = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 11, 3), (1, 21, 4),
         (2, 30, 1), (2, 31, 2)],
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 1), (1, 12, 1), (2, 99, 1)],
        "query_id long, doc_id long, rel long",
    )
    out = {
        r["query_id"]: r
        for r in evaluation.ranking_metrics(ranking, qrels, k=4).collect()
    }
    import math

    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert abs(out[1]["ndcg_at_k"] - round(dcg / idcg, 4)) < 2e-4
    assert out[1]["rr_at_k"] == 1.0
    assert out[1]["precision_at_k"] == 0.5
    assert abs(out[1]["recall_at_k"] - 0.6667) < 1e-4
    # query 2 found nothing relevant
    assert out[2]["ndcg_at_k"] == 0.0
    assert out[2]["rr_at_k"] == 0.0
    assert out[2]["precision_at_k"] == 0.0
    assert out[2]["recall_at_k"] == 0.0


def test_embedding_drift_psi_detects_shift(spark):
    from cocoindex_data_ingestion_spark.operators import evaluation

    rng = np.random.RandomState(7)
    base = rng.uniform(-0.9, 0.9, size=(400, 4))
    shifted = base.copy()
    shifted[:, 2] = np.clip(shifted[:, 2] + 0.6, -1, 1)  # drift dim 2 only
    mk = lambda X: spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    out = evaluation.embedding_drift_psi(mk(base), mk(shifted)).collect()
    psi = {r["dim"]: r["psi"] for r in out}
    assert len(psi) == 4
    # the shifted dimension dominates; unshifted dims are near zero
    assert psi[2] > 0.5
    assert all(psi[d] < 0.05 for d in (0, 1, 3))
    # identical cohorts -> ~zero everywhere
    same = evaluation.embedding_drift_psi(mk(base), mk(base)).collect()
    assert all(abs(r["psi"]) < 1e-9 for r in same)


def test_script_profile_detection(spark):
    from cocoindex_data_ingestion_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [
            (1, "plain english words here"),
            (2, "Привет мир это кириллица"),
            (3, "这是一些中文文本内容"),
            (4, "123 456 7890"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_analysis.script_profile(docs).collect()}
    assert out[1]["dominant_script"] == "latin" and out[1]["n_latin"] > 0
    assert out[2]["dominant_script"] == "cyrillic"
    assert out[3]["dominant_script"] == "han" and out[3]["n_han"] == 10
    assert out[4]["dominant_script"] == "digit"
    assert out[5]["dominant_script"] == "none"


def test_incremental_drift_monitor(spark, tmp_path):
    from cocoindex_data_ingestion_spark.operators import evaluation

    rng = np.random.RandomState(11)
    ref = rng.uniform(-0.9, 0.9, size=(300, 4))
    shifted = np.clip(ref + np.array([0, 0, 0.6, 0]), -1, 1)
    mk = lambda X, off=0: spark.createDataFrame(
        [(i + off, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    mon = evaluation.IncrementalDriftMonitor(
        spark, str(tmp_path / "drift"), n_buckets=8
    )
    # reference accumulates across THREE delta refreshes
    mon.refresh(inserts=mk(ref[:100]))
    mon.refresh(inserts=mk(ref[100:200], 100))
    mon.refresh(inserts=mk(ref[200:], 200))

    inc = {r["dim"]: r["psi"] for r in mon.psi_vs(mk(shifted)).collect()}
    # identical numbers to the batch two-cohort operator
    batch = {
        r["dim"]: r["psi"]
        for r in evaluation.embedding_drift_psi(
            mk(ref), mk(shifted), n_buckets=8
        ).collect()
    }
    assert inc == batch
    assert inc[2] > 0.5 and inc[0] < 0.05
    # delete-refresh keeps the state exact: removing the last chunk
    # reproduces the 200-row reference histogram
    mon.refresh(deletes=mk(ref[200:], 200))
    two = {
        r["dim"]: r["psi"]
        for r in evaluation.embedding_drift_psi(
            mk(ref[:200]), mk(shifted), n_buckets=8
        ).collect()
    }
    inc2 = {r["dim"]: r["psi"] for r in mon.psi_vs(mk(shifted)).collect()}
    assert inc2 == two


def test_pca_whiten_unit_variance(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir).filter("vec_id <> 0")
    mean, comps, _ = vector_search.pca_fit(emb, q=3, whiten=True)
    P = np.stack(
        vector_search.pca_project(emb, mean, comps)
        .toPandas()["comps"].to_numpy()
    )
    # whitened projections have (population) unit variance per axis
    assert np.allclose(P.var(axis=0), 1.0, atol=1e-3)


# -- distributed k-means ------------------------------------------------------


def test_kmeans_recovers_blobs(spark):
    from cocoindex_data_ingestion_spark.operators import clustering

    rng = np.random.RandomState(7)
    centers = np.array([[1.0, 0.0], [-1.0, 0.0], [0.0, 1.5]])
    pts = np.concatenate(
        [c + 0.08 * rng.randn(40, 2) for c in centers]
    )
    # ids 1..k seed the clusters: plant one point per blob up front
    seed = np.array([[1.05, 0.02], [-0.95, -0.03], [0.02, 1.48]])
    allp = np.concatenate([[[9.0, 9.0]], seed, pts])  # id 0 unused filler
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(allp)],
        "vec_id long, embedding array<double>",
    )
    model = clustering.kmeans_fit(emb, k=3, iters=4)
    rows = model.collect()
    assert {r["cluster"] for r in rows} == {0, 1, 2}
    cent = {
        (r["cluster"], r["dim"]): r["centroid"] for r in rows
    }
    got = np.array(
        [[cent[(c, 1)], cent[(c, 2)]] for c in range(3)]
    )
    # each recovered centroid lands on its blob center (id 0's (9,9)
    # outlier joins SOME cluster but can't move a 40-point mean far)
    for c, target in enumerate(centers):
        assert np.linalg.norm(got[c] - target) < 0.3, (c, got[c])
    # sizes cover all points
    sizes = {r["cluster"]: r["n"] for r in rows if r["dim"] == 1}
    assert sum(sizes.values()) == len(allp)

    # assignment op agrees with the trainer's final partition sizes
    asg = clustering.kmeans_assign(emb, model)
    by = {
        r["cluster"]: r["n"]
        for r in asg.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    # one extra Lloyd step can move a few boundary points; blob bulk stays
    assert all(abs(by[c] - sizes[c]) <= 3 for c in range(3))


def test_kmeans_partition_invariant(spark, sf_dir):
    from cocoindex_data_ingestion_spark.operators import clustering

    emb = load_table(spark, "embeddings", sf_dir)
    a = clustering.kmeans_fit(emb, k=3, iters=2).collect()
    b = clustering.kmeans_fit(emb.repartition(13), k=3, iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# -- tf-idf -------------------------------------------------------------------


def test_tfidf_similar_and_keywords(spark):
    from cocoindex_data_ingestion_spark.operators import bm25

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join shuffle zebra"),
            (2, "spark shuffle join shuffle zebra"),  # near-copy of probe
            (3, "spark window filter scan"),
            (4, "unrelated giraffe penguin walrus"),
        ],
        "doc_id long, text string",
    )
    sim = bm25.tfidf_similar_docs(docs, probe_id=1, k=3).collect()
    assert sim[0]["doc_id"] == 2 and sim[0]["score"] == 1.0
    assert all(r["score"] < 1.0 for r in sim[1:])
    # doc 4 shares no tokens -> absent entirely
    assert 4 not in {r["doc_id"] for r in sim}

    kw = bm25.tfidf_keywords(docs, k=2).collect()
    by_doc = {}
    for r in kw:
        by_doc.setdefault(r["doc_id"], {})[r["rank"]] = r["token"]
    # tf=2 'shuffle' tops doc 1; join/zebra (both df=2, tf=1) tie
    # exactly -> token asc; doc 4's all equally rare -> token asc
    assert by_doc[1] == {1: "shuffle", 2: "join"}
    assert by_doc[4] == {1: "giraffe", 2: "penguin"}
    assert all(r["rank"] in (1, 2) for r in kw)


# -- perplexity buckets -------------------------------------------------------


def test_perplexity_buckets(spark, sf_dir):
    from cocoindex_data_ingestion_spark.operators import quality

    out = quality.perplexity_buckets(
        load_table(spark, "documents", sf_dir), n_buckets=3
    ).collect()
    assert [r["bucket"] for r in out] == [0, 1, 2]
    assert [r["label"] for r in out] == ["head", "middle", "tail"]
    # equal-frequency tiers (within 1 for non-divisible N)
    sizes = [r["n_docs"] for r in out]
    assert max(sizes) - min(sizes) <= 1
    # NLL grows head -> tail by construction
    nlls = [r["bucket_avg_nll"] for r in out]
    assert nlls[0] < nlls[1] < nlls[2]


# -- key skew profile ---------------------------------------------------------


def test_key_skew_profile(spark):
    rows = [(1,)] * 60 + [(2,)] * 30 + [(k,) for k in range(3, 13)]
    df = spark.createDataFrame(rows, "user_id long")
    out = relational.key_skew_profile(df, "user_id", top=3).collect()
    assert [(r["rank"], r["key"], r["n"]) for r in out] == [
        (1, 1, 60), (2, 2, 30), (3, 3, 1),
    ]
    assert out[0]["share"] == 0.6 and out[1]["cum_share"] == 0.9
    # 12 keys, 100 rows: key 1 needs ceil(60*12/100)=8 average-key slots
    assert out[0]["salt_factor"] == 8 and out[2]["salt_factor"] == 1


# -- temporal split -----------------------------------------------------------


def test_temporal_split_no_leakage(spark):
    rows = [(i, i % 7, 1000 + i) for i in range(100)]  # id, user, ts
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long")
    out = curation.temporal_split_assign(
        df, "us", "event_id", train_frac=0.8, val_frac=0.1
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["split"], []).append(r["us"])
    assert len(by["train"]) == 80 and len(by["val"]) == 10
    assert len(by["test"]) == 10
    # strict temporal ordering: every train ts < every val ts < test
    assert max(by["train"]) < min(by["val"]) < max(by["val"]) < min(by["test"])


# -- cross-source duplication matrix -----------------------------------------


def test_cross_source_matrix(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base, "mirrorA"),
            (2, base + " tail", "mirrorB"),       # near-dup of 1
            (3, base + " tails", "mirrorB"),      # near-dup of 1/2
            (4, "completely different content about spark shuffles", "solo"),
        ],
        "doc_id long, text string, source string",
    )
    out = dedup.cross_source_matrix(docs, num_hashes=16, bands=8).collect()
    m = {(r["src_a"], r["src_b"]): r["n_pairs"] for r in out}
    # mirrorA<->mirrorB near-dup mass exists; solo joins nothing
    assert m.get(("mirrorA", "mirrorB"), 0) >= 1
    assert not any("solo" in k for pair in m for k in pair)


def test_kmeans_pp_splits_blobs_naive_init_cannot(spark):
    from cocoindex_data_ingestion_spark.operators import clustering

    rng = np.random.RandomState(3)
    centers = np.array([[2.0, 0.0], [-2.0, 0.0], [0.0, 2.0]])
    blobs = np.concatenate([c + 0.05 * rng.randn(30, 2) for c in centers])
    # ids 1..3 (the naive seeds) are ALL members of blob 0
    emb = spark.createDataFrame(
        [(i + 1, [float(x) for x in row]) for i, row in enumerate(blobs)],
        "vec_id long, embedding array<double>",
    )

    def spread(model_rows):
        cent = {}
        for r in model_rows:
            cent.setdefault(r["cluster"], {})[r["dim"]] = r["centroid"]
        pts = np.array(
            [[cent[c][1], cent[c][2]] for c in sorted(cent)]
        )
        return min(
            np.linalg.norm(pts[i] - pts[j])
            for i in range(len(pts)) for j in range(i + 1, len(pts))
        )

    naive = clustering.kmeans_fit(emb, k=3, iters=4).collect()
    ff = clustering.kmeans_fit_pp(emb, k=3, iters=4).collect()
    # farthest-first seeds land one per blob -> centroids are far
    # apart; naive seeds all in blob 0 leave >=2 centroids stuck there
    assert spread(ff) > 1.5, spread(ff)
    assert spread(naive) < 1.0, spread(naive)
    sizes = sorted(r["n"] for r in ff if r["dim"] == 1)
    assert sizes == [30, 30, 30]


def test_cluster_quality_silhouette(spark):
    from cocoindex_data_ingestion_spark.operators import clustering

    rng = np.random.RandomState(5)
    tight = np.concatenate([
        c + 0.02 * rng.randn(25, 2)
        for c in np.array([[3.0, 0.0], [-3.0, 0.0]])
    ])
    emb = spark.createDataFrame(
        [(i + 1, [float(x) for x in r]) for i, r in enumerate(tight)],
        "vec_id long, embedding array<double>",
    )
    model = clustering.kmeans_fit_pp(emb, k=2, iters=3)
    q = {r["cluster"]: r for r in
         clustering.cluster_quality(emb, model).collect()}
    # tight well-separated blobs: silhouette near 1 for both clusters
    assert all(r["avg_silhouette"] > 0.95 for r in q.values()), q
    assert sum(r["n"] for r in q.values()) == 50


def test_knn_batch_matches_per_query_knn(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    qids = [0, 7, 99]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    batch = vector_search.knn_batch(emb.repartition(9), queries, k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score"]))
    for qid in qids:
        q = emb.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qvec")
        )
        solo = vector_search.knn(
            emb.filter(F.col("vec_id") != qid).crossJoin(F.broadcast(q)),
            F.col("qvec"), k=5,
        ).collect()
        want = [(i + 1, r["vec_id"], r["score"]) for i, r in enumerate(solo)]
        assert sorted(got[qid]) == want, qid


# -- BPE tokenizer training ---------------------------------------------------


def _reference_bpe(word_counts, n_merges, min_pair_count=2):
    """Pure-Python Sennrich BPE with the same deterministic
    tie-break (count desc, pair string asc)."""
    vocab = {
        " ".join(list(w)) + " </w>": c for w, c in word_counts.items()
    }
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = {}
        for syms, c in vocab.items():
            s = syms.split(" ")
            for i in range(len(s) - 1):
                p = s[i] + " " + s[i + 1]
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        left, right = best[0].split(" ", 1)
        merges.append((rank, left, right, best[1]))
        new = {}
        import re as _re

        pat = _re.compile(
            r"(?<!\S)" + _re.escape(left + " " + right) + r"(?!\S)"
        )
        for syms, c in vocab.items():
            new[pat.sub(left + right, syms)] = (
                new.get(pat.sub(left + right, syms), 0) + c
            )
        vocab = new
    return merges


def test_bpe_train_matches_reference(spark):
    from cocoindex_data_ingestion_spark.operators import tokenizer

    corpus = [
        "low lower lowest low low",
        "newer newest new new newer",
        "wider wide wide widest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = tokenizer.bpe_train(docs, n_merges=12)

    wc = {}
    for t in corpus:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    want = _reference_bpe(wc, 12)
    assert got == want, (got, want)
    # sanity: the frequent 'low'/'new' stems merge early
    merged = ["".join((l, r)) for _, l, r, _ in got]
    assert any(m.startswith("lo") or m.startswith("ne") for m in merged[:4])


def test_bpe_encode_and_fertility(spark):
    from cocoindex_data_ingestion_spark.operators import tokenizer

    corpus = ["low lower low", "lowest newer new"]
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(corpus)],
        "doc_id long, text string, lang string",
    )
    merges = tokenizer.bpe_train(docs, n_merges=8)

    # reference encode: same greedy sequential merge application
    def ref_encode(word):
        syms = list(word) + ["</w>"]
        s = " ".join(syms)
        import re as _re

        for _r, l, rt, _n in merges:
            s = _re.sub(
                r"(?<!\S)" + _re.escape(l + " " + rt) + r"(?!\S)", l + rt, s
            )
        return len(s.split(" "))

    wc = {}
    for t in corpus:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    words = spark.createDataFrame(list(wc.items()), "word string, c long")
    enc = {r["word"]: r["n_tokens"] for r in
           tokenizer.encode_words(words, merges).collect()}
    for w in wc:
        assert enc[w] == ref_encode(w), w

    fert = tokenizer.learned_fertility(docs, merges).collect()
    assert len(fert) == 1 and fert[0]["lang"] == "en"
    want_tokens = sum(ref_encode(w) * c for w, c in wc.items())
    assert fert[0]["n_tokens"] == want_tokens
    assert fert[0]["n_words"] == sum(wc.values())


def test_online_kmeans_matches_reference(spark, tmp_path):
    from cocoindex_data_ingestion_spark.operators import clustering

    rng = np.random.RandomState(31)
    b1 = rng.uniform(-1, 1, size=(60, 3))
    b2 = rng.uniform(-1, 1, size=(40, 3))
    mk = lambda X, off: spark.createDataFrame(
        [(i + off, [float(x) for x in r]) for i, r in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    ok = clustering.OnlineKMeans(spark, str(tmp_path / "okm"), k=3)
    ok.refresh(mk(b1, 0))
    ok.refresh(mk(b2, 100))
    got = {
        (r["cluster"], r["dim"]): (r["centroid"], r["n"])
        for r in ok.centroids().collect()
    }

    # numpy reference with the identical semantics: quantize at 1e-6,
    # stable-round interim centroids at 6, squared-L2 argmin with
    # cluster-asc tie-break
    def q(x):
        return np.floor(x * 1e6 + 0.5)

    def rnd6(x):
        return np.floor(x * 1e6 + 0.5) / 1e6

    seeds = b1[:3]  # ids 0,1,2 are the 3 smallest
    def assign(X, C):
        d = ((X[:, None, :] - C[None, :, :]) ** 2)
        d = (np.floor(d * 1e9 + 0.5).sum(axis=2)) / 1e9
        return d.argmin(axis=1)  # argmin takes first (lowest cluster) on ties

    a1 = assign(b1, seeds)
    n = np.zeros(3); s = np.zeros((3, 3))
    for x, c in zip(b1, a1):
        n[c] += 1; s[c] += q(x)
    cent1 = rnd6(s / 1e6 / n[:, None])
    a2 = assign(b2, cent1)
    for x, c in zip(b2, a2):
        n[c] += 1; s[c] += q(x)
    final = rnd6(s / 1e6 / n[:, None])

    for c in range(3):
        for d in range(3):
            cv, cn = got[(c, d + 1)]
            assert cn == int(n[c]), (c, d)
            assert abs(cv - final[c, d]) < 2e-6, (c, d, cv, final[c, d])


def test_group_linear_trend_recovers_line(spark):
    rows = []
    for i in range(50):
        rows.append(("up", float(i), 2.0 * i + 5.0))      # exact line
        rows.append(("flat", float(i), 7.0))              # zero slope
    rows += [("point", 1.0, 3.0)] * 4                     # zero x-variance
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in
           relational.group_linear_trend(df, ["g"], "x", "y").collect()}
    assert abs(out["up"]["slope"] - 2.0) < 1e-5
    assert abs(out["up"]["intercept"] - 5.0) < 1e-5
    assert abs(out["up"]["r2"] - 1.0) < 1e-6
    assert out["flat"]["slope"] == 0.0 and out["flat"]["r2"] is None
    assert out["point"]["slope"] is None  # vertical: no fit


# -- Naive Bayes classifier ---------------------------------------------------


def test_nb_classifier_separates_vocabularies(spark):
    from cocoindex_data_ingestion_spark.operators import classifier

    rows = []
    # two classes with disjoint core vocab + shared filler
    for i in range(20):
        rows.append((i, "spark shuffle partition executor common word", "eng"))
        rows.append((100 + i, "fromage voiture maison soleil common word", "fra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model, priors = classifier.nb_train(docs, label_col="lang")
    test = spark.createDataFrame(
        [(500, "shuffle executor word"), (501, "maison soleil word")],
        "doc_id long, text string",
    )
    pred = {r["doc_id"]: r["pred"] for r in
            classifier.nb_predict(test, model, priors).collect()}
    assert pred == {500: "eng", 501: "fra"}


def test_nb_scores_partitioning_invariant(spark):
    from cocoindex_data_ingestion_spark.operators import classifier

    rows = [(i, f"tok{i % 7} tok{i % 3} alpha beta", "a" if i % 2 else "b")
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model, priors = classifier.nb_train(docs, label_col="lang")
    test = docs.select("doc_id", "text")
    a = classifier.nb_predict(test, model, priors)
    b = classifier.nb_predict(test.repartition(13), model, priors)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_nb_max_vocab_caps_model(spark):
    from cocoindex_data_ingestion_spark.operators import classifier

    rows = [(i, "w1 w2 w3 w4 w5 w6 w7 w8", "x") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model, _ = classifier.nb_train(docs, label_col="lang", max_vocab=3)
    assert model.count() == 3  # 3 tokens x 1 label


# -- snapshot diff ------------------------------------------------------------


def test_snapshot_diff_classifies_changes(spark):
    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, None, "d")],
        "id long, price double, status string",
    )
    new = spark.createDataFrame(
        [(2, 20.0, "b"), (3, 31.0, "c"), (4, None, "d"), (5, 50.0, "e")],
        "id long, price double, status string",
    )
    out = {r["id"]: r for r in relational.snapshot_diff(
        old, new, ["id"], ["price", "status"]).collect()}
    assert set(out) == {1, 3, 5}  # 2 and 4 unchanged (4: null==null)
    assert out[1]["change_type"] == "removed" and out[1]["new_price"] is None
    assert out[3]["change_type"] == "changed" and out[3]["new_price"] == 31.0
    assert out[5]["change_type"] == "added" and out[5]["old_status"] is None


def test_snapshot_diff_null_transitions(spark):
    old = spark.createDataFrame([(1, None)], "id long, v string")
    new = spark.createDataFrame([(1, "x")], "id long, v string")
    rows = relational.snapshot_diff(old, new, ["id"], ["v"]).collect()
    assert len(rows) == 1 and rows[0]["change_type"] == "changed"


# -- 2-D skyline --------------------------------------------------------------


def test_skyline_2d_matches_bruteforce(spark):
    import itertools, random
    rng = random.Random(7)
    pts = [(rng.randint(0, 30) * 1.0, rng.randint(0, 30)) for _ in range(300)]
    df = spark.createDataFrame(pts, "price double, size long")
    got = {(r["price"], r["size"])
           for r in relational.skyline_2d(df, "price", "size").collect()}
    uniq = set(pts)
    want = {
        p for p in uniq
        if not any(
            q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])
            for q in uniq)
    }
    assert got == want


def test_skyline_2d_counts_and_partition_invariance(spark):
    df = spark.createDataFrame(
        [(1.0, 5), (1.0, 5), (2.0, 6), (2.0, 4), (0.5, 1)],
        "price double, size long",
    )
    for d in (df, df.repartition(7)):
        rows = {(r["price"], r["size"]): r["n_rows"]
                for r in relational.skyline_2d(d, "price", "size").collect()}
        assert rows == {(1.0, 5): 2, (2.0, 6): 1, (0.5, 1): 1}


# -- column profile -----------------------------------------------------------


def test_column_profile_stats(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, None), (2.0, 30.0), (4.0, 40.0)],
        "a double, b double",
    )
    out = {r["col_name"]: r
           for r in relational.column_profile(df, ["a", "b"]).collect()}
    a = out["a"]
    assert (a["n_rows"], a["n_null"], a["ndv"]) == (4, 0, 3)
    assert (a["min_v"], a["max_v"], a["p50"]) == (1.0, 4.0, 2.0)
    b = out["b"]
    assert (b["n_rows"], b["n_null"], b["ndv"]) == (4, 1, 3)
    assert b["p50"] == 30.0  # percentile ignores nulls


# -- histogram quantile sketch ------------------------------------------------


def test_histogram_sketch_merge_equals_direct(spark):
    from cocoindex_data_ingestion_spark.operators import sketches

    rows = [(("a" if i % 2 else "b"), float(i)) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "g string, v double")
    hist = sketches.histogram_sketch(df, "v", ["g"], n_bins=16,
                                     lo=0.0, hi=200.0)
    # merging per-group sketches == sketching the union directly
    merged = (hist.groupBy("bin", "_lo", "_hi")
              .agg(F.sum("c").alias("c"))
              .withColumn("g", F.lit("ALL")))
    direct = sketches.histogram_sketch(
        df.withColumn("g", F.lit("ALL")), "v", ["g"], n_bins=16,
        lo=0.0, hi=200.0)
    assert sorted(map(tuple, merged.select("g", "bin", "c").collect())) == \
        sorted(map(tuple, direct.select("g", "bin", "c").collect()))


def test_histogram_quantiles_accuracy(spark):
    from cocoindex_data_ingestion_spark.operators import sketches

    df = spark.createDataFrame(
        [("x", float(i)) for i in range(1, 1001)], "g string, v double")
    hist = sketches.histogram_sketch(df, "v", ["g"], n_bins=100,
                                     lo=0.0, hi=1000.0)
    q = sketches.histogram_quantiles(hist, ["g"], [0.5, 0.95], 100).collect()[0]
    # lower-edge estimate within one bin width of the exact quantile
    assert abs(q["p50_est"] - 500.0) <= 10.0
    assert abs(q["p95_est"] - 950.0) <= 10.0
    assert q["n"] == 1000


# -- seasonal baseline --------------------------------------------------------


def test_seasonal_profile_cells_and_residuals(spark):
    day = 86_400_000_000
    hr = 3_600_000_000
    # thursday 1970-01-01 (dow=(0+4)%7=4) hour 0: values 10, 20
    # friday hour 1: value 6
    rows = [("a", 0, 10.0), ("a", 30 * 60_000_000, 20.0),
            ("a", day + hr, 6.0)]
    df = spark.createDataFrame(rows, "g string, us long, v double")
    out = {(r["dow"], r["hour"]): r for r in relational.seasonal_profile(
        df, "us", "v", ["g"]).collect()}
    c = out[(4, 0)]
    assert c["n"] == 2 and c["seasonal_avg"] == 15.0 and c["mae"] == 5.0
    c2 = out[(5, 1)]
    assert c2["n"] == 1 and c2["seasonal_avg"] == 6.0 and c2["mae"] == 0.0


# -- incremental connected components -----------------------------------------


def test_incremental_components_equals_full(spark):
    import random
    rng = random.Random(11)
    all_edges = list({(rng.randint(0, 40), rng.randint(0, 40))
                      for _ in range(60)})
    all_edges = [(a, b) for a, b in all_edges if a != b]
    hist = [(a, b) for a, b in all_edges if (a + b) % 4 != 0]
    batch = [(a, b) for a, b in all_edges if (a + b) % 4 == 0]
    e_all = spark.createDataFrame(all_edges, "id_a long, id_b long")
    e_h = spark.createDataFrame(hist, "id_a long, id_b long")
    e_b = spark.createDataFrame(batch, "id_a long, id_b long")
    full = sorted(map(tuple, dedup.connected_components(e_all).collect()))
    labels = dedup.connected_components(e_h)
    inc = sorted(map(tuple,
                     dedup.incremental_components(labels, e_b).collect()))
    assert inc == full


def test_incremental_components_merges_and_new_nodes(spark):
    # two components {1,2} {10,11}; batch bridges them and adds {100,101}
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10), (50, 50)],
        "node_id long, component long",
    )
    batch = spark.createDataFrame(
        [(2, 10), (100, 101)], "id_a long, id_b long")
    out = {r["node_id"]: r["component"] for r in
           dedup.incremental_components(labels, batch).collect()}
    assert out == {1: 1, 2: 1, 10: 1, 11: 1, 50: 50, 100: 100, 101: 100}


# -- int8 quantization --------------------------------------------------------


def test_int8_codes_bounds_and_error(spark):
    import math
    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    qz = vector_search.with_int8_codes(df).collect()
    for r in qz:
        assert all(-127 <= c <= 127 for c in r["codes"])
        # dequantized reconstruction error bounded by scale/2 per coord
        for x, c in zip(r["embedding"], r["codes"]):
            assert abs(x - c * r["scale"]) <= r["scale"] / 2 + 1e-12

    # quantized cosine close to exact cosine
    a, b = qz[0], qz[1]
    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return d / math.sqrt(sum(x * x for x in u) * sum(y * y for y in v))
    exact = cos(a["embedding"], b["embedding"])
    q8 = cos(a["codes"], b["codes"])
    assert abs(exact - q8) < 0.02


def test_int8_zero_vector_safe(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    qz = {r["vec_id"]: r for r in
          vector_search.with_int8_codes(df).collect()}
    assert qz[0]["codes"] == [0, 0] and qz[0]["scale"] == 1.0
    out = vector_search.with_int8_codes(df).select(
        vector_search.int8_cosine("codes", "codes").alias("c")).collect()
    assert [r["c"] for r in out] == [0.0, 1.0]


# -- fuzzy record linkage -----------------------------------------------------


def test_fuzzy_string_pairs_links_typos(spark):
    df = spark.createDataFrame(
        [("red widget",), ("red widgit",), ("red widget",),
         ("blue bolt",), ("green gear",)],
        "name string",
    )
    rows = {(r["name_a"], r["name_b"]): r for r in
            dedup.fuzzy_string_pairs(df, "name", max_dist=2).collect()}
    assert set(rows) == {("red widget", "red widgit")}
    r = rows[("red widget", "red widgit")]
    assert r["dist"] == 1 and {r["n_a"], r["n_b"]} == {1, 2}


def test_fuzzy_string_pairs_df_cap_blocks_stop_tokens(spark):
    # every name shares 'the'; cap excludes that block entirely
    df = spark.createDataFrame(
        [("the aa",), ("the ab",), ("the zz",)], "name string")
    out = dedup.fuzzy_string_pairs(df, "name", max_dist=2, block_df_cap=2)
    # 'the' block (df=3) skipped; aa/ab/zz blocks are singletons
    assert out.count() == 0


# -- personalized PageRank ----------------------------------------------------


def test_ppr_concentrates_on_seed_neighborhood(spark):
    from cocoindex_data_ingestion_spark.operators import graph as graph_ops
    # two disjoint 3-cycles; seed in the first
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    r = {row["node_id"]: row["rank_fp"] for row in
         graph_ops.ppr_fixedpoint(edges, seeds=[1], n_iter=5).collect()}
    # all mass stays in the seed component
    assert r[10] == 0 and r[11] == 0 and r[12] == 0
    assert r[1] > r[2] > 0 and r[3] > 0


def test_ppr_partitioning_invariant(spark):
    from cocoindex_data_ingestion_spark.operators import graph as graph_ops
    import random
    rng = random.Random(5)
    e = list({(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(80)})
    df = spark.createDataFrame([p for p in e if p[0] != p[1]],
                               "src long, dst long")
    a = sorted(map(tuple, graph_ops.ppr_fixedpoint(
        df, seeds=[0, 1], n_iter=3).collect()))
    b = sorted(map(tuple, graph_ops.ppr_fixedpoint(
        df.repartition(11), seeds=[0, 1], n_iter=3).collect()))
    assert a == b


# -- winsorize / report / gapfill ---------------------------------------------


def test_winsorize_clamps_to_group_bounds(spark):
    rows = [("a", float(i)) for i in range(1, 101)] + [("a", 1000.0)]
    df = spark.createDataFrame(rows, "g string, value double")
    out = curation.winsorize(df, "value", ["g"], 0.05, 0.95)
    pdf = out.toPandas()
    assert (pdf["value_w"] <= pdf["hi_bound"]).all()
    assert (pdf["value_w"] >= pdf["lo_bound"]).all()
    assert pdf[pdf["value"] == 1000.0]["value_w"].iloc[0] == \
        pdf["hi_bound"].iloc[0]
    assert (pdf[(pdf["value"] > pdf["lo_bound"])
                & (pdf["value"] < pdf["hi_bound"])]["value_w"]
            == pdf[(pdf["value"] > pdf["lo_bound"])
                   & (pdf["value"] < pdf["hi_bound"])]["value"]).all()


def test_classification_report_hand_computed(spark):
    from cocoindex_data_ingestion_spark.operators import classifier
    df = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")],
        "label string, pred string",
    )
    out = {r["label"]: r for r in
           classifier.classification_report(df).collect()}
    a = out["a"]
    assert (a["n_actual"], a["n_predicted"], a["n_correct"]) == (3, 3, 2)
    assert a["precision"] == round(2 / 3, 4) and a["recall"] == round(2 / 3, 4)
    b = out["b"]
    assert (b["n_actual"], b["n_predicted"], b["n_correct"]) == (2, 2, 1)
    assert b["f1"] == 0.5


# -- count-min sketch ---------------------------------------------------------


def test_cms_one_sided_error_and_merge(spark):
    from cocoindex_data_ingestion_spark.operators import sketches

    rows = [(f"k{i % 7}",) for i in range(700)] + [("rare",)]
    df = spark.createDataFrame(rows, "k string")
    cms = sketches.cms_table(df, "k", depth=4, width=64)
    keys = df.select("k").distinct()
    est = {r["k"]: r["cms_est"] for r in
           sketches.cms_estimate(cms, keys, "k", 4, 64).collect()}
    exact = {f"k{i}": 100 for i in range(7)}
    exact["rare"] = 1
    for k, n in exact.items():
        assert est[k] >= n                       # one-sided
        assert est[k] <= n + 2 * 701 / 64 + 1    # collision bound-ish

    # merge = cell-wise sum: sketch(a) + sketch(b) == sketch(a ∪ b)
    half1 = spark.createDataFrame(rows[:350], "k string")
    half2 = spark.createDataFrame(rows[350:], "k string")
    m1 = sketches.cms_table(half1, "k", 4, 64)
    m2 = sketches.cms_table(half2, "k", 4, 64)
    merged = (m1.unionByName(m2).groupBy("j", "bucket")
              .agg(F.sum("c").alias("c")))
    direct = sketches.cms_table(df, "k", 4, 64)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))


# -- chi-square independence ---------------------------------------------------


class TestChi2Independence:
    def test_independent_columns_score_zero(self, spark):
        # Perfectly proportional table: chi2 = 0, V = 0.
        rows = []
        for a in ("x", "y"):
            for b in ("p", "q"):
                rows += [(a, b)] * 10
        df = spark.createDataFrame(rows, "a string, b string")
        r = relational.chi2_independence(df, "a", "b").collect()[0]
        assert r.n == 40
        assert r.dof == 1
        assert r.chi2 == pytest.approx(0.0, abs=1e-6)
        assert r.cramers_v == pytest.approx(0.0, abs=1e-6)

    def test_perfect_association(self, spark):
        # a fully determines b: chi2 = n, Cramer's V = 1.
        rows = [("x", "p")] * 12 + [("y", "q")] * 12
        df = spark.createDataFrame(rows, "a string, b string")
        r = relational.chi2_independence(df, "a", "b").collect()[0]
        assert r.chi2 == pytest.approx(24.0, abs=1e-4)
        assert r.cramers_v == pytest.approx(1.0, abs=1e-4)

    def test_known_2x2(self, spark):
        # observed [[10, 20], [30, 40]]: chi2 = 100^2*(1/30+1/70+1/40+1/60)/...
        # classic closed form: n(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))
        rows = (
            [("x", "p")] * 10 + [("x", "q")] * 20
            + [("y", "p")] * 30 + [("y", "q")] * 40
        )
        df = spark.createDataFrame(rows, "a string, b string")
        r = relational.chi2_independence(df, "a", "b").collect()[0]
        expect = 100 * (10 * 40 - 20 * 30) ** 2 / (30 * 70 * 40 * 60)
        assert r.chi2 == pytest.approx(expect, abs=1e-3)


# -- merged-interval coverage ----------------------------------------------------


class TestIntervalCoverage:
    def _run(self, spark, rows):
        df = spark.createDataFrame(rows, "k long, s long, e long")
        return {
            r.k: r
            for r in relational.interval_coverage(df, "k", "s", "e").collect()
        }

    def test_disjoint_intervals_sum(self, spark):
        out = self._run(spark, [(1, 0, 10), (1, 20, 25)])
        assert out[1].n_intervals == 2
        assert out[1].n_merged == 2
        assert out[1].coverage == 15

    def test_overlap_merges(self, spark):
        out = self._run(spark, [(1, 0, 10), (1, 5, 20), (1, 18, 30)])
        assert out[1].n_merged == 1
        assert out[1].coverage == 30

    def test_touching_intervals_merge(self, spark):
        # half-open [0,10) + [10,20) union to [0,20)
        out = self._run(spark, [(1, 0, 10), (1, 10, 20)])
        assert out[1].n_merged == 1
        assert out[1].coverage == 20

    def test_contained_interval_absorbed(self, spark):
        out = self._run(spark, [(1, 0, 100), (1, 10, 20)])
        assert out[1].n_merged == 1
        assert out[1].coverage == 100

    def test_keys_independent(self, spark):
        out = self._run(spark, [(1, 0, 10), (2, 5, 9)])
        assert out[1].coverage == 10
        assert out[2].coverage == 4


# -- prefix-filtered exact Jaccard ------------------------------------------------


class TestJaccardPrefix:
    def test_near_identical_docs_found(self, spark):
        base = " ".join(f"w{i}" for i in range(30))
        docs = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "totally different text here")],
            "doc_id long, text string",
        )
        out = dedup.jaccard_prefix_pairs(docs, threshold=0.5, n=3).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.id_a, r.id_b) == (1, 2)
        # 28 shared shingles of 28 vs 29: J = 28/29
        assert r.jaccard == pytest.approx(28 / 29, abs=1e-3)

    def test_lossless_vs_bruteforce(self, spark):
        # prefix filtering must find EXACTLY the pairs a brute-force
        # all-pairs Jaccard finds (the lossless guarantee df-capping
        # does not give)
        import itertools
        texts = {
            1: "a b c d e f g h i j",
            2: "a b c d e f g h i x",
            3: "a b c d e f g h x y",
            4: "z1 z2 z3 z4 z5 z6 z7 z8",
            5: "z1 z2 z3 z4 z5 z6 z7 z8",
        }
        def sh(t, n=3):
            toks = t.split()
            return set(" ".join(toks[i:i+n]) for i in range(len(toks)-n+1))
        expect = set()
        for a, b in itertools.combinations(sorted(texts), 2):
            sa, sb = sh(texts[a]), sh(texts[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                expect.add((a, b))
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            (r.id_a, r.id_b)
            for r in dedup.jaccard_prefix_pairs(
                docs, threshold=0.5, n=3
            ).collect()
        }
        assert got == expect


# -- readability -------------------------------------------------------------------


class TestReadability:
    def test_known_sentence(self, spark):
        from cocoindex_data_ingestion_spark.operators import text_analysis
        docs = spark.createDataFrame(
            [(1, "The cat sat. The dog ran!")], "doc_id long, text string"
        )
        r = text_analysis.readability(docs).collect()[0]
        assert r.n_words == 6
        assert r.n_sentences == 2
        # vowel groups: e, a, a, e, o, a -> 6
        assert r.n_syllables == 6
        expect = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
        assert r.flesch == pytest.approx(expect, abs=1e-3)

    def test_no_terminator_counts_one_sentence(self, spark):
        from cocoindex_data_ingestion_spark.operators import text_analysis
        docs = spark.createDataFrame(
            [(1, "no punctuation at all here")], "doc_id long, text string"
        )
        r = text_analysis.readability(docs).collect()[0]
        assert r.n_sentences == 1


# -- mutual information ---------------------------------------------------------


class TestMutualInformation:
    def test_independent_is_zero(self, spark):
        rows = []
        for a in ("x", "y"):
            for b in ("p", "q"):
                rows += [(a, b)] * 5
        df = spark.createDataFrame(rows, "a string, b string")
        r = relational.mutual_information(df, "a", "b").collect()[0]
        assert r.mi == pytest.approx(0.0, abs=1e-6)
        assert r.nmi == pytest.approx(0.0, abs=1e-6)

    def test_identical_columns_nmi_one(self, spark):
        import math
        rows = [("x", "x")] * 10 + [("y", "y")] * 30
        df = spark.createDataFrame(rows, "a string, b string")
        r = relational.mutual_information(df, "a", "b").collect()[0]
        h = -(0.25 * math.log(0.25) + 0.75 * math.log(0.75))
        assert r.h_a == pytest.approx(h, abs=1e-4)
        assert r.mi == pytest.approx(h, abs=1e-4)
        assert r.nmi == pytest.approx(1.0, abs=1e-4)


# -- distinct n-grams -------------------------------------------------------------


class TestDistinctNgrams:
    def test_repetitive_vs_diverse(self, spark):
        from cocoindex_data_ingestion_spark.operators import text_analysis
        docs = spark.createDataFrame(
            [
                (1, "a a a a a a a a", "rep"),
                (2, "w1 w2 w3 w4 w5 w6 w7 w8", "div"),
            ],
            "doc_id long, text string, source string",
        )
        out = {
            (r.source, r.n): r
            for r in text_analysis.distinct_ngram_profile(docs).collect()
        }
        assert out[("rep", 1)].total_ngrams == 8
        assert out[("rep", 1)].distinct_ngrams == 1
        assert out[("div", 1)].distinct_ratio == pytest.approx(1.0)
        assert out[("rep", 2)].total_ngrams == 7
        assert out[("rep", 2)].distinct_ngrams == 1
        assert out[("div", 3)].total_ngrams == 6
        assert out[("div", 3)].distinct_ngrams == 6

    def test_grams_do_not_cross_documents(self, spark):
        from cocoindex_data_ingestion_spark.operators import text_analysis
        # two docs of the same source: "a b" and "c d" must NOT create
        # bigram "b c"
        docs = spark.createDataFrame(
            [(1, "a b", "s"), (2, "c d", "s")],
            "doc_id long, text string, source string",
        )
        out = {
            r.n: r
            for r in text_analysis.distinct_ngram_profile(docs).collect()
        }
        assert out[2].total_ngrams == 2
        assert out[2].distinct_ngrams == 2


# -- two-sample KS -----------------------------------------------------------------


class TestKsTest:
    def test_identical_distributions(self, spark):
        rows = [("a", float(v)) for v in range(10)] + [
            ("b", float(v)) for v in range(10)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        r = relational.ks_test_2samp(df, "g", "v", "a", "b").collect()[0]
        assert r.n_a == 10 and r.n_b == 10
        assert r.d_stat == pytest.approx(0.0, abs=1e-6)
        assert r.p_approx == pytest.approx(1.0, abs=0.05)

    def test_disjoint_distributions(self, spark):
        rows = [("a", float(v)) for v in range(10)] + [
            ("b", float(v + 100)) for v in range(10)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        r = relational.ks_test_2samp(df, "g", "v", "a", "b").collect()[0]
        assert r.d_stat == pytest.approx(1.0, abs=1e-6)
        assert r.p_approx < 0.01

    def test_known_d(self, spark):
        # a = {1..8}, b = {5..12}: D is max at v in [4, 5):
        # F_a(4.x) = 4/8, F_b = 0 -> D = 0.5
        rows = [("a", float(v)) for v in range(1, 9)] + [
            ("b", float(v)) for v in range(5, 13)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        r = relational.ks_test_2samp(df, "g", "v", "a", "b").collect()[0]
        assert r.d_stat == pytest.approx(0.5, abs=1e-6)


# -- sorted-neighborhood linkage -----------------------------------------------------


class TestSortedNeighborhood:
    def test_adjacent_typo_found(self, spark):
        df = spark.createDataFrame(
            [("widget blue",), ("widget blua",), ("zzz unrelated",)],
            "name string",
        )
        out = dedup.sorted_neighborhood_pairs(df, "name", window=3).collect()
        assert len(out) == 1
        r = out[0]
        assert {r.name_a, r.name_b} == {"widget blue", "widget blua"}
        assert r.dist == 1
        assert r.rank_gap == 1

    def test_window_bounds_pairs(self, spark):
        # five names each 1 edit from neighbors; window=1 only links
        # sort-adjacent pairs
        names = [("n%da" % i,) for i in range(5)]
        df = spark.createDataFrame(names, "name string")
        out = dedup.sorted_neighborhood_pairs(df, "name", window=1, max_dist=3)
        assert out.count() == 4

    def test_multiplicities_carried(self, spark):
        df = spark.createDataFrame(
            [("abc",), ("abc",), ("abd",)], "name string"
        )
        r = dedup.sorted_neighborhood_pairs(df, "name", window=2).collect()[0]
        assert {r.n_a, r.n_b} == {2, 1}


# -- Zipf fit --------------------------------------------------------------------------


class TestZipfFit:
    def test_perfect_zipf_slope(self, spark):
        # construct frequencies cnt(rank) = round(1000 / rank) for
        # ranks 1..20 with unique tokens: slope should be ~ -1
        rows = []
        for rank in range(1, 21):
            rows += [(f"t{rank:02d} ",)] * round(1000 / rank)
        docs = spark.createDataFrame(
            [(i, r[0]) for i, r in enumerate(rows)], "doc_id long, text string"
        )
        from cocoindex_data_ingestion_spark.operators import text_analysis
        r = text_analysis.zipf_fit(docs, top_k=20).collect()[0]
        assert r.k == 20
        assert r.slope == pytest.approx(-1.0, abs=0.02)
        assert r.r2 > 0.999

    def test_uniform_corpus_slope_zero(self, spark):
        rows = [(i, f"u{i % 10}") for i in range(100)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        from cocoindex_data_ingestion_spark.operators import text_analysis
        r = text_analysis.zipf_fit(docs, top_k=10).collect()[0]
        assert r.slope == pytest.approx(0.0, abs=1e-6)


# -- PMI collocations --------------------------------------------------------------------


class TestCollocations:
    def test_bound_phrase_beats_frequent_pair(self, spark):
        import math
        # "alpha beta" always adjacent (perfect collocation);
        # "the the" frequent but independent filler
        text_a = " ".join(["alpha beta"] * 10)
        text_b = " ".join(["the"] * 40)
        docs = spark.createDataFrame(
            [(1, text_a), (2, text_b)], "doc_id long, text string"
        )
        from cocoindex_data_ingestion_spark.operators import text_analysis
        out = text_analysis.collocations_pmi(
            docs, top_k=5, min_count=5
        ).collect()
        by = {r.bigram: r for r in out}
        assert "alpha beta" in by
        assert by["alpha beta"].pmi > by["the the"].pmi

    def test_bigrams_stay_within_documents(self, spark):
        # doc1 ends with 'x', doc2 starts with 'y': bigram "x y" must
        # not exist
        docs = spark.createDataFrame(
            [(1, " ".join(["a b"] * 6) + " x"), (2, "y " + " ".join(["a b"] * 6))],
            "doc_id long, text string",
        )
        from cocoindex_data_ingestion_spark.operators import text_analysis
        out = text_analysis.collocations_pmi(docs, top_k=20, min_count=1)
        assert out.filter(F.col("bigram") == "x y").count() == 0


# -- label propagation ------------------------------------------------------------------


class TestLabelPropagation:
    def test_two_cliques_two_communities(self, spark):
        from cocoindex_data_ingestion_spark.operators import graph as g
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
            "src long, dst long",
        )
        lab = {r.node_id: r.label for r in
               g.label_propagation_fixed(edges, n_iter=3).collect()}
        assert len({lab[1], lab[2], lab[3]}) == 1
        assert len({lab[10], lab[11], lab[12]}) == 1
        assert lab[1] != lab[10]

    def test_min_label_tiebreak(self, spark):
        from cocoindex_data_ingestion_spark.operators import graph as g
        # single edge 5-9: after round 1 each adopts the other's label
        # (5 -> 9's only neighbor label is 5... and vice versa); with
        # fixed synchronous rounds labels swap each round — after 3
        # (odd) rounds node 5 has label 9 and node 9 has label 5? No:
        # round 1: 5 adopts 9? its only neighbor is 9 with label 9 ->
        # 5:9, 9:5. round 2: 5's neighbor 9 has label 5 -> 5:5, 9:9.
        # round 3: 5:9, 9:5. The oscillation is exactly why the op is
        # FIXED-round: determinism is the contract, not convergence.
        lab = {r.node_id: r.label for r in
               g.label_propagation_fixed(
                   spark.createDataFrame([(5, 9)], "src long, dst long"),
                   n_iter=3,
               ).collect()}
        assert lab == {5: 9, 9: 5}


# -- Kaplan-Meier survival ------------------------------------------------------


class TestSurvivalKM:
    def _events(self, spark, rows):
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        )

    def test_hand_computed_curve(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)

        def at(days):
            return t0 + dt.timedelta(days=days)

        # 4 subjects: u1 converts day 1, u2 day 1, u3 day 3,
        # u4 never (censored at last obs = day 5)
        rows = [
            (1, at(0), "signup"), (1, at(1), "purchase"),
            (2, at(0), "signup"), (2, at(1.2), "purchase"),
            (3, at(0), "signup"), (3, at(3), "purchase"),
            (4, at(0), "signup"), (4, at(5), "click"),
        ]
        out = {
            r["t_day"]: r
            for r in relational.survival_km(self._events(spark, rows)).collect()
        }
        # day 1: n_risk=4, d=2 -> S = 2/4 = 0.5
        assert out[1]["n_risk"] == 4 and out[1]["d_events"] == 2
        assert abs(out[1]["survival"] - 0.5) < 1e-6
        # day 3: n_risk=2, d=1 -> S = 0.5 * 1/2 = 0.25
        assert out[3]["n_risk"] == 2 and out[3]["d_events"] == 1
        assert abs(out[3]["survival"] - 0.25) < 1e-6
        # censored subject never appears as an event row
        assert set(out) == {1, 3}

    def test_risk_set_exhausted_is_exact_zero(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0, "signup"),
            (1, t0 + dt.timedelta(days=2), "purchase"),
        ]
        out = relational.survival_km(self._events(spark, rows)).collect()
        assert len(out) == 1
        assert out[0]["survival"] == 0.0

    def test_pre_entry_events_ignored(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        # purchase BEFORE signup must not count as conversion
        rows = [
            (1, t0 + dt.timedelta(days=2), "signup"),
            (1, t0, "purchase"),
            (2, t0, "signup"),
            (2, t0 + dt.timedelta(days=4), "purchase"),
        ]
        out = relational.survival_km(self._events(spark, rows)).collect()
        # u1 censored (no post-entry purchase): censored at max ts (day 4
        # = 2 days after u1's entry); u2 converts at day 4
        assert [(r["t_day"], r["d_events"]) for r in out] == [(4, 1)]


# -- Welch t-test ---------------------------------------------------------------


class TestWelchTtest:
    def test_matches_scipy_shape(self, spark):
        # hand-computable: a = [1,2,3], b = [2,4,6,8]
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0),
             ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0)],
            "g string, v double",
        )
        r = relational.welch_ttest(df, "g", "v", "a", "b").collect()[0]
        assert r["n_a"] == 3 and r["n_b"] == 4
        assert abs(r["mean_a"] - 2.0) < 1e-9
        assert abs(r["mean_b"] - 5.0) < 1e-9
        # Welch: va=1, vb=20/3; se=1/3+5/3=2; t=-3/sqrt(2)
        assert abs(r["t_stat"] - (-3.0 / 2.0**0.5)) < 1e-3
        # dof = 4 / (1/18 + 25/27) = 4.0755...
        assert abs(r["dof"] - 4.0755) < 1e-3

    def test_rescaling_invariance(self, spark):
        rows = [("a", float(i)) for i in range(1, 20)] + [
            ("b", float(i * 1.7)) for i in range(1, 25)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        t1 = relational.welch_ttest(df, "g", "v", "a", "b").collect()[0]
        t2 = relational.welch_ttest(
            df, "g", "v", "a", "b", value_norm=10.0
        ).collect()[0]
        assert abs(t1["t_stat"] - t2["t_stat"]) < 1e-3
        assert abs(t1["dof"] - t2["dof"]) < 1e-2


# -- sweep-line concurrency ------------------------------------------------------


class TestConcurrency:
    def test_overlapping_spans(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)

        def at(minutes):
            return t0 + dt.timedelta(minutes=minutes)

        # u1 active [0, 60], u2 [30, 90], u3 [120, 130]:
        # peak 2 (u1 and u2 overlap), 3 active users that day
        rows = [
            (1, at(0)), (1, at(60)),
            (2, at(30)), (2, at(90)),
            (3, at(120)), (3, at(130)),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = relational.concurrency_profile(df).collect()
        assert len(out) == 1
        assert out[0]["peak_concurrent"] == 2
        assert out[0]["n_active_users"] == 3

    def test_touching_endpoints_count_as_overlap(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        # u2 starts exactly when u1 ends: inclusive convention -> peak 2
        rows = [
            (1, t0), (1, t0 + dt.timedelta(minutes=10)),
            (2, t0 + dt.timedelta(minutes=10)),
            (2, t0 + dt.timedelta(minutes=20)),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = relational.concurrency_profile(df).collect()
        assert out[0]["peak_concurrent"] == 2

    def test_days_partition_independently(self, spark):
        import datetime as dt

        rows = []
        for day in range(3):
            base = dt.datetime(2024, 1, 1 + day)
            for u in range(day + 1):
                rows.append((u, base))
                rows.append((u, base + dt.timedelta(hours=1)))
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = sorted(
            relational.concurrency_profile(df).collect(),
            key=lambda r: r["day"],
        )
        assert [r["peak_concurrent"] for r in out] == [1, 2, 3]


# -- sequence pair support --------------------------------------------------------


class TestSequencePairs:
    def test_subsequence_rewrite(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)

        def at(m):
            return t0 + dt.timedelta(minutes=m)

        rows = [
            # u1: view -> click -> view  (view<click YES via first view;
            #                             click<view YES via last view)
            (1, at(0), "view"), (1, at(1), "click"), (1, at(2), "view"),
            # u2: click only
            (2, at(0), "click"),
            # u3: click -> view (view->click NO, click->view YES)
            (3, at(0), "click"), (3, at(1), "view"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        )
        out = {
            (r["type_a"], r["type_b"]): r
            for r in relational.sequence_pair_support(df).collect()
        }
        assert out[("view", "click")]["n_users"] == 1
        assert out[("click", "view")]["n_users"] == 2
        assert abs(out[("click", "view")]["support"] - 2 / 3) < 1e-5

    def test_same_timestamp_not_before(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, t0, "view"), (1, t0, "click")],
            "user_id long, ts timestamp, event_type string",
        )
        assert relational.sequence_pair_support(df).count() == 0


# -- modularity --------------------------------------------------------------------


class TestModularity:
    def _two_triangles(self, spark):
        # triangles {1,2,3} and {4,5,6} joined by bridge 3-4
        edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
        return spark.createDataFrame(edges, "src long, dst long")

    def test_two_communities_hand_value(self, spark):
        from cocoindex_data_ingestion_spark.operators import graph as g

        edges = self._two_triangles(spark)
        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
            "node_id long, label long",
        )
        rows = {r["community"]: r for r in g.modularity(edges, labels).collect()}
        # m=7; each triangle: e=3, deg_sum=7 -> q = 3/7 - (7/14)^2
        expect = 3 / 7 - 0.25
        for c in (1, 4):
            assert rows[c]["e_intra"] == 3
            assert rows[c]["deg_sum"] == 7
            assert abs(rows[c]["q_contrib"] - expect) < 1e-6
        assert abs(sum(r["q_contrib"] for r in rows.values()) - 2 * expect) < 1e-6

    def test_single_community_is_zero(self, spark):
        from cocoindex_data_ingestion_spark.operators import graph as g

        edges = self._two_triangles(spark)
        labels = spark.createDataFrame(
            [(i, 1) for i in range(1, 7)], "node_id long, label long"
        )
        rows = g.modularity(edges, labels).collect()
        assert len(rows) == 1
        assert abs(rows[0]["q_contrib"]) < 1e-9

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        from cocoindex_data_ingestion_spark.operators import graph as g

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (2, 3)], "src long, dst long"
        )
        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 3)], "node_id long, label long"
        )
        rows = {r["community"]: r for r in g.modularity(edges, labels).collect()}
        # simple graph: 2 edges (1-2, 2-3)
        assert rows[1]["e_intra"] == 1 and rows[1]["deg_sum"] == 3


# -- ROC-AUC -----------------------------------------------------------------------


class TestAucBinary:
    def _auc(self, spark, rows):
        from cocoindex_data_ingestion_spark.operators import evaluation

        df = spark.createDataFrame(rows, "score double, lab int")
        return evaluation.auc_binary(df, "score", "lab").collect()[0]

    def test_perfect_separation(self, spark):
        rows = [(float(i), 0) for i in range(5)] + [
            (float(10 + i), 1) for i in range(5)
        ]
        r = self._auc(spark, rows)
        assert r["n_pos"] == 5 and r["n_neg"] == 5
        assert r["auc"] == 1.0 and r["gini"] == 1.0

    def test_all_tied_is_half(self, spark):
        rows = [(1.0, 1)] * 4 + [(1.0, 0)] * 6
        r = self._auc(spark, rows)
        assert abs(r["auc"] - 0.5) < 1e-9
        assert abs(r["gini"]) < 1e-9

    def test_hand_computed_with_ties(self, spark):
        # pos scores [1, 2, 3], neg scores [1, 2]:
        # pairs: (1,1)=.5 (1,2)=0 (2,1)=1 (2,2)=.5 (3,1)=1 (3,2)=1 -> 4/6
        rows = [(1.0, 1), (2.0, 1), (3.0, 1), (1.0, 0), (2.0, 0)]
        r = self._auc(spark, rows)
        assert abs(r["auc"] - 4 / 6) < 1e-6

    def test_partitioning_invariant(self, spark):
        from cocoindex_data_ingestion_spark.operators import evaluation

        import random

        rnd = random.Random(7)
        rows = [
            (round(rnd.random(), 3), rnd.randint(0, 1)) for _ in range(500)
        ]
        df = spark.createDataFrame(rows, "score double, lab int")
        a = evaluation.auc_binary(df, "score", "lab").collect()[0]
        b = evaluation.auc_binary(df.repartition(13), "score", "lab").collect()[0]
        assert a["auc"] == b["auc"]


# -- item-item CF --------------------------------------------------------------------


class TestItemItemCF:
    def _weights(self, spark, rows, cap=50):
        from cocoindex_data_ingestion_spark.operators import recommend

        df = spark.createDataFrame(rows, "u long, it long")
        return recommend.interaction_weights(df, "u", "it", cap)

    def test_cosine_hand_computed(self, spark):
        from cocoindex_data_ingestion_spark.operators import recommend

        # u1: A,A,B  u2: A,B  u3: B
        rows = [(1, 10), (1, 10), (1, 20), (2, 10), (2, 20), (3, 20)]
        w = self._weights(spark, rows)
        sims = {
            (r["item_a"], r["item_b"]): r
            for r in recommend.item_item_cosine(w, min_co_users=1).collect()
        }
        r = sims[(10, 20)]
        # vectors: A=(2,1,0), B=(1,1,1): dot=3, |A|=sqrt5, |B|=sqrt3
        assert r["dot"] == 3 and r["n_co_users"] == 2
        assert abs(r["cosine"] - 3 / (5**0.5 * 3**0.5)) < 1e-4

    def test_cap_bounds_pairs(self, spark):
        from cocoindex_data_ingestion_spark.operators import recommend

        # one user interacts with 5 items once each; cap=2 keeps the
        # two smallest item ids (w ties -> item asc)
        rows = [(1, i) for i in range(5)]
        w = self._weights(spark, rows, cap=2)
        kept = sorted(r["it"] for r in w.collect())
        assert kept == [0, 1]
        pairs = recommend.item_item_cosine(w, min_co_users=1).collect()
        assert len(pairs) == 1

    def test_recommendations_exclude_owned(self, spark):
        from cocoindex_data_ingestion_spark.operators import recommend

        # u1 owns A; u2,u3 own A+B -> B recommended to u1
        rows = [(1, 10), (2, 10), (2, 20), (3, 10), (3, 20)]
        w = self._weights(spark, rows)
        sims = recommend.item_item_cosine(w, min_co_users=1)
        recs = recommend.recommend_items(w, sims, 1, k=5).collect()
        assert [r["item"] for r in recs] == [20]
        # score = cosine(A,B) * w_owned(A) = (2/(sqrt3*sqrt2)) * 1
        assert abs(recs[0]["score"] - 2 / (3**0.5 * 2**0.5)) < 1e-3


# -- Heaps' law ---------------------------------------------------------------------


class TestHeapsFit:
    def test_closed_vocab_beta_near_zero(self, spark):
        from cocoindex_data_ingestion_spark.operators import text_analysis

        # same 3 tokens repeated: V saturates at 3 -> beta ~ 0
        docs = spark.createDataFrame(
            [(i, "alpha beta gamma") for i in range(1, 21)],
            "doc_id long, text string",
        )
        r = text_analysis.heaps_fit(docs).collect()[0]
        assert r["vocab"] == 3
        assert r["n_tokens"] == 60
        assert abs(r["beta"]) < 0.2

    def test_all_new_tokens_beta_one(self, spark):
        from cocoindex_data_ingestion_spark.operators import text_analysis

        # every token unique: V == N -> beta == 1, K == 1, perfect fit
        docs = spark.createDataFrame(
            [(i, f"tok{i}a tok{i}b tok{i}c") for i in range(1, 21)],
            "doc_id long, text string",
        )
        r = text_analysis.heaps_fit(docs).collect()[0]
        assert r["vocab"] == r["n_tokens"] == 60
        assert abs(r["beta"] - 1.0) < 1e-6
        assert abs(r["k_coef"] - 1.0) < 1e-6
        assert abs(r["r2"] - 1.0) < 1e-6

    def test_partitioning_invariant(self, spark):
        from cocoindex_data_ingestion_spark.operators import text_analysis

        docs = spark.createDataFrame(
            [(i, f"common word plus tok{i} and tok{i % 7}") for i in range(1, 40)],
            "doc_id long, text string",
        )
        a = text_analysis.heaps_fit(docs).collect()[0]
        b = text_analysis.heaps_fit(docs.repartition(11)).collect()[0]
        assert a == b


# -- TWAP --------------------------------------------------------------------------


class TestTwap:
    def test_step_function_hand_value(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)

        def at(h):
            return t0 + dt.timedelta(hours=h)

        # value 10 holds 1h, then 20 holds 3h: twap = (10*1 + 20*3)/4
        df = spark.createDataFrame(
            [("a", at(0), 10.0), ("a", at(1), 20.0), ("a", at(4), 0.0)],
            "g string, ts timestamp, value double",
        )
        r = relational.twap(df, ["g"]).collect()[0]
        assert r["n_obs"] == 3
        assert abs(r["twap"] - (10 * 1 + 20 * 3) / 4) < 1e-3

    def test_single_observation_falls_back(self, spark):
        import datetime as dt

        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1), 7.5)],
            "g string, ts timestamp, value double",
        )
        r = relational.twap(df, ["g"]).collect()[0]
        assert r["twap"] == 7.5

    def test_uneven_sampling_differs_from_avg(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        # nine quick samples at 1, then a long dwell at 100
        rows = [("a", t0 + dt.timedelta(minutes=i), 1.0) for i in range(9)]
        rows.append(("a", t0 + dt.timedelta(minutes=9), 100.0))
        rows.append(("a", t0 + dt.timedelta(hours=10), 100.0))
        df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
        r = relational.twap(df, ["g"]).collect()[0]
        # dwell dominates: twap near 100, nothing like the mean (~19)
        assert r["twap"] > 90


# -- CUSUM change point --------------------------------------------------------------


class TestCusum:
    def test_finds_level_shift(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        # 10 days at 2/day, then 10 days at 20/day
        for d in range(20):
            per_day = 2 if d < 10 else 20
            for i in range(per_day):
                rows.append(("a", t0 + dt.timedelta(days=d, minutes=i)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        r = relational.cusum_changepoint(df, "event_type").collect()[0]
        # CUSUM peaks at the last pre-shift day
        day0 = int(
            (t0 - dt.datetime(1970, 1, 1)).total_seconds() // 86400
        )
        assert r["change_day"] == day0 + 9
        assert r["n_days"] == 20
        # max |CUSUM| = 10 days * (11 - 2) = 90
        assert abs(r["cusum"] - 90.0) < 1e-9

    def test_flat_series_zero(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("a", t0 + dt.timedelta(days=d, minutes=i))
            for d in range(10)
            for i in range(3)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        r = relational.cusum_changepoint(df, "event_type").collect()[0]
        assert r["cusum"] == 0.0


# -- Gini ----------------------------------------------------------------------------


class TestGini:
    def _gini(self, spark, amounts):
        df = spark.createDataFrame(
            [(i, float(a)) for i, a in enumerate(amounts)],
            "k long, amt double",
        )
        cents = F.floor(F.col("amt") * F.lit(100.0) + F.lit(0.5)).cast("long")
        return relational.gini_coefficient(df, "k", cents).collect()[0]

    def test_perfect_equality_zero(self, spark):
        r = self._gini(spark, [10.0] * 8)
        assert abs(r["gini"]) < 1e-9

    def test_total_concentration(self, spark):
        # one key owns everything: G -> (n-1)/n
        r = self._gini(spark, [0.0] * 9 + [100.0])
        assert abs(r["gini"] - 0.9) < 1e-9

    def test_known_small_case(self, spark):
        # x = [1, 3]: G = 2*(1*1+2*3)/(2*4) - 3/2 = 14/8 - 1.5 = 0.25
        r = self._gini(spark, [1.0, 3.0])
        assert abs(r["gini"] - 0.25) < 1e-9

    def test_partitioning_invariant(self, spark):
        import random

        rnd = random.Random(3)
        amounts = [rnd.uniform(0, 500) for _ in range(300)]
        df = spark.createDataFrame(
            [(i, a) for i, a in enumerate(amounts)], "k long, amt double"
        )
        cents = F.floor(F.col("amt") * F.lit(100.0) + F.lit(0.5)).cast("long")
        a = relational.gini_coefficient(df, "k", cents).collect()[0]
        b = relational.gini_coefficient(
            df.repartition(17), "k", cents
        ).collect()[0]
        assert a == b


# -- Poisson bootstrap ------------------------------------------------------------


class TestBootstrapCI:
    def test_interval_brackets_mean_and_shrinks(self, spark):
        from cocoindex_data_ingestion_spark.operators import evaluation

        rows = [(i, float(100 + (i % 7))) for i in range(400)]
        df = spark.createDataFrame(rows, "id long, v double")
        r = evaluation.bootstrap_mean_ci(df, "v", "id", b=40).collect()[0]
        assert r["n_rows"] == 400 and r["b_replicas"] == 40
        assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
        # values span [100, 106]: a 95% CI on the mean of 400 rows is tight
        assert r["ci_hi"] - r["ci_lo"] < 1.0
        assert 100.0 < r["ci_lo"] and r["ci_hi"] < 106.0

    def test_deterministic_and_partition_invariant(self, spark):
        from cocoindex_data_ingestion_spark.operators import evaluation

        rows = [(i, float(i % 13)) for i in range(300)]
        df = spark.createDataFrame(rows, "id long, v double")
        a = evaluation.bootstrap_mean_ci(df, "v", "id", b=20).collect()[0]
        b = evaluation.bootstrap_mean_ci(
            df.repartition(9), "v", "id", b=20
        ).collect()[0]
        assert a == b

    def test_poisson_weights_mean_near_one(self, spark):
        # the thresholds encode Poisson(1): across many (row, replica)
        # draws the total weight should be close to the number of draws
        from pyspark.sql import functions as F

        from cocoindex_data_ingestion_spark.operators.evaluation import (
            POISSON1_T32,
        )

        df = spark.range(2000).select(F.col("id").cast("string").alias("s"))
        h = F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10).cast("long")
        w = sum(
            F.when(h >= F.lit(t), F.lit(1)).otherwise(F.lit(0))
            for t in POISSON1_T32
        )
        total = df.select(w.alias("w")).agg(F.sum("w")).collect()[0][0]
        assert abs(total / 2000 - 1.0) < 0.1


# -- weighted quantiles ----------------------------------------------------------


class TestWeightedQuantiles:
    def test_hand_computed(self, spark):
        # values 1..4 with weights 1,1,1,7 (W=10):
        # p25 -> first v with cw>=2.5 -> 3? cw: 1,2,3,10 -> p25=3 (cw 3>=2.5)
        # p50 -> cw>=5 -> 4; p75 -> cw>=7.5 -> 4
        df = spark.createDataFrame(
            [("a", 1, 1), ("a", 2, 1), ("a", 3, 1), ("a", 4, 7)],
            "g string, v long, w long",
        )
        r = relational.weighted_quantiles(
            df, "g", F.col("v"), "w"
        ).collect()[0]
        assert r["total_weight"] == 10
        assert (r["p25"], r["p50"], r["p75"]) == (3, 4, 4)

    def test_unit_weights_match_unweighted_median(self, spark):
        df = spark.createDataFrame(
            [("a", v, 1) for v in [10, 20, 30, 40, 50]],
            "g string, v long, w long",
        )
        r = relational.weighted_quantiles(df, "g", F.col("v"), "w").collect()[0]
        assert r["p50"] == 30


# -- nearest-event join ------------------------------------------------------------


class TestNearestJoin:
    def test_picks_closest_either_direction(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0)

        def at(m):
            return t0 + dt.timedelta(minutes=m)

        left = spark.createDataFrame(
            [(1, at(0), 100)], "user_id long, ts timestamp, event_id long"
        )
        right = spark.createDataFrame(
            [(1, at(-50), 200), (1, at(10), 201), (1, at(30), 202)],
            "user_id long, ts timestamp, event_id long",
        )
        out = relational.nearest_event_join(left, right).collect()
        assert len(out) == 1
        # +10min click beats -50min and +30min
        assert out[0]["r_event_id"] == 201
        assert out[0]["dt_us"] == 10 * 60 * 1_000_000

    def test_tolerance_excludes_far_events(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0)
        left = spark.createDataFrame(
            [(1, t0, 100)], "user_id long, ts timestamp, event_id long"
        )
        right = spark.createDataFrame(
            [(1, t0 + dt.timedelta(minutes=90), 200)],
            "user_id long, ts timestamp, event_id long",
        )
        assert relational.nearest_event_join(left, right).count() == 0

    def test_tie_prefers_earlier(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0)
        left = spark.createDataFrame(
            [(1, t0, 100)], "user_id long, ts timestamp, event_id long"
        )
        right = spark.createDataFrame(
            [
                (1, t0 - dt.timedelta(minutes=5), 200),
                (1, t0 + dt.timedelta(minutes=5), 201),
            ],
            "user_id long, ts timestamp, event_id long",
        )
        out = relational.nearest_event_join(left, right).collect()
        assert out[0]["r_event_id"] == 200


# -- table fingerprint ----------------------------------------------------------------


class TestTableFingerprint:
    def test_order_independent_and_sensitive(self, spark):
        df1 = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "k long, s string"
        )
        df2 = spark.createDataFrame(
            [(3, None), (1, "a"), (2, "b")], "k long, s string"
        )
        f1 = relational.table_fingerprint(df1, ["k", "s"]).collect()[0]
        f2 = relational.table_fingerprint(
            df2.repartition(5), ["k", "s"]
        ).collect()[0]
        assert f1 == f2
        # any single cell change shifts the checksum
        df3 = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "x")], "k long, s string"
        )
        f3 = relational.table_fingerprint(df3, ["k", "s"]).collect()[0]
        assert f3["fingerprint"] != f1["fingerprint"]

    def test_null_differs_from_sentinel_string(self, spark):
        # NULL and the literal string '\\N' hash differently? They
        # can't (the sentinel IS the serialization) — pin the
        # documented equivalence instead so a silent change breaks
        df_null = spark.createDataFrame([(1, None)], "k long, s string")
        df_lit = spark.createDataFrame([(1, "\\N")], "k long, s string")
        a = relational.table_fingerprint(df_null, ["k", "s"]).collect()[0]
        b = relational.table_fingerprint(df_lit, ["k", "s"]).collect()[0]
        assert a["fingerprint"] == b["fingerprint"]


# -- functional dependency + Benford ---------------------------------------------


class TestFunctionalDependency:
    def test_holding_and_violating(self, spark):
        from cocoindex_data_ingestion_spark.operators import expectations

        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b"), (3, "b"), (3, "c"), (3, "c")],
            "k long, v string",
        )
        r = expectations.functional_dependency(df, ["k"], "v").collect()[0]
        # groups: 1->{a}, 2->{b}, 3->{b,c} (3 rows)
        assert r["n_groups"] == 3
        assert r["n_violating_groups"] == 1
        assert r["n_violating_rows"] == 3
        assert r["max_rhs_card"] == 2
        assert abs(r["fd_strength"] - 0.5) < 1e-9

    def test_composite_lhs_holds(self, spark):
        from cocoindex_data_ingestion_spark.operators import expectations

        df = spark.createDataFrame(
            [(1, 1, "x"), (1, 2, "y"), (2, 1, "x")],
            "a long, b long, v string",
        )
        r = expectations.functional_dependency(df, ["a", "b"], "v").collect()[0]
        assert r["n_violating_groups"] == 0
        assert r["fd_strength"] == 1.0


class TestBenford:
    def test_digit_histogram_from_cents_string(self, spark):
        from cocoindex_data_ingestion_spark.operators import expectations

        # amounts 1.00, 12.00, 19.99, 95.00 -> first digits 1,1,1,9
        df = spark.createDataFrame(
            [(1.0,), (12.0,), (19.99,), (95.0,)], "amt double"
        )
        cents = F.floor(F.col("amt") * F.lit(100.0) + F.lit(0.5)).cast("long")
        rows = {
            r["digit"]: r
            for r in expectations.benford_audit(df, cents).collect()
        }
        assert rows[1]["n_obs"] == 3 and rows[9]["n_obs"] == 1
        assert abs(rows[1]["share"] - 0.75) < 1e-9
        import math

        assert abs(rows[1]["benford_share"] - math.log10(2)) < 1e-5

    def test_benford_like_data_scores_low(self, spark):
        from cocoindex_data_ingestion_spark.operators import expectations

        import math

        # sample amounts from an exact log-uniform grid: near-Benford
        rows = [(10 ** (3 * (i / 999.0)),) for i in range(1000)]
        df = spark.createDataFrame(rows, "amt double")
        cents = F.floor(F.col("amt") * F.lit(100.0) + F.lit(0.5)).cast("long")
        out = expectations.benford_audit(df, cents).collect()
        chi2 = sum(r["chi2_contrib"] for r in out)
        # log-uniform first digits follow Benford closely: chi2 small
        assert chi2 < 20.0


# -- Spearman ----------------------------------------------------------------------


class TestSpearman:
    def test_perfect_monotone_nonlinear(self, spark):
        # y = x^3 is nonlinear but perfectly monotone: rho == 1
        df = spark.createDataFrame(
            [(float(i), float(i**3)) for i in range(1, 30)],
            "x double, y double",
        )
        r = relational.spearman_corr(df, "x", "y").collect()[0]
        assert abs(r["spearman"] - 1.0) < 1e-6

    def test_reversed_is_minus_one(self, spark):
        df = spark.createDataFrame(
            [(float(i), float(100 - i)) for i in range(1, 30)],
            "x double, y double",
        )
        r = relational.spearman_corr(df, "x", "y").collect()[0]
        assert abs(r["spearman"] + 1.0) < 1e-6

    def test_ties_match_scipy_formula(self, spark):
        # hand case with ties: x = [1,1,2,3], y = [10,20,20,30]
        # avg ranks x: [1.5,1.5,3,4], y: [1,2.5,2.5,4]
        # pearson of those ranks = 0.8320502943...
        df = spark.createDataFrame(
            [(1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (3.0, 30.0)],
            "x double, y double",
        )
        r = relational.spearman_corr(df, "x", "y").collect()[0]
        import statistics

        rx, ry = [1.5, 1.5, 3, 4], [1, 2.5, 2.5, 4]
        exp = statistics.correlation(rx, ry)
        assert abs(r["spearman"] - exp) < 1e-4


# -- clustering coefficient (query-level sanity on a known graph) --------------------


def test_clustering_coeff_triangle_plus_tail(spark):
    """K3 plus a pendant edge: T=1, wedges = 3·1 + C(3,2)=3+... degrees
    [2,2,3,1] -> Σd(d-1)/2 = (2+2+6+0)/2 = 5, cc = 3/5."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long"
    )
    und = edges
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .count()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .union(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    w2 = deg.agg(F.sum(F.col("d") * (F.col("d") - 1))).collect()[0][0]
    assert tri == 1
    assert w2 // 2 == 5
    assert abs(6.0 * tri / w2 - 0.6) < 1e-9


def test_l_diversity_catches_homogeneous_groups(spark):
    from cocoindex_data_ingestion_spark.operators import expectations

    df = spark.createDataFrame(
        [
            # group (1, 'a'): 3 members, 2 sensitive values -> diverse
            (1, "a", "flu"), (1, "a", "flu"), (1, "a", "cold"),
            # group (2, 'b'): 3 members but ONE sensitive value ->
            # k-anonymous at k=3 yet fully leaking
            (2, "b", "hiv"), (2, "b", "hiv"), (2, "b", "hiv"),
        ],
        "zip int, seg string, dx string",
    )
    viol = expectations.l_diversity_audit(df, ["zip", "seg"], "dx", l=2).collect()
    assert len(viol) == 1
    assert viol[0]["zip"] == 2
    assert viol[0]["group_size"] == 3
    assert viol[0]["sensitive_cardinality"] == 1
    # and k-anonymity at k=3 would NOT have flagged it
    kanon = expectations.k_anonymity_audit(df, ["zip", "seg"], k=3).collect()
    assert all(r["zip"] != 2 for r in kanon)


def test_grouped_ewma_hand_walk(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # type 'a': 4, 2, 8 events on days 0,1,2
    for day, cnt in [(0, 4), (1, 2), (2, 8)]:
        for i in range(cnt):
            rows.append(("a", t0 + dt.timedelta(days=day, minutes=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        r["day"]: r
        for r in relational.grouped_ewma(df, "event_type").collect()
    }
    days = sorted(out)
    # s = [4, (2+4)/2=3, (8+3)/2=5.5]
    assert [out[d]["ewma"] for d in days] == [4.0, 3.0, 5.5]
    assert [out[d]["n"] for d in days] == [4, 2, 8]


# -- two-proportion z-test + power law ------------------------------------------------


class TestTwoProportionZ:
    def test_hand_computed(self, spark):
        # A: 30/100, B: 20/100 -> pool 0.25
        rows = [("A", i < 30) for i in range(100)] + [
            ("B", i < 20) for i in range(100)
        ]
        df = spark.createDataFrame(rows, "g string, ok boolean")
        r = relational.two_proportion_ztest(
            df, "g", F.col("ok"), "A", "B"
        ).collect()[0]
        assert (r["n_a"], r["successes_a"]) == (100, 30)
        import math

        exp = (0.3 - 0.2) / math.sqrt(0.25 * 0.75 * (1 / 100 + 1 / 100))
        assert abs(r["z_stat"] - exp) < 1e-6

    def test_degenerate_is_null(self, spark):
        rows = [("A", True)] * 5 + [("B", True)] * 5
        df = spark.createDataFrame(rows, "g string, ok boolean")
        r = relational.two_proportion_ztest(
            df, "g", F.col("ok"), "A", "B"
        ).collect()[0]
        assert r["z_stat"] is None
        assert r["rate_a"] == 1.0


def test_degree_powerlaw_star_has_heavy_tail_estimate(spark):
    from cocoindex_data_ingestion_spark.operators import graph as g

    import math

    # graph: hub 0 connected to 1..20, plus a few chain edges
    edges = [(0, i) for i in range(1, 21)] + [(1, 2), (3, 4), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = g.degree_powerlaw_fit(df, d_min=2).collect()[0]
    assert r["max_degree"] == 20
    # tail nodes: degree>=2 -> hub(20) + 1,2,3,4,5,6 (2 each) = 7 nodes
    assert r["n_tail_nodes"] == 7
    # alpha = 1 + n / sum ln(d/1.5)
    s = math.log(20 / 1.5) + 6 * math.log(2 / 1.5)
    assert abs(r["alpha"] - (1 + 7 / s)) < 1e-3


# -- ACF + Neyman ---------------------------------------------------------------------


def test_acf_weekly_cycle_spikes_at_lag_7(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # strong 7-day cycle: 20 events on day%7==0, else 2
    for d in range(56):
        cnt = 20 if d % 7 == 0 else 2
        for i in range(cnt):
            rows.append((t0 + dt.timedelta(days=d, minutes=i),))
    df = spark.createDataFrame(rows, "ts timestamp")
    acf = {r["lag"]: r["acf"] for r in relational.acf_daily(df, max_lag=8).collect()}
    assert acf[7] > 0.9
    assert acf[1] < 0.2
    assert acf[3] < 0.2


def test_neyman_allocates_toward_variance(spark):
    from cocoindex_data_ingestion_spark.operators import curation

    rows = []
    # stratum 'flat': constant values (sigma 0); 'wild': high variance
    for i in range(100):
        rows.append(("flat", 50))
        rows.append(("wild", 10 if i % 2 == 0 else 90))
    df = spark.createDataFrame(rows, "s string, v long")
    out = {
        r["s"]: r
        for r in curation.neyman_allocation(
            df, "s", F.col("v"), budget=100
        ).collect()
    }
    assert out["flat"]["alloc"] == 0
    assert out["wild"]["alloc"] == 100
    assert out["wild"]["sigma"] == 40.0


# -- isotropy + vocab overlap + persistence ---------------------------------------


def test_isotropy_identity_matches_bruteforce(spark):
    from cocoindex_data_ingestion_spark.operators import vector_search as vs

    import itertools

    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 1.0, 0.0]),
        (4, [0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    r = vs.isotropy_profile(df).collect()[0]
    dots = [
        sum(a * b for a, b in zip(v1, v2))
        for (_, v1), (_, v2) in itertools.permutations(vecs, 2)
    ]
    assert r["n_vectors"] == 4
    assert abs(r["mean_pairwise_dot"] - sum(dots) / len(dots)) < 1e-6


def test_isotropy_identical_vectors_dot_is_norm2(spark):
    from cocoindex_data_ingestion_spark.operators import vector_search as vs

    df = spark.createDataFrame(
        [(i, [0.6, 0.8]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    r = vs.isotropy_profile(df).collect()[0]
    assert abs(r["mean_pairwise_dot"] - 1.0) < 1e-6
    assert abs(r["mean_norm"] - 1.0) < 1e-6


def test_source_overlap_query_shape(spark):
    # covered end-to-end by the oracle; pin the identity |A∪B| math
    # on a hand case through the registered query's components
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "s1"),
            (2, "beta gamma delta", "s2"),
            (3, "zeta", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    from cocoindex_data_ingestion_spark.functions.text import tokenize

    ts = docs.select(
        F.col("source").alias("s"), F.explode(tokenize("text")).alias("tk")
    ).distinct()
    per_tok = ts.groupBy("tk").agg(F.sort_array(F.collect_set("s")).alias("ss"))
    inter = (
        per_tok.select(F.posexplode("ss").alias("i", "a"), "ss")
        .select("a", F.explode(F.expr("slice(ss, i + 2, size(ss))")).alias("b"))
        .groupBy("a", "b")
        .count()
        .collect()
    )
    pairs = {(r["a"], r["b"]): r["count"] for r in inter}
    assert pairs == {("s1", "s2"): 2}  # beta, gamma shared; s3 disjoint


def test_trend_backtest_perfect_line_zero_error(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # perfectly linear daily counts 2,4,6,...: one-step OLS is exact
    for d in range(12):
        for i in range(2 * (d + 1)):
            rows.append(("a", t0 + dt.timedelta(days=d, minutes=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = relational.trend_backtest(df, "event_type", min_history=5).collect()[0]
    assert r["n_preds"] == 7  # days 6..12 predicted
    assert r["mae"] == 0.0 and r["bias"] == 0.0


def test_trend_backtest_no_leakage(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # flat 5/day for 10 days then a spike day: the spike must be
    # PREDICTED as ~5 (error ~15), not absorbed into its own fit
    for d in range(11):
        cnt = 5 if d < 10 else 20
        for i in range(cnt):
            rows.append(("a", t0 + dt.timedelta(days=d, minutes=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = relational.trend_backtest(df, "event_type", min_history=5).collect()[0]
    # 6 predictions: days 6..10 flat (0 error) + spike day (~15)
    assert r["n_preds"] == 6
    assert 2.0 < r["mae"] < 3.0  # 15/6 = 2.5


# -- ESS + revenue bridge ---------------------------------------------------------


def test_ess_uniform_weights_is_n(spark):
    from cocoindex_data_ingestion_spark.functions.compare import (
        stable_round, stable_sum,
    )

    # kish ESS of equal weights == n; of one dominant weight -> ~1
    df = spark.createDataFrame([(float(0.0),)] * 50, "w double")
    m = df.agg(F.max("w").alias("mx"))
    e = df.crossJoin(F.broadcast(m)).select(
        F.exp(F.col("w") - F.col("mx")).alias("ew"),
        F.exp(2.0 * (F.col("w") - F.col("mx"))).alias("ew2"),
    )
    r = e.agg(
        (stable_sum(F.col("ew"), 9) * stable_sum(F.col("ew"), 9)
         / stable_sum(F.col("ew2"), 9)).alias("ess")
    ).collect()[0]
    assert abs(r["ess"] - 50.0) < 1e-6


def test_revenue_bridge_effects_sum_to_delta(spark):
    # query-level invariant on real data: volume + rate == rev2 - rev1
    import __spark_entry__ as entry
    from cocoindex_data_ingestion_spark.session import get_spark

    out = entry.queries()["lineitem_revenue_bridge"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 3
    for r in out:
        delta = r["rev_1997"] - r["rev_1996"]
        assert abs((r["volume_effect"] + r["rate_effect"]) - delta) < 0.05


class TestMaterializedEWMA:
    def test_incremental_matches_batch(self, spark, tmp_path):
        import datetime as dt

        from cocoindex_data_ingestion_spark.plans.ivm import MaterializedEWMA

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        for d in range(10):
            for i in range((d % 3) + 1):
                rows.append(("a", t0 + dt.timedelta(days=d, minutes=i)))
        ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
        batch = {
            (r["event_type"], r["day"]): r["ewma"]
            for r in relational.grouped_ewma(ev, "event_type").collect()
        }
        from cocoindex_data_ingestion_spark.functions.timeutil import ts_us

        daily = (
            ev.select(
                F.col("event_type").alias("g"),
                F.floor(ts_us(F.col("ts")) / F.lit(86_400_000_000.0))
                .cast("long")
                .alias("day"),
            )
            .groupBy("g", "day")
            .agg(F.count("*").cast("long").alias("n"))
        )
        view = MaterializedEWMA(spark, str(tmp_path / "ewma"))
        days = sorted(r["day"] for r in daily.select("day").distinct().collect())
        cut = days[4]
        view.refresh(daily.filter(F.col("day") <= cut))
        view.refresh(daily.filter(F.col("day") > cut))
        inc = {
            (r["g"], r["day"]): r["ewma"] for r in view.read().collect()
        }
        assert set(inc) == set(batch)
        # grouped_ewma stable-rounds at 6; the view returns the raw
        # recurrence value — identical up to that rounding
        for k in batch:
            assert abs(inc[k] - batch[k]) < 1e-6

    def test_out_of_order_batch_raises(self, spark, tmp_path):
        import pytest

        from cocoindex_data_ingestion_spark.plans.ivm import MaterializedEWMA

        daily = spark.createDataFrame(
            [("a", 10, 5), ("a", 11, 3)], "g string, day long, n long"
        )
        view = MaterializedEWMA(spark, str(tmp_path / "ewma2"))
        view.refresh(daily)
        with pytest.raises(ValueError, match="frontier"):
            view.refresh(
                spark.createDataFrame([("a", 10, 2)], "g string, day long, n long")
            )

    def test_unreadable_curve_raises(self, spark, tmp_path):
        """A curve that exists but cannot be read is not "no curve
        yet": refresh raises instead of appending a fresh curve."""
        import os

        import pytest

        from cocoindex_data_ingestion_spark.plans.ivm import MaterializedEWMA

        view = MaterializedEWMA(spark, str(tmp_path / "ewma3"))
        view.refresh(
            spark.createDataFrame([("a", 10, 5)], "g string, day long, n long")
        )
        curve = os.path.join(view.path, "curve")
        parts = [f for f in os.listdir(curve) if f.endswith(".parquet")]
        for f in parts:
            with open(os.path.join(curve, f), "wb") as out:
                out.write(b"not a parquet file")
        with pytest.raises(Exception):
            view.refresh(
                spark.createDataFrame([("a", 11, 3)], "g string, day long, n long")
            )
        assert sorted(
            f for f in os.listdir(curve) if f.endswith(".parquet")
        ) == sorted(parts)


def test_mann_kendall_monotone_series(spark):
    import datetime as dt

    from cocoindex_data_ingestion_spark.functions.timeutil import ts_us

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # strictly increasing daily counts: S = C(10,2) = 45
    for d in range(10):
        for i in range(d + 1):
            rows.append(("up", t0 + dt.timedelta(days=d, minutes=i)))
    # constant: S = 0
    for d in range(10):
        for i in range(3):
            rows.append(("flat", t0 + dt.timedelta(days=d, minutes=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    daily = (
        df.select(
            F.col("event_type").alias("g"),
            F.floor(ts_us(F.col("ts")) / F.lit(86_400_000_000.0))
            .cast("long")
            .alias("day"),
        )
        .groupBy("g", "day")
        .agg(F.count("*").alias("x"))
    )
    b = daily.select("g", F.col("day").alias("day_b"), F.col("x").alias("x_b"))
    sgn = (
        F.when(F.col("x_b") > F.col("x"), 1)
        .when(F.col("x_b") < F.col("x"), -1)
        .otherwise(0)
    )
    s = (
        daily.join(b, "g")
        .filter(F.col("day_b") > F.col("day"))
        .groupBy("g")
        .agg(F.sum(sgn).alias("s"))
    )
    out = {r["g"]: r["s"] for r in s.collect()}
    assert out["up"] == 45
    assert out["flat"] == 0
