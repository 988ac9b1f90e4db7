"""End-to-end parity with the reference's own EXAMPLE programs —
the programs a cocoindex user actually runs. Each test rebuilds one
example flow, shape-for-shape, on this engine's API:

- examples/text_embedding/main.py: LocalFile → SplitRecursively
  (markdown, 2000/500) → embed → collect(filename, location, text,
  embedding) → vector target with PK (filename, location) + cosine
  index; then the SHARED transform-flow embeds the query and top-k
  searches the exported table.
- examples/docs_to_knowledge_graph/main.py: LocalFile docs →
  ExtractByLlm(DocumentSummary) + ExtractByLlm(list[Relationship]) →
  three collectors (document nodes, entity relationships with
  GeneratedField.UUID, entity mentions) → graph target with a
  DECLARED Entity label, Document nodes, RELATIONSHIP and MENTION
  edges (NodeFromFields endpoint auto-creation).

The SentenceTransformer/LLM calls are the documented deterministic
doubles (no model/API in this environment); everything around them —
source listing, chunk geometry, collector/export mechanics, MERGE
idempotency, declaration DDL, endpoint auto-creation, orphan GC —
is the real engine path.
"""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cocoindex_data_ingestion_spark.operators import chunking
from cocoindex_data_ingestion_spark.operators.embedding import (
    hash_embed_series, hash_embedder,
)
from cocoindex_data_ingestion_spark.operators.extract import extract_by_llm
from cocoindex_data_ingestion_spark.plans.flow import Flow
from cocoindex_data_ingestion_spark.sinks import GraphSink, VectorSink
from cocoindex_data_ingestion_spark.sources.localfile import read_local_files

DIM = 32

_MD_FILES = {
    "spark_overview.md": (
        "# Spark overview\n\n"
        "Spark executes declarative dataframe plans. The catalyst "
        "optimizer rewrites joins and pushes filters into scans.\n\n"
        "## Shuffles\n\nWide operations shuffle data between "
        "executors; adaptive execution re-plans at runtime.\n"
    ),
    "duck_notes.md": (
        "# DuckDB notes\n\n"
        "DuckDB runs vectorized queries in process. Its optimizer "
        "prunes columns aggressively and rewrites correlated "
        "subqueries.\n"
    ),
    "glossary.md": (
        "# Glossary\n\nbroadcast join: sending the small side to "
        "every executor. watermark: event-time progress marker.\n"
    ),
}


@pytest.fixture()
def md_dir(tmp_path):
    d = tmp_path / "markdown_files"
    d.mkdir()
    for name, text in _MD_FILES.items():
        (d / name).write_text(text)
    return str(d)


def test_text_embedding_example_flow(spark, tmp_path, md_dir):
    # -- indexing flow (text_embedding_flow) ------------------------------
    files = read_local_files(
        spark, md_dir, include_glob="*.md", binary=False
    )
    flow = Flow("TextEmbedding")
    flow.add_source("documents", files, key_cols=["path"])

    chunks = chunking.chunk_recursive_dp(
        files.select("path", "filename", F.col("content_text").alias("text")),
        chunk_size=2000,
        chunk_overlap=500,
        language="markdown",
        id_col="path",
        text_col="text",
    )
    embedded = (
        chunks.join(
            files.select("path", "filename"), "path"
        ).select(
            "filename",
            F.col("location_start").alias("location"),
            F.col("chunk_text").alias("text"),
            hash_embedder(DIM)(F.col("chunk_text")).alias("embedding"),
        )
    )
    flow._add_to_collector("doc_embeddings", embedded)
    flow.export(
        "doc_embeddings", "doc_embeddings", primary_key=["filename", "location"]
    )
    assert flow.exports()["doc_embeddings"]["primary_key"] == [
        "filename", "location",
    ]

    sink = VectorSink(
        spark,
        str(tmp_path / "doc_embeddings"),
        key_cols=["filename", "location"],
        schema_ddl=(
            "filename string, location long, text string, "
            "embedding array<float>"
        ),
        vector_cols={"embedding": DIM},
    )
    sink.merge(flow.collector("doc_embeddings"))
    n = sink.read().count()
    assert n >= len(_MD_FILES)  # at least one chunk per file
    # MERGE semantics: re-running the flow is idempotent
    sink.merge(flow.collector("doc_embeddings"))
    assert sink.read().count() == n

    # every file must be represented and chunk geometry must hold
    stored = sink.read()
    assert {
        r["filename"] for r in stored.select("filename").distinct().collect()
    } == set(_MD_FILES)
    assert stored.filter(F.length("text") > 2000).count() == 0

    # -- query path (search + shared text_to_embedding transform) ---------
    qvec = list(hash_embed_series(__import__("pandas").Series(
        ["catalyst optimizer rewrites joins"]), DIM)[0])
    from cocoindex_data_ingestion_spark.functions.similarity import cosine_sim

    qdf = spark.createDataFrame(
        __import__("pandas").DataFrame({"qvec": [qvec]}), "qvec array<float>"
    )
    hits = (
        stored.crossJoin(F.broadcast(qdf))
        .select(
            "filename", "text",
            cosine_sim("embedding", "qvec").alias("score"),
        )
        .orderBy(F.col("score").desc())
        .limit(5)
        .collect()
    )
    assert hits[0]["filename"] == "spark_overview.md"
    assert "catalyst" in hits[0]["text"]
    scores = [h["score"] for h in hits]
    assert scores == sorted(scores, reverse=True)


def test_docs_to_knowledge_graph_example_flow(spark, tmp_path, md_dir):
    pd = __import__("pandas")

    def _summary_llm(texts, schema):
        out = []
        for t in texts:
            first = (t or "").split("\n", 1)[0].lstrip("# ").strip()
            out.append(json.dumps({
                "title": first,
                "summary": " ".join((t or "").split()[:8]),
            }))
        return pd.Series(out, dtype="object")

    def _relationship_llm(texts, schema):
        out = []
        for t in texts:
            lines = (t or "").splitlines()
            heads = [ln.lstrip("# ").strip() for ln in lines
                     if ln.startswith("#")]
            subject = (heads[0].split() or ["doc"])[0] if heads else "doc"
            rels = [
                {"subject": subject, "predicate": "covers",
                 "object": h.split()[0]}
                for h in heads[1:]
            ] or [{"subject": subject, "predicate": "defines",
                   "object": "terms"}]
            out.append(json.dumps({"relationships": rels}))
        return pd.Series(out, dtype="object")

    files = read_local_files(
        spark, md_dir, include_glob="*.md", binary=False
    ).select("path", "filename", F.col("content_text").alias("text"))

    flow = Flow("DocsToKG")
    flow.add_source("documents", files, key_cols=["path"])

    summary_t = T.StructType([
        T.StructField("title", T.StringType()),
        T.StructField("summary", T.StringType()),
    ])
    summaries = extract_by_llm(
        files, summary_t, llm_fn=_summary_llm,
        instruction="Please summarize the content of the document.",
        id_col="path", text_col="text",
    )
    doc_nodes = summaries.join(
        files.select("path", "filename"), "path"
    ).select(
        "filename",
        F.col("extracted.title").alias("title"),
        F.col("extracted.summary").alias("summary"),
    )
    flow._add_to_collector("document_node", doc_nodes)

    rel_t = T.StructType([
        T.StructField("relationships", T.ArrayType(T.StructType([
            T.StructField("subject", T.StringType()),
            T.StructField("predicate", T.StringType()),
            T.StructField("object", T.StringType()),
        ]))),
    ])
    rels_raw = extract_by_llm(
        files, rel_t, llm_fn=_relationship_llm,
        instruction="Please extract relationships from documents.",
        id_col="path", text_col="text",
    )
    rels = rels_raw.join(files.select("path", "filename"), "path").select(
        "filename", F.explode("extracted.relationships").alias("r")
    ).select("filename", "r.subject", "r.predicate", "r.object")

    # GeneratedField.UUID collectors via the flow's stable auto-UUID
    rel_scope = flow.add_source(
        "rels", rels, key_cols=["filename", "subject", "predicate", "object"]
    )
    rel_scope.collect(
        "entity_relationship",
        {"subject": "subject", "object": "object", "predicate": "predicate"},
        auto_uuid_field="id",
    )
    mentions = rels.select("filename", F.col("subject").alias("entity")) \
        .unionByName(rels.select("filename", F.col("object").alias("entity")))
    m_scope = flow.add_source(
        "mentions_src", mentions.distinct(), key_cols=["filename", "entity"]
    )
    m_scope.collect(
        "entity_mention", {"entity": "entity", "filename": "filename"},
        auto_uuid_field="id",
    )

    # -- graph export (Neo4j/Kuzu shape via the shared GraphSink) ---------
    g = GraphSink(
        spark, str(tmp_path / "graph"),
        node_schema_ddl="node_id string, label string, _auto boolean",
        edge_schema_ddl="src string, dst string, rel_type string, id string",
    )
    g.declare_label("Entity", ["value"])
    stmts = g.setup_statements()
    assert any("Entity" in s and "UNIQUE" in s for s in stmts)

    g.merge_nodes(
        doc_nodes.select(
            F.col("filename").alias("node_id"), F.lit("Document").alias("label")
        ),
    )
    rel_edges = flow.collector("entity_relationship").select(
        F.col("subject").alias("src"), F.col("object").alias("dst"),
        F.lit("RELATIONSHIP").alias("rel_type"), "id",
    )
    g.ensure_declared_endpoints(rel_edges, "Entity")
    g.merge_edges(rel_edges)
    mention_edges = flow.collector("entity_mention").select(
        F.col("filename").alias("src"), F.col("entity").alias("dst"),
        F.lit("MENTION").alias("rel_type"), "id",
    )
    g.merge_edges(mention_edges)

    nodes = g.nodes.read().collect()
    labels = {r["node_id"]: r["label"] for r in nodes}
    assert labels.get("spark_overview.md") == "Document"
    assert labels.get("Spark") == "Entity"  # auto-created endpoint
    edges = g.edges.read()
    assert edges.filter("rel_type = 'RELATIONSHIP'").count() > 0
    assert edges.filter("rel_type = 'MENTION'").count() \
        == mentions.distinct().count()
    # Spark covers Shuffles (the '## Shuffles' section of the overview)
    assert edges.filter(
        "src = 'Spark' AND dst = 'Shuffles' AND rel_type = 'RELATIONSHIP'"
    ).count() == 1

    # re-export is idempotent: MERGE by (src, dst, rel_type)
    n_edges = edges.count()
    g.merge_edges(rel_edges)
    g.merge_edges(mention_edges)
    assert g.edges.read().count() == n_edges

    # GeneratedField.UUID stability: rebuilding the flow yields the
    # same ids (fingerprint-keyed reuse, the reference's auto-UUID)
    ids1 = {
        (r["subject"], r["object"], r["predicate"]): r["id"]
        for r in flow.collector("entity_relationship").collect()
    }
    flow2 = Flow("DocsToKG")
    s2 = flow2.add_source(
        "rels", rels, key_cols=["filename", "subject", "predicate", "object"]
    )
    s2.collect(
        "entity_relationship",
        {"subject": "subject", "object": "object", "predicate": "predicate"},
        auto_uuid_field="id",
    )
    ids2 = {
        (r["subject"], r["object"], r["predicate"]): r["id"]
        for r in flow2.collector("entity_relationship").collect()
    }
    assert ids1 == ids2


def test_product_recommendation_example_flow(spark, tmp_path):
    """examples/product_recommendation/main.py: LocalFile JSON
    products → ParseJson → a custom @op function (extract_product_info:
    id from filename, '$1,299.00' → float price, markdown-template
    detail) → ExtractByLlm(ProductTaxonomyInfo) → Product nodes +
    UUID-collected taxonomy edges into the graph target."""
    pd = __import__("pandas")

    products = {
        "p100.json": {
            "title": "Gel Pen Set", "price": "$12.99",
            "highlights": ["smooth ink", "12 colors"],
            "description": {"header": "Write smoothly",
                            "paragraph": "A set of gel pens.",
                            "bullets": ["fine tip", "quick dry"]},
        },
        "p200.json": {
            "title": "Laser Printer", "price": "$1,299.00",
            "highlights": ["duplex"],
            "description": {"header": "Fast printing",
                            "paragraph": "A compact laser printer.",
                            "bullets": ["wifi"]},
        },
    }
    src = tmp_path / "products"
    src.mkdir()
    for name, obj in products.items():
        (src / name).write_text(json.dumps(obj))

    files = read_local_files(
        spark, str(src), include_glob="*.json", binary=False
    )

    # ParseJson with the declared product schema (functions.ParseJson)
    product_t = (
        "title string, price string, highlights array<string>, "
        "description struct<header:string, paragraph:string, "
        "bullets:array<string>>"
    )
    parsed = files.select(
        "filename",
        F.from_json(F.col("content_text"), product_t).alias("p"),
    )

    # extract_product_info as a typed custom op (@op.function
    # behavior_version surface: return annotation = engine type)
    def extract_product_info(p, filename) -> dict:
        detail = "\n# {t}\n\n## Highlights\n{h}\n\n## Description\n{d}".format(
            t=p["title"],
            h="\n".join(f"- {x}" for x in (p["highlights"] or [])),
            d=" ".join(filter(None, [
                p["description"]["header"], p["description"]["paragraph"],
                *(p["description"]["bullets"] or []),
            ])),
        )
        return {
            "id": filename.removesuffix(".json"),
            "title": p["title"],
            "price": float(p["price"].lstrip("$").replace(",", "")),
            "detail": detail,
        }

    info_udf = F.udf(
        extract_product_info,
        "id string, title string, price double, detail string",
    )
    data = parsed.select(
        info_udf(F.col("p"), F.col("filename")).alias("d")
    ).select("d.id", "d.title", "d.price", "d.detail")

    rows = {r["id"]: r for r in data.collect()}
    assert rows["p200"]["price"] == 1299.0  # '$1,299.00' parse
    assert rows["p100"]["price"] == 12.99
    assert "## Highlights" in rows["p100"]["detail"]

    # taxonomy extraction double: nouns from the title
    def _taxonomy_llm(texts, schema):
        out = []
        for t in texts:
            title_line = next(
                (ln.lstrip("# ") for ln in (t or "").splitlines()
                 if ln.startswith("# ")), "",
            )
            noun = (title_line.split() or ["item"])[-1].lower()
            comp = "paper" if noun == "printer" else "notebook"
            out.append(json.dumps({
                "taxonomies": [{"name": noun}],
                "complementary_taxonomies": [{"name": comp}],
            }))
        return pd.Series(out, dtype="object")

    tax_t = T.StructType([
        T.StructField("taxonomies", T.ArrayType(T.StructType([
            T.StructField("name", T.StringType()),
        ]))),
        T.StructField("complementary_taxonomies", T.ArrayType(T.StructType([
            T.StructField("name", T.StringType()),
        ]))),
    ])
    tax = extract_by_llm(
        data, tax_t, llm_fn=_taxonomy_llm, id_col="id", text_col="detail",
    )

    flow = Flow("StoreProduct")
    tax_rows = tax.select(
        F.col("id").alias("product_id"),
        F.explode("extracted.taxonomies").alias("t"),
    ).select("product_id", F.col("t.name").alias("taxonomy"))
    s = flow.add_source("tax", tax_rows, key_cols=["product_id", "taxonomy"])
    s.collect(
        "product_taxonomy",
        {"product_id": "product_id", "taxonomy": "taxonomy"},
        auto_uuid_field="id",
    )
    comp_rows = tax.select(
        F.col("id").alias("product_id"),
        F.explode("extracted.complementary_taxonomies").alias("t"),
    ).select("product_id", F.col("t.name").alias("taxonomy"))
    s2 = flow.add_source("comp", comp_rows, key_cols=["product_id", "taxonomy"])
    s2.collect(
        "product_complementary_taxonomy",
        {"product_id": "product_id", "taxonomy": "taxonomy"},
        auto_uuid_field="id",
    )

    g = GraphSink(
        spark, str(tmp_path / "graph"),
        node_schema_ddl="node_id string, label string, _auto boolean",
        edge_schema_ddl="src string, dst string, rel_type string, id string",
    )
    g.declare_label("Taxonomy", ["value"])
    g.merge_nodes(
        data.select(
            F.col("id").alias("node_id"), F.lit("Product").alias("label")
        ),
    )
    for coll, rel in [("product_taxonomy", "PRODUCT_TAXONOMY"),
                      ("product_complementary_taxonomy",
                       "PRODUCT_COMPLEMENTARY_TAXONOMY")]:
        edges = flow.collector(coll).select(
            F.col("product_id").alias("src"),
            F.col("taxonomy").alias("dst"),
            F.lit(rel).alias("rel_type"), "id",
        )
        g.ensure_declared_endpoints(edges, "Taxonomy")
        g.merge_edges(edges)

    edges = g.edges.read()
    assert edges.filter(
        "src = 'p200' AND dst = 'printer' AND rel_type = 'PRODUCT_TAXONOMY'"
    ).count() == 1
    assert edges.filter(
        "src = 'p200' AND dst = 'paper' "
        "AND rel_type = 'PRODUCT_COMPLEMENTARY_TAXONOMY'"
    ).count() == 1
    labels = {r["node_id"]: r["label"] for r in g.nodes.read().collect()}
    assert labels["p100"] == "Product"
    assert labels["printer"] == "Taxonomy"  # auto-created endpoint


def test_image_search_example_flow(spark, tmp_path):
    """examples/image_search/main.py: LocalFile images (binary) →
    optional LLM caption → embed_image (CLIP; deterministic feature
    double here — the container has no model) → collect with
    GeneratedField.UUID → Qdrant-shape vector target keyed by id;
    query side embeds text and searches the collection. The binary
    plumbing (schema, batching, UDF signature) is real; only the
    decode/caption models are the documented doubles."""
    from cocoindex_data_ingestion_spark.operators.multimodal import (
        image_features_stage,
    )

    img_dir = tmp_path / "img"
    img_dir.mkdir()
    blobs = {
        "cat.png": b"\x89PNG-fake-cat-pixels-0001",
        "dog.jpg": b"\xff\xd8JPEG-fake-dog-pixels-02",
        "bird.jpeg": b"\xff\xd8JPEG-fake-bird-pix-333",
    }
    for name, b in blobs.items():
        (img_dir / name).write_bytes(b)

    files = read_local_files(spark, str(img_dir), binary=True)
    assert files.count() == 3
    assert dict(files.dtypes)["content"] == "binary"

    from cocoindex_data_ingestion_spark.operators.multimodal import (
        _FEATURE_DIM as dim,
    )

    feats = image_features_stage(
        files.select(F.col("path").alias("media_id"), "filename", "content")
    )
    flow = Flow("ImageObjectEmbedding")
    s = flow.add_source(
        "images",
        feats.select("filename", F.col("features").alias("embedding")),
        key_cols=["filename"],
    )
    s.collect(
        "img_embeddings",
        {"filename": "filename", "embedding": "embedding"},
        auto_uuid_field="id",
    )
    out = flow.collector("img_embeddings")

    sink = VectorSink(
        spark, str(tmp_path / "qdrant_img"),
        key_cols=["id"],
        schema_ddl="id string, filename string, embedding array<float>",
        vector_cols={"embedding": dim},
    )
    sink.merge(out.select("id", "filename", F.col("embedding").cast("array<float>")))
    assert sink.read().count() == 3
    sink.merge(out.select("id", "filename", F.col("embedding").cast("array<float>")))
    assert sink.read().count() == 3  # UUID-keyed MERGE idempotent

    # deterministic double: same bytes → same embedding (op cache=True
    # contract); different bytes → different embedding
    two = image_features_stage(
        files.select(F.col("path").alias("media_id"), "filename", "content")
    ).select("filename", "features").collect()
    m = {r["filename"]: list(r["features"]) for r in two}
    stored = {
        r["filename"]: [float(x) for x in r["embedding"]]
        for r in sink.read().collect()
    }
    for fn in blobs:
        assert [round(a, 4) for a in m[fn]] == [
            round(b, 4) for b in stored[fn]
        ]
    assert m["cat.png"] != m["dog.jpg"]


def test_custom_output_files_example_flow(spark, tmp_path):
    """examples/custom_output_files/main.py: the CUSTOM TARGET
    connector surface — TargetSpec + get_persistent_key /
    apply_setup_change / prepare / mutate, where a mutation dict maps
    key → value (upsert) or None (delete). The example's connector
    writes one .html file per document; this test drives the same
    connector class through the runner's full lifecycle: first-export
    setup, upsert, idempotent re-export, delete-on-None, and the
    drop() teardown removing the directory."""
    import os

    out_dir = str(tmp_path / "output_html")

    class LocalFileTarget:
        def __init__(self, directory):
            self.directory = directory

    class LocalFileTargetConnector:
        @staticmethod
        def get_persistent_key(spec, target_name):
            return spec.directory

        @staticmethod
        def describe(key):
            return f"Local directory {key}"

        @staticmethod
        def apply_setup_change(key, previous, current):
            if previous is None and current is not None:
                os.makedirs(current.directory, exist_ok=True)
            if previous is not None and current is None:
                if os.path.isdir(previous.directory):
                    for fn in os.listdir(previous.directory):
                        if fn.endswith(".html"):
                            os.remove(os.path.join(previous.directory, fn))
                    os.rmdir(previous.directory)

        @staticmethod
        def prepare(spec):
            return spec

        @staticmethod
        def mutate(*all_mutations):
            for spec, mutations in all_mutations:
                for filename, mutation in mutations.items():
                    full = os.path.join(spec.directory, filename) + ".html"
                    if mutation is None:
                        try:
                            os.remove(full)
                        except FileNotFoundError:
                            pass
                    else:
                        with open(full, "w") as f:
                            f.write(mutation.html)

    from cocoindex_data_ingestion_spark.sinks import CustomTargetRunner

    # the flow body: markdown_to_html transform + collect(filename, html)
    docs = spark.createDataFrame(
        [("a.md", "# Title A\n\nbody a"), ("b.md", "# Title B\n\nbody b")],
        "filename string, content string",
    )
    html = docs.select(
        "filename",
        F.concat(
            F.lit("<h1>"),
            F.regexp_extract("content", r"^# ([^\n]+)", 1),
            F.lit("</h1><p>"),
            F.element_at(F.split("content", "\n\n"), 2),
            F.lit("</p>"),
        ).alias("html"),
    )

    runner = CustomTargetRunner(
        LocalFileTargetConnector, LocalFileTarget(out_dir), "output_html"
    )
    assert runner.describe() == f"Local directory {out_dir}"
    assert os.path.isdir(out_dir)  # first-export setup change

    n = runner.apply(html, key_col="filename")
    assert n == 2
    assert sorted(os.listdir(out_dir)) == ["a.md.html", "b.md.html"]
    with open(os.path.join(out_dir, "a.md.html")) as f:
        assert f.read() == "<h1>Title A</h1><p>body a</p>"

    # idempotent re-export
    runner.apply(html, key_col="filename")
    assert sorted(os.listdir(out_dir)) == ["a.md.html", "b.md.html"]

    # source row removed → None mutation deletes the file
    runner.apply(None, deletes=docs.filter("filename = 'b.md'"),
                 key_col="filename")
    assert os.listdir(out_dir) == ["a.md.html"]

    # target dropped from the flow → spec -> None teardown
    runner.drop()
    assert not os.path.isdir(out_dir)


def test_live_updates_example_flow(spark, tmp_path):
    """examples/live_updates/main.py: LocalFile source with
    refresh_interval → collect(filename, content) → Postgres-shape
    keyed target, driven by FlowLiveUpdater. Here each poll tick is
    one IncrementalRunner.update over the directory listing (key =
    path, ordinal = mtime µs): adds process, no-ops skip, content
    edits re-process, deletions propagate to the target — the full
    live-update decision matrix on a REAL directory."""
    import os
    import time

    from cocoindex_data_ingestion_spark.plans.incremental import (
        BucketedParquetState, IncrementalRunner,
    )

    data = tmp_path / "data"
    data.mkdir()
    (data / "a.txt").write_text("alpha")
    (data / "b.txt").write_text("beta")

    runner = IncrementalRunner(
        spark, str(tmp_path / "state"), "live-updates-v1",
        key_col="path", ordinal_col="ordinal",
    )
    target = BucketedParquetState(
        spark, str(tmp_path / "state/target"),
        "_key string, filename string, content string",
        key_col="_key",
    )

    def listing():
        return read_local_files(spark, str(data), binary=False).select(
            "path", "filename",
            F.col("content_text").alias("content"), "ordinal",
        )

    def transform(df):
        return df.select(
            F.col("path").alias("_key"), "filename", "content"
        )

    # poll 1: everything new
    s1 = runner.update(listing(), ["content"], transform, target)
    assert s1["processed"] == 2 and s1["deleted"] == 0
    assert target.read().count() == 2

    # poll 2: nothing changed → all skipped, transform untouched
    s2 = runner.update(listing(), ["content"], transform, target)
    assert s2["skipped"] == 2 and s2["processed"] == 0

    # poll 3: one new file, one edited file (newer mtime + content)
    time.sleep(0.02)
    (data / "c.txt").write_text("gamma")
    (data / "a.txt").write_text("alpha-v2")
    os.utime(data / "a.txt")
    s3 = runner.update(listing(), ["content"], transform, target)
    assert s3["processed"] == 2 and s3["skipped"] == 1
    rows = {r["filename"]: r["content"] for r in target.read().collect()}
    assert rows == {"a.txt": "alpha-v2", "b.txt": "beta", "c.txt": "gamma"}

    # poll 4: a file disappears → target delete
    (data / "b.txt").unlink()
    s4 = runner.update(listing(), ["content"], transform, target)
    assert s4["deleted"] == 1
    assert {r["filename"] for r in target.read().collect()} == {
        "a.txt", "c.txt",
    }


def test_code_embedding_example_flow(spark, tmp_path):
    """examples/code_embedding/main.py: LocalFile over a code tree →
    extension extract per row → SplitRecursively with
    language=file["extension"] (per-row separator-stack dispatch) →
    embed → PK (filename, location) vector export."""
    src = tmp_path / "repo"
    src.mkdir()
    (src / "mod.py").write_text(
        "def a():\n    return 1\n\n\ndef b():\n    return 2\n"
    )
    (src / "lib.rs").write_text(
        "fn a() -> i32 {\n    1\n}\n\nfn b() -> i32 {\n    2\n}\n"
    )
    (src / "README.md").write_text("# Readme\n\nUsage notes here.\n")

    files = read_local_files(spark, str(src), binary=False).select(
        "path", "filename", F.col("content_text").alias("text"),
        # file["extension"] = filename.transform(extract_extension)
        F.regexp_extract("filename", r"(\.[^.]+)$", 1).alias("extension"),
    )
    chunks = chunking.chunk_recursive_dp(
        files, chunk_size=60, min_chunk_size=10, chunk_overlap=0,
        id_col="path", text_col="text", language_col="extension",
    )
    out = chunks.join(files.select("path", "filename"), "path").select(
        "filename",
        F.col("location_start").alias("location"),
        F.col("chunk_text").alias("code"),
        hash_embedder(DIM)(F.col("chunk_text")).alias("embedding"),
    )
    sink = VectorSink(
        spark, str(tmp_path / "code_embeddings"),
        key_cols=["filename", "location"],
        schema_ddl=(
            "filename string, location long, code string, "
            "embedding array<float>"
        ),
        vector_cols={"embedding": DIM},
    )
    sink.merge(out)
    stored = sink.read()
    assert {
        r["filename"] for r in stored.select("filename").distinct().collect()
    } == {"mod.py", "lib.rs", "README.md"}
    # chunk bound holds and per-language splitting produced >1 chunk
    # for the code files
    assert stored.filter(F.length("code") > 60).count() == 0
    per_file = {
        r["filename"]: r["n"]
        for r in stored.groupBy("filename").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert per_file["mod.py"] >= 1 and per_file["lib.rs"] >= 1
