"""LocalFile source, sinks (table/vector/graph MERGE semantics),
golden-dump harness."""

import json
import os

import pytest
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark import sinks
from cocoindex_data_ingestion_spark.plans.dumper import compare_golden, dump_golden
from cocoindex_data_ingestion_spark.sources.localfile import read_local_files


@pytest.fixture()
def files_dir(tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "a.md").write_text("# doc a")
    (d / "b.md").write_text("# doc b")
    (d / "skip.log").write_text("nope")
    return str(d)


def test_local_file_source_globs_and_ordinal(spark, files_dir):
    df = read_local_files(spark, files_dir, include_glob="*.md", binary=False)
    rows = {r.filename: r for r in df.collect()}
    assert set(rows) == {"a.md", "b.md"}
    assert rows["a.md"].content_text == "# doc a"
    assert rows["a.md"].ordinal > 0  # mtime µs ordinal

    excl = read_local_files(spark, files_dir, exclude_globs=["skip.*"])
    assert {r.filename for r in excl.collect()} == {"a.md", "b.md"}


def test_table_sink_merge_and_delete(spark, tmp_path):
    sink = sinks.TableSink(
        spark, str(tmp_path / "t"), ["id"], "id long, val string"
    )
    sink.merge(spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"))
    sink.merge(spark.createDataFrame([(2, "B"), (3, "c")], "id long, val string"))
    assert {(r.id, r.val) for r in sink.read().collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    assert sink.delete_where("id = 1") == 1
    assert {r.id for r in sink.read().collect()} == {2, 3}


def test_vector_sink_dim_check(spark, tmp_path):
    sink = sinks.VectorSink(
        spark, str(tmp_path / "v"), ["id"],
        "id long, embedding array<float>", {"embedding": 4},
    )
    ok = spark.createDataFrame([(1, [1.0, 0.0, 0.0, 0.0])],
                               "id long, embedding array<float>")
    sink.merge(ok)
    bad = spark.createDataFrame([(2, [1.0, 0.0])],
                                "id long, embedding array<float>")
    with pytest.raises(ValueError, match="dim=4"):
        sink.merge(bad)


def test_graph_sink_merge_stale_and_orphans(spark, tmp_path):
    g = sinks.GraphSink(
        spark, str(tmp_path / "g"),
        "node_id string, label string, _auto boolean",
        "src string, dst string, rel_type string",
    )
    g.merge_nodes(spark.createDataFrame(
        [("e1", "Entity"), ("e2", "Entity")], "node_id string, label string"))
    g.merge_nodes(spark.createDataFrame(
        [("e3", "Entity")], "node_id string, label string"), auto_created=True)
    g.merge_edges(spark.createDataFrame(
        [("e1", "e3", "RELATES")], "src string, dst string, rel_type string"))

    # re-export e1: stale edges dropped, fresh merged
    g.delete_edges_from_sources(spark.createDataFrame([("e1",)], "src string"))
    g.merge_edges(spark.createDataFrame(
        [("e1", "e2", "RELATES")], "src string, dst string, rel_type string"))
    edges = {(r.src, r.dst) for r in g.edges.read().collect()}
    assert edges == {("e1", "e2")}

    # e3 was auto-created and now unreferenced -> GC'd
    assert g.gc_orphans() == 1
    assert {r.node_id for r in g.nodes.read().collect()} == {"e1", "e2"}


def test_golden_dump_stable_and_diffable(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", [0.1]), (2, "b", [0.2])],
        "doc_id long, text string, vec array<double>",
    )
    c1 = dump_golden(str(tmp_path / "run1"), {"chunks": df})
    c2 = dump_golden(str(tmp_path / "run2"), {"chunks": df})
    assert c1 == c2 == {"chunks": 2}
    assert compare_golden(str(tmp_path / "run2"), str(tmp_path / "run1")) == []

    changed = df.withColumn("text", F.upper("text"))
    dump_golden(str(tmp_path / "run3"), {"chunks": changed})
    diffs = compare_golden(str(tmp_path / "run3"), str(tmp_path / "run1"))
    assert diffs == ["differs: chunks.json"]

    with open(tmp_path / "run1" / "chunks.json") as f:
        data = json.load(f)
    assert data[0]["doc_id"] == 1 and data[0]["vec"] == [0.1]


def test_indexed_operators_match_adhoc(spark, tmp_path, sf_dir):
    """Prebuilt-index operators must return exactly the ad-hoc
    operators' results (same math, same rounding)."""
    from pyspark.sql import functions as F

    from cocoindex_data_ingestion_spark.operators import bm25, indexing, vector_search
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir).filter("vec_id <> 0")
    idx = str(tmp_path / "idx")
    indexing.build_search_index(docs, emb, idx, lsh_bits=8)

    terms = ["spark", "join", "window", "hash"]
    adhoc = [tuple(r) for r in bm25.bm25_search(docs, terms, k=10).collect()]
    indexed = [tuple(r) for r in indexing.indexed_bm25(spark, idx, terms, k=10).collect()]
    assert adhoc == indexed

    q = load_table(spark, "embeddings", sf_dir).filter("vec_id = 0").select(
        F.col("embedding").alias("qvec")
    )
    adhoc_knn = [
        tuple(r)
        for r in vector_search.knn(
            emb.crossJoin(F.broadcast(q)), F.col("qvec"), k=10
        ).collect()
    ]
    indexed_knn = [
        tuple(r) for r in indexing.indexed_knn(spark, idx, q, k=10, exact=True).collect()
    ]
    assert adhoc_knn == indexed_knn


def test_exclude_glob_regex_translation(spark, files_dir):
    """exclude globs run as one codegen rlike, no Python UDF; ?, *
    and [...] classes all translate."""
    from cocoindex_data_ingestion_spark.sources.localfile import _glob_to_regex

    assert _glob_to_regex("*.log") == "[^/]*\\.log"
    assert _glob_to_regex("a?.md") == "a[^/]\\.md"
    assert _glob_to_regex("[ab].md") == "[ab]\\.md"

    excl = read_local_files(spark, files_dir, exclude_globs=["s?ip.log", "[xy].md"])
    assert {r.filename for r in excl.collect()} == {"a.md", "b.md"}
    # plan stays UDF-free
    plan = excl._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "pythonUDF" not in plan


def test_single_document_source_rejects_injection(spark):
    from cocoindex_data_ingestion_spark.sources.jdbc import (
        single_document_source,
    )

    with pytest.raises(ValueError):
        single_document_source(
            spark, "jdbc:postgresql://x/db", "1'; DROP TABLE documents; --"
        )


def test_graph_declarations_and_endpoint_autocreate(spark, tmp_path):
    """Declaration semantics (property_graph.rs GraphDeclaration +
    neo4j.rs declaration handling): declared labels produce key/index
    DDL; relationship exports referencing a declared label auto-create
    endpoint placeholder nodes; undeclared labels error."""
    g = sinks.GraphSink(
        spark, str(tmp_path / "g"),
        "node_id string, label string, _auto boolean",
        "src string, dst string, rel_type string",
    )
    g.declare_label("Entity", ["node_id"], vector_index=("embedding", 64))
    g.declare_label("Document", ["node_id"])

    stmts = g.setup_statements()
    assert stmts == [
        "CREATE CONSTRAINT IF NOT EXISTS FOR (n:Document) "
        "REQUIRE (n.node_id) IS UNIQUE",
        "CREATE CONSTRAINT IF NOT EXISTS FOR (n:Entity) "
        "REQUIRE (n.node_id) IS UNIQUE",
        "CREATE VECTOR INDEX IF NOT EXISTS FOR (n:Entity) "
        "ON (n.embedding) OPTIONS {dimension: 64}",
    ]

    edges = spark.createDataFrame(
        [("e1", "e2", "MENTIONS")], "src string, dst string, rel_type string"
    )
    g.merge_edges(edges)
    g.ensure_declared_endpoints(edges, "Entity")
    nodes = {r.node_id: r for r in g.nodes.read().collect()}
    assert set(nodes) == {"e1", "e2"}
    assert all(n._auto and n.label == "Entity" for n in nodes.values())

    # re-running is idempotent (no duplicate placeholders)
    g.ensure_declared_endpoints(edges, "Entity")
    assert g.nodes.read().count() == 2

    with pytest.raises(ValueError):
        g.ensure_declared_endpoints(edges, "NeverDeclared")


def test_jsonl_source_ordinal_and_quarantine(spark, tmp_path):
    from cocoindex_data_ingestion_spark.sources.files import read_jsonl

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"id": 1, "name": "ok"}\n'
        'this is not json\n'
        '{"id": 2, "name": "also ok"}\n'
    )
    good, bad = read_jsonl(spark, str(p), "id long, name string")
    g = {r.id: r for r in good.collect()}
    assert set(g) == {1, 2}
    assert all(r.ordinal > 0 and r.source_path.endswith("a.jsonl")
               for r in g.values())
    b = bad.collect()
    assert len(b) == 1 and "not json" in b[0]._corrupt_record
    assert b[0].ordinal == g[1].ordinal  # same file, same mtime ordinal


def test_csv_source_quarantine(spark, tmp_path):
    from cocoindex_data_ingestion_spark.sources.files import read_csv

    p = tmp_path / "csv"
    p.mkdir()
    (p / "d.csv").write_text("id,qty\n1,10\n2,not_a_number\n3,30\n")
    good, bad = read_csv(spark, str(p), "id long, qty long")
    assert {r.id for r in good.collect()} == {1, 3}
    b = bad.collect()
    assert len(b) == 1 and "not_a_number" in b[0]._corrupt_record


def test_orc_round_trip(spark, tmp_path, sf_dir):
    from cocoindex_data_ingestion_spark.sources import files as fsrc
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    out = str(tmp_path / "docs_orc")
    fsrc.write_orc(docs, out)
    back = fsrc.read_orc(
        spark, out, "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert {"ordinal", "source_path"} <= set(back.columns)
    assert back.count() == docs.count()
    a = sorted(r["doc_id"] for r in back.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert a == b
    # predicate reaches the ORC scan (pushdown, like parquet)
    plan = back.filter("doc_id = 7")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "doc_id" in plan


def test_vector_sink_one_document_merge_rewrites_its_buckets(spark, tmp_path):
    """A one-document ``VectorSink.merge`` rewrites only the buckets of
    that document's chunk keys: every other bucket keeps its manifest
    entry, and the new generation holds just the touched buckets."""
    import os

    ddl = "chunk_id string, doc_id long, embedding array<float>"
    sink = sinks.VectorSink(
        spark, str(tmp_path / "chunks"), ["chunk_id"], ddl, {"embedding": 2}
    )

    def chunks(doc, scale):
        return [(f"{doc}-{i}", doc, [float(scale), float(i)]) for i in range(3)]

    sink.merge(spark.createDataFrame(
        [c for d in range(40) for c in chunks(d, 0)], ddl
    ))
    before = sink.state._manifest()["buckets"]
    one = spark.createDataFrame(chunks(7, 1), ddl)
    own = sink.state._touched_buckets(one)

    sink.merge(one)
    after = sink.state._manifest()["buckets"]
    assert len(before) == 32 and set(after) == set(before)
    changed = sorted(int(b) for b in after if after[b] != before[b])
    assert changed == own and len(own) <= 3
    (gen,) = {after[str(b)] for b in own}
    assert sorted(
        int(d.split("=")[1]) for d in os.listdir(os.path.join(sink.state.path, gen))
        if d.startswith("_bucket=")
    ) == own
    rows = {r.chunk_id: r.embedding for r in sink.read().collect()}
    assert len(rows) == 120
    assert rows["7-1"] == [1.0, 1.0] and rows["8-1"] == [0.0, 1.0]


def test_vector_sink_merge_runs_its_upstream_once(spark, tmp_path):
    """``VectorSink.merge`` checks the dims on the rows its pin has
    evaluated, so a 120-row upstream runs its embedding UDF 120 times,
    as under ``TableSink.merge``, not once more for the check."""
    seen = spark.sparkContext.accumulator(0)

    def embed(i):
        seen.add(1)
        return [float(i), 1.0]

    ddl = "chunk_id string, doc_id long, embedding array<float>"
    rows = spark.range(120).select(
        F.col("id").cast("string").alias("chunk_id"),
        F.col("id").alias("doc_id"),
        F.udf(embed, "array<float>")("id").alias("embedding"),
    )
    sink = sinks.VectorSink(
        spark, str(tmp_path / "v"), ["chunk_id"], ddl, {"embedding": 2}
    )
    sink.merge(rows)
    assert seen.value == 120
    assert sink.read().count() == 120
    with pytest.raises(ValueError, match="dim=3"):
        sinks.VectorSink(
            spark, str(tmp_path / "v3"), ["chunk_id"], ddl, {"embedding": 3}
        ).merge(rows)
    assert seen.value == 240


def test_vector_sink_checks_dims_without_a_job(spark, spark_jobs, tmp_path):
    """On rows its pin collected, ``VectorSink.merge`` checks the dims
    on the Arrow table, so a warm 120-row merge runs one job more than
    ``TableSink.merge`` of the same rows (the second pin), not two.
    A NULL vector passes; a wrong dim after NULLs still fails."""
    ddl = "chunk_id string, doc_id long, embedding array<float>"

    def rows(v):
        return spark.createDataFrame(
            [(str(i), i, None if i % 7 == 0 else [float(v), 1.0]) for i in range(120)], ddl
        )

    vec = sinks.VectorSink(spark, str(tmp_path / "v"), ["chunk_id"], ddl, {"embedding": 2})
    tab = sinks.TableSink(spark, str(tmp_path / "t"), ["chunk_id"], ddl)
    vec.merge(rows(0))
    tab.merge(rows(0))
    vec_jobs = spark_jobs(lambda: vec.merge(rows(1)))[0]
    tab_jobs = spark_jobs(lambda: tab.merge(rows(1)))[0]
    assert vec_jobs <= tab_jobs + 1 and vec_jobs <= 6, (vec_jobs, tab_jobs)
    got = {r.chunk_id: r.embedding for r in vec.read().collect()}
    assert got["7"] is None and got["8"] == [1.0, 1.0]
    bad = rows(1).union(spark.createDataFrame([("x", 0, [1.0])], ddl))
    with pytest.raises(ValueError, match="dim=2"):
        vec.merge(bad)
