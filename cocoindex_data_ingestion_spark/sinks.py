"""Export targets (sinks): table, vector-collection, property-graph.

Reference targets (SURVEY §2.4): Postgres+pgvector (upsert ON
CONFLICT + delete-gone, postgres.rs:213-266), Qdrant collections
(named vectors, upsert/delete points, qdrant.rs:216-300), Neo4j/Kuzu
property graphs (MERGE nodes/rels, delete stale, orphan GC,
neo4j.rs:321-401, 874-897).

Spark-first: every target is "a keyed table with MERGE semantics".
The in-repo materialization is the engine's one keyed state class,
``plans.incremental.BucketedParquetState``: a merge (upsert by key)
rewrites only the hash buckets of the merged keys and commits them
through its manifest log, so a one-document publish writes that
document's buckets, not the table. Table and vector targets are keyed
on their ``key_cols``, graph nodes on ``node_id`` and graph edges on
``(src, dst, rel_type)``. Deletes by filter, full syncs, the stale-rel
delete and the orphan GC read the whole table and ``overwrite`` it. On
a real deployment the same DataFrames go to JDBC (batched upserts), a
vector DB client in ``foreachBatch``, or Delta ``MERGE INTO`` — the
mutation *set arithmetic* below (upsert ∪ survivors, anti-join
deletes, orphan GC) is the part the reference implements per-target in
~1k LoC each, and it is target-agnostic here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.plans.incremental import (
    BucketedParquetState,
)


class TableSink:
    """Keyed table target with upsert + delete (Postgres-table shape).

    ``merge``: new rows replace same-key rows (ON CONFLICT DO UPDATE);
    ``delete_where`` / ``sync`` handle deletions (delete-by-filter is
    the Qdrant delete_by_document shape, qdrant_service.py:462-540).
    """

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str],
                 schema_ddl: str):
        self.state = BucketedParquetState(
            spark, path, schema_ddl, key_col=key_cols
        )

    def read(self) -> DataFrame:
        return self.state.read()

    def merge(self, rows: DataFrame) -> None:
        self.state.merge(rows)

    def delete_where(self, condition: str) -> int:
        cur = self.state.read()
        kept = cur.filter(f"NOT ({condition})")
        n = cur.count() - kept.count()
        self.state.overwrite(kept)
        return n

    def sync(self, rows: DataFrame) -> None:
        """Full sync: target becomes exactly ``rows`` (upsert new,
        delete gone — one swap; the reference's export loop computes
        the same diff row-by-row)."""
        self.state.overwrite(rows)


class VectorSink(TableSink):
    """Vector-collection target (Qdrant shape): a TableSink whose
    payload includes one or more named vector columns; top-k search
    over it is operators.vector_search.knn. Collection metadata
    (dim, distance) is validated on merge, on the rows ``pin`` has
    already evaluated, so an expensive upstream (chunking, embedding)
    runs once: the merge then pins a ``LocalRelation``."""

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str],
                 schema_ddl: str, vector_cols: dict[str, int]):
        super().__init__(spark, path, key_cols, schema_ddl)
        self.vector_cols = vector_cols

    def merge(self, rows: DataFrame) -> None:
        rows = self.state.pin(rows).df
        for col, dim in self.vector_cols.items():
            bad = rows.filter(
                F.col(col).isNotNull() & (F.size(F.col(col)) != dim)
            ).limit(1).count()
            if bad:
                raise ValueError(f"vector column '{col}' violates dim={dim}")
        super().merge(rows)


class GraphSink:
    """Property-graph target (Neo4j/Kuzu shape): node + edge tables
    with MERGE semantics and the reference's cleanup passes:

    - MERGE nodes by key, MERGE rels by (src, dst, type)
      (neo4j.rs:333,395-401)
    - delete stale rels for re-exported sources (neo4j.rs:321-369)
    - orphan GC: auto-created nodes with no remaining edges are
      removed (neo4j.rs:874-897) — an anti-join of nodes against
      edge endpoints."""

    def __init__(self, spark: SparkSession, base_path: str,
                 node_schema_ddl: str, edge_schema_ddl: str):
        self.nodes = BucketedParquetState(
            spark, f"{base_path}/nodes", node_schema_ddl, key_col="node_id"
        )
        self.edges = BucketedParquetState(
            spark, f"{base_path}/edges", edge_schema_ddl,
            key_col=("src", "dst", "rel_type"),
        )
        # label → declaration (GraphDeclaration, property_graph.rs:47-52:
        # a node label + index options declared WITHOUT being directly
        # exported, so relationships may reference it and the target
        # can set up key constraints/indexes up front)
        self.declarations: dict[str, dict] = {}

    # -- declarations (neo4j.rs:923-1000 DeclarationSpec) -----------------

    def declare_label(
        self, label: str, key_cols: list[str],
        vector_index: tuple[str, int] | None = None,
    ) -> None:
        """Declare a node label with its primary key (+ optional
        vector index) before any export references it."""
        self.declarations[label] = {
            "key_cols": list(key_cols), "vector_index": vector_index,
        }

    def setup_statements(self) -> list[str]:
        """Deterministic DDL the declarations imply — the statements a
        live Neo4j/Kuzu connection would run (KEY constraint per
        declared label, vector index when declared); parquet state
        needs none, but the contract is testable without a server."""
        stmts = []
        for label in sorted(self.declarations):
            d = self.declarations[label]
            keys = ", ".join(f"n.{k}" for k in d["key_cols"])
            stmts.append(
                f"CREATE CONSTRAINT IF NOT EXISTS FOR (n:{label}) "
                f"REQUIRE ({keys}) IS UNIQUE"
            )
            if d["vector_index"]:
                col, dim = d["vector_index"]
                stmts.append(
                    f"CREATE VECTOR INDEX IF NOT EXISTS FOR (n:{label}) "
                    f"ON (n.{col}) OPTIONS {{dimension: {dim}}}"
                )
        return stmts

    def ensure_declared_endpoints(
        self, edges: DataFrame, endpoint_label: str, label_col: str = "label",
    ) -> None:
        """Auto-create placeholder nodes for edge endpoints of a
        DECLARED label (the reference auto-creates relationship
        endpoints and relies on the declaration for their key;
        referencing an undeclared label is a setup error,
        neo4j.rs:939-1000)."""
        if endpoint_label not in self.declarations:
            raise ValueError(
                f"label {endpoint_label!r} referenced by relationship "
                "export but never declared — declare_label() it first"
            )
        endpoints = (
            edges.select(F.col("src").alias("node_id"))
            .unionByName(edges.select(F.col("dst").alias("node_id")))
            .distinct()
            .withColumn(label_col, F.lit(endpoint_label))
        )
        existing = self.nodes.read().select("node_id")
        missing = endpoints.join(existing, "node_id", "left_anti")
        self.merge_nodes(missing, auto_created=True)

    def merge_nodes(self, nodes: DataFrame, auto_created: bool = False) -> None:
        self.nodes.merge(nodes.withColumn("_auto", F.lit(auto_created)))

    def merge_edges(self, edges: DataFrame) -> None:
        self.edges.merge(edges)

    def delete_edges_from_sources(self, srcs: DataFrame) -> None:
        """Stale-rel cleanup: drop all edges whose src is being
        re-exported (then merge the fresh set)."""
        cur = self.edges.read()
        self.edges.overwrite(cur.join(srcs, "src", "left_anti"))

    def gc_orphans(self) -> int:
        """Remove auto-created nodes that no edge references."""
        nodes, edges = self.nodes.read(), self.edges.read()
        endpoints = (
            edges.select(F.col("src").alias("node_id"))
            .unionByName(edges.select(F.col("dst").alias("node_id")))
            .distinct()
        )
        keep = nodes.filter(~F.col("_auto")).unionByName(
            nodes.filter(F.col("_auto")).join(endpoints, "node_id", "left_semi")
        )
        removed = nodes.count() - keep.count()
        self.nodes.overwrite(keep)
        return removed


def jdbc_upsert_writer(url: str, table: str, key_cols: list[str],
                       batchsize: int = 1000):
    """foreachBatch sink for real JDBC targets (chunked batched
    upsert, the reference's BIND_LIMIT chunking postgres.rs:227-266).
    Import-guarded: requires a JDBC driver on the classpath."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", str(batchsize))
            .mode("append")
            .save()
        )

    return _sink


# -- custom target connector (cocoindex op.TargetSpec surface) ------------------
#
# Reference: user-defined export targets
# (examples/custom_output_files/main.py:11-96; engine side
# python/cocoindex/op.py TargetSpec/target_connector): a connector
# class with
#   get_persistent_key(spec, target_name) -> str
#   describe(key) -> str                              (optional)
#   apply_setup_change(key, previous_spec, current_spec) -> None
#   prepare(spec) -> prepared                          (optional)
#   mutate(*(prepared, {key: value_struct_or_None})) -> None
# where a None mutation value means DELETE and values mean UPSERT —
# the same upsert/delete set the built-in targets receive. All
# connector actions are documented as idempotent.


class CustomTargetRunner:
    """Drives a user connector through the reference lifecycle.

    Spark form: the engine computes the mutation SET as DataFrames
    (upserts carry the value columns; deletes carry only keys) and
    feeds the connector in bounded driver-side batches via
    ``toLocalIterator`` — the reference's connector runs in one
    process too, and a bounded iterator keeps driver memory flat at
    any export size. Connectors that are location-transparent (object
    stores, HTTP services) can opt into ``distributed=True`` to run
    ``mutate`` inside ``foreachPartition`` on the executors instead.
    """

    def __init__(self, connector, spec, target_name: str,
                 previous_spec=None):
        self.connector = connector
        self.spec = spec
        self.key = connector.get_persistent_key(spec, target_name)
        # setup change: None -> spec on first export; spec -> None on
        # target removal (drop()); both idempotent by contract
        connector.apply_setup_change(self.key, previous_spec, spec)
        prepare = getattr(connector, "prepare", None)
        self.prepared = prepare(spec) if prepare else spec

    def describe(self) -> str:
        desc = getattr(self.connector, "describe", None)
        return desc(self.key) if desc else self.key

    def apply(
        self,
        upserts: DataFrame | None,
        deletes: DataFrame | None = None,
        key_col: str = "filename",
        batch_size: int = 1000,
        distributed: bool = False,
    ) -> int:
        """One export pass: every upsert row becomes
        ``{key: value-row}``, every delete key becomes ``{key: None}``,
        chunked into ``batch_size`` mutations per connector call."""
        connector, prepared = self.connector, self.prepared

        def _mutate_batches(rows_iter, value: bool):
            n = 0
            muts: dict = {}
            for row in rows_iter:
                d = row.asDict(recursive=True)
                k = d.pop(key_col)
                muts[k] = _ValueStruct(d) if value else None
                if len(muts) >= batch_size:
                    connector.mutate((prepared, muts))
                    n += len(muts)
                    muts = {}
            if muts:
                connector.mutate((prepared, muts))
                n += len(muts)
            return n

        if distributed:
            def _part(rows):
                muts = {}
                for row in rows:
                    d = row.asDict(recursive=True)
                    muts[d.pop(key_col)] = _ValueStruct(d)
                if muts:
                    connector.mutate((prepared, muts))

            total = 0
            if upserts is not None:
                upserts.foreachPartition(_part)
                total += upserts.count()
            if deletes is not None:
                def _part_del(rows):
                    muts = {row[key_col]: None for row in rows}
                    if muts:
                        connector.mutate((prepared, muts))

                deletes.foreachPartition(_part_del)
                total += deletes.count()
            return total

        total = 0
        if upserts is not None:
            total += _mutate_batches(upserts.toLocalIterator(), True)
        if deletes is not None:
            total += _mutate_batches(
                deletes.select(key_col).toLocalIterator(), False
            )
        return total

    def drop(self) -> None:
        """Target removed from the flow: setup change spec -> None."""
        self.connector.apply_setup_change(self.key, self.spec, None)


class _ValueStruct:
    """Attribute view over an upsert row (the reference hands the
    connector a dataclass instance; ``mutation.html`` etc.)."""

    def __init__(self, d: dict):
        self.__dict__.update(d)

    def __eq__(self, other):
        return isinstance(other, _ValueStruct) and \
            self.__dict__ == other.__dict__

    def __repr__(self):
        return f"_ValueStruct({self.__dict__!r})"
