"""Incremental execution: ordinal / content-hash skip + memoization +
exactly-once-style export.

Reference semantics reproduced (SURVEY §2.5):

- **Ordinal skip** (src/execution/row_indexer.rs:34-131): each source
  row carries a monotonic ordinal (mtime µs). A row is reprocessed
  only if its ordinal is newer than the tracked one, or equal with a
  changed logic fingerprint.
- **Content-hash short-circuit** (row_indexer.rs:506-587): if the
  source content hash is unchanged and the logic fingerprint is
  current, only the tracking ordinal is bumped — no recompute, no
  target writes.
- **Logic fingerprint** (analyzer.rs:1105-1108): flow-definition hash
  stored per row; change ⇒ full reprocess.
- **Deletion detection** (source_indexer.rs:298-393): keys present in
  tracking state but absent from a fresh listing ⇒ target delete.
- **Function memoization** (memoization.rs:17-233): expensive
  function results cached by (behavior_version, args-hash) and
  reused across reprocessing.

Spark-first shape: all of this is *set arithmetic over DataFrames* —
the skip decision is one full-outer join between the source listing
and the tracking table; the memo cache is a left join before the
expensive UDF and a union-back after.

All keyed state — the tracking table, update targets, the memo cache,
the IVM views and the export sinks (``sinks.py``) — is one class,
:class:`BucketedParquetState`: parquet files bucketed by a hash of a
one- or multi-column key, a MERGE that rewrites only the buckets of the
changed keys, and a manifest log with an optimistic-concurrency commit
and time travel. At production scale a Delta/Iceberg ``MERGE INTO`` on
a table bucketed by the same hash replaces it; the join logic is
identical.

Decision matrix (ported from the reference's row_indexer tests,
src/execution/row_indexer.rs:823-987 — see tests/test_incremental.py):

| listing vs tracking                | action       |
|------------------------------------|--------------|
| new key                            | process      |
| ordinal newer, content differs     | process      |
| ordinal newer, content same        | bump ordinal |
| ordinal equal, logic same          | skip         |
| ordinal equal, logic changed       | process      |
| ordinal older                      | skip (stale) |
| key gone from listing              | delete       |
"""

from __future__ import annotations

import functools
import operator
import os
import shutil
import uuid
from typing import Callable, NamedTuple, Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

TRACKING_COLS = ("_key", "_ordinal", "_content_hash", "_logic_fp", "_process_ordinal")


def content_hash(*cols) -> F.Column:
    """sha256 fingerprint of the row content (row_indexer.rs:506)."""
    return F.sha2(F.to_json(F.struct(*[F.col(c) for c in cols])), 256)


def join_keys(
    df: DataFrame, keys: DataFrame, cols: Sequence[str], how: str
) -> DataFrame:
    """``df`` semi- or anti-joined (``how``) with ``keys`` on every
    column of ``cols``, NULL matching NULL: a NULL key is one key of the
    state, as a NULL group is one group of a SQL ``GROUP BY``."""
    cond = functools.reduce(operator.and_, [
        F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}")) for c in cols
    ])
    return df.alias("_l").join(keys.alias("_r"), cond, how)


class PinnedDelta(NamedTuple):
    """A delta evaluated once by :meth:`BucketedParquetState.pin`."""

    df: DataFrame  # a LocalRelation (small) or a localCheckpoint (large)
    buckets: list[int]  # sorted bucket ids of its keys
    table: pa.Table | None  # its rows plus ``_bucket``, when small


class BucketedParquetState:
    """Key-hash-bucketed state with an optimistic-concurrency commit
    log — the scale-correct Delta/Iceberg-MERGE stand-in.

    Layout::

        path/MANIFEST.000000000007.json   {"seq": 7, "buckets": {"5": "gen_7_ab12cd34", ...}}
        path/gen_7_ab12cd34/_bucket=5/part-*.parquet

    The key is one column or a tuple of columns (``key_col``). Rows
    are partitioned by ``crc32(key) % n_buckets``, where a tuple key is
    hashed as its columns cast to string and joined by ``\x1f``; a key
    is matched by null-safe equality on every column, so two keys that
    share a bucket never replace each other. A merge
    rewrites ONLY the buckets containing changed keys into a fresh
    generation directory, then commits by claiming the next manifest
    sequence number with an atomic exclusive create (``os.link`` of a
    fully-written temp file — complete-content-or-nothing). A crash
    at any point leaves the previous manifest the newest consistent
    one. At 100 TB this is the difference between O(Δ) and O(state)
    I/O per incremental update; a real deployment swaps this class
    for ``MERGE INTO`` on a table bucketed by the same hash.

    ``path`` must be visible to the driver as a POSIX directory: the
    commit lists and links files there (``os.listdir``, ``os.link``),
    and so does the driver route of :meth:`fold_merge_sum`, which
    reads and writes small buckets with pyarrow. Reads through Spark
    use the state's DDL schema, so no read runs a schema-inference
    job.

    **Multi-writer safe** (beyond the reference's per-flow
    single-writer source indexer, src/execution/source_indexer.rs) via
    the same protocol Delta's transaction log uses: writers race to
    create ``MANIFEST.{seq}.json``; the loser re-reads the winner's
    manifest and either *rebases* (its touched buckets are untouched
    by the winner — just re-point them and re-attempt the commit) or
    *retries the whole merge* (bucket overlap — its survivors were
    computed from a stale snapshot, so the written generation is
    discarded and recomputed). Exclusive create is atomic on POSIX
    and HDFS; on S3 use a conditional PUT (If-None-Match) the same
    way. The last ``_MANIFEST_RETAIN`` manifests are kept so
    concurrent readers never observe a missing file."""

    _MANIFEST_RETAIN = 10
    _MAX_RETRIES = 10  # commit attempts before a writer gives up
    # Largest delta, and largest touched-bucket row count, that
    # fold_merge_sum folds on the driver instead of through Spark; also
    # the largest change set pin keeps as a LocalRelation.
    # Measured, pin + fold, 32 touched buckets, local[4] on a 4-vCPU
    # VM with a 2 GB driver (delta rows / bucket rows: driver vs Spark
    # route): 1k/1k 0.36 vs 1.58 s, 10k/10k 0.34 vs 1.28 s, 100k/100k
    # 0.85 vs 1.79 s, 300k/1M 2.9 vs 4.5 s, 1M/1k 5.9 vs 5.9 s. The
    # crossover lies between 300k and 1M delta rows on one host; N
    # sits below it because a cluster gives the Spark route executors
    # and the driver route none, and the driver holds the delta. Above
    # N, pin's thrown-away collect re-evaluates the delta: a 300k-row
    # refresh took 3.7 s against 3.3 s for the Spark route alone, a
    # 1M-row one 7.7 s against 5.5 s.
    _DRIVER_ROWS = 100_000

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema_ddl: str,
        key_col: str | Sequence[str],
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.path = path
        self.schema_ddl = schema_ddl
        self.key_cols = (
            (key_col,) if isinstance(key_col, str) else tuple(key_col)
        )
        self.n_buckets = n_buckets

    @functools.cached_property
    def _schema(self) -> StructType:
        return self.spark.createDataFrame([], self.schema_ddl).schema

    @functools.cached_property
    def _arrow_schema(self) -> pa.Schema:
        return to_arrow_schema(self._schema)

    # -- manifest (optimistic-concurrency commit log) ---------------------

    def _numbered_path(self, seq: int) -> str:
        return os.path.join(self.path, f"MANIFEST.{seq:012d}.json")

    def _manifest_seqs(self) -> list[int]:
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        seqs = []
        for n in names:
            if n.startswith("MANIFEST.") and n.endswith(".json"):
                mid = n[len("MANIFEST."):-len(".json")]
                if mid.isdigit():
                    seqs.append(int(mid))
        return sorted(seqs)

    def _manifest(self) -> dict:
        import json

        seqs = self._manifest_seqs()
        if not seqs:
            return {"seq": -1, "buckets": {}}
        with open(self._numbered_path(seqs[-1])) as f:
            return json.load(f)

    def _try_commit(self, manifest: dict) -> bool:
        """Claim ``MANIFEST.{seq}.json`` atomically; False = lost the
        race. The body is fully written to a temp file first and
        ``os.link``ed into place, so a claimed manifest is always
        complete (no create-then-write crash window)."""
        import json

        os.makedirs(self.path, exist_ok=True)
        target = self._numbered_path(manifest["seq"])
        tmp = os.path.join(self.path, f".commit-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, target)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        for s in self._manifest_seqs()[: -self._MANIFEST_RETAIN]:
            try:
                os.unlink(self._numbered_path(s))
            except FileNotFoundError:
                pass
        return True

    # -- read -------------------------------------------------------------

    def _bucket_of(self, *cols) -> F.Column:
        """``crc32(key) % n_buckets`` of the key columns (or ``cols``):
        the columns cast to string, joined by ``\x1f``. ``concat_ws``
        skips NULLs and ``crc32('') = 0``, so a NULL single-column key
        goes to bucket 0."""
        cols = cols or [F.col(c) for c in self.key_cols]
        return F.pmod(
            F.crc32(
                F.concat_ws("\x1f", *[c.cast("string") for c in cols])
                .cast("binary")
            ),
            F.lit(self.n_buckets),
        )

    def _touched_buckets(self, df: DataFrame) -> list[int]:
        """Sorted bucket ids of ``df``'s keys (one distinct+collect job)."""
        return sorted(
            r["b"]
            for r in df.select(self._bucket_of().alias("b")).distinct().collect()
        )

    def _manifest_at(self, seq: int) -> dict:
        import json

        try:
            with open(self._numbered_path(seq)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot seq={seq} is not retained (last"
                f" {self._MANIFEST_RETAIN} kept: {self._manifest_seqs()})"
            ) from None

    def history(self) -> list[dict]:
        """Retained snapshots, oldest first (the time-travel surface:
        ``read(as_of_seq=h['seq'])`` reads any of them)."""
        return [self._manifest_at(s) for s in self._manifest_seqs()]

    def _bucket_dirs(
        self, manifest: dict, buckets: list[int] | None = None
    ) -> dict[int, str]:
        """Bucket id → its directory in ``manifest``, for ``buckets``
        (default: all); buckets the manifest does not hold are left out."""
        m = manifest["buckets"]
        items = m.items() if buckets is None else [
            (str(b), m[str(b)]) for b in buckets if str(b) in m
        ]
        return {
            int(b): os.path.join(self.path, gen, f"_bucket={b}")
            for b, gen in items
        }

    def _read_at(
        self, manifest: dict, buckets: list[int] | None = None
    ) -> DataFrame:
        paths = list(self._bucket_dirs(manifest, buckets).values())
        if not paths:
            return self.spark.createDataFrame([], self.schema_ddl)
        return self.spark.read.schema(self.schema_ddl).parquet(*paths)

    def read(
        self, buckets: list[int] | None = None, as_of_seq: int | None = None
    ) -> DataFrame:
        return self._read_at(
            self._manifest() if as_of_seq is None
            else self._manifest_at(as_of_seq),
            buckets,
        )

    def read_keys(self, keys: DataFrame) -> DataFrame:
        """Current rows for the given keys: bucket-pruned read +
        semi-join (O(touched buckets), not O(state)). One job collects
        the keys' bucket ids, and none runs when the state is empty."""
        if not self._manifest()["buckets"]:
            # empty state: skip the bucket-collect job entirely (a
            # first IVM batch otherwise pays a full scan of `keys`
            # just to learn there is nothing to read)
            return self.spark.createDataFrame([], self.schema_ddl)
        return join_keys(
            self.read(self._touched_buckets(keys)),
            keys.select(*self.key_cols).distinct(),
            self.key_cols, "left_semi",
        )

    # -- write ------------------------------------------------------------

    def merge(
        self, upserts: DataFrame, delete_keys: DataFrame | None = None
    ) -> list[int]:
        """Upsert rows (full replacement per key) + delete keys.
        Rewrites only the touched buckets; returns their ids. Every
        upsert row is written, so two upserts of one key both land,
        and an upsert of a deleted key replaces it.

        The change set (the upserts, and the delete keys marked by a
        ``_delete`` column, a name no state column may take, like
        ``_bucket``) is evaluated exactly once, by :meth:`pin`, whose
        collect also brings each row's bucket id; the write reads the
        pinned frame. A caller never passes a bucket set.

        Safe under concurrent writers: survivors are computed from a
        snapshot, and the commit CAS detects whether any *touched*
        bucket moved since that snapshot — disjoint-bucket winners
        cause a cheap rebase, overlapping ones a full recompute."""
        key = self.key_cols
        changes = upserts.select(*self._schema.names).withColumn(
            "_delete", F.lit(False)
        )
        if delete_keys is not None:
            changes = changes.unionByName(
                delete_keys.select(*[
                    F.col(c).cast(self._schema[c].dataType) for c in key
                ]).withColumn("_delete", F.lit(True)),
                allowMissingColumns=True,
            )
        pinned = self.pin(changes)
        touched = pinned.buckets
        if not touched:
            return []
        changed_keys = pinned.df.select(*key).distinct()
        rows = pinned.df.filter(~F.col("_delete")).drop("_delete")

        def write(snapshot: dict, gen_dir: str) -> set[int]:
            cur = self._read_at(snapshot, touched)
            survivors = join_keys(cur, changed_keys, key, "left_anti")
            out = survivors.unionByName(rows)
            return self._spark_write(out, gen_dir, width=len(touched))

        return self._occ_write(touched, write, op="merge")

    def pin(self, delta: DataFrame) -> PinnedDelta:
        """Evaluate ``delta`` once and pin it, with its bucket set.

        One ``limit(N + 1).toArrow()`` collect (N = ``_DRIVER_ROWS``)
        brings the rows to the driver together with each row's bucket
        id, computed by Spark (``_bucket_of``). At most N rows: the
        frame is rebuilt from that table by ``createDataFrame``, a
        ``LocalRelation`` whose rows live in the plan (it survives
        executor loss), and the table is kept for the driver fold.
        More: the frame is ``localCheckpoint``ed (the collect is
        wasted, and the delta is evaluated a second time) and its
        buckets are collected again, distinct. Persisting the frame
        around the collect would save that second evaluation on this
        route but costs the small route 30-50 ms per refresh."""
        table = (
            delta.withColumn("_bucket", self._bucket_of())
            .limit(self._DRIVER_ROWS + 1)
            .toArrow()
        )
        if table.num_rows <= self._DRIVER_ROWS:
            return PinnedDelta(
                self.spark.createDataFrame(table.drop_columns(["_bucket"])),
                sorted(set(table.column("_bucket").to_pylist())),
                table,
            )
        delta = delta.localCheckpoint(eager=True)
        return PinnedDelta(delta, self._touched_buckets(delta), None)

    def fold_merge_sum(
        self,
        delta: PinnedDelta,
        on: list[str],
        sum_cols: tuple[str, ...] = ("m",),
    ) -> list[int]:
        """MERGE of a signed delta: the touched buckets' rows and
        ``delta`` are summed per ``on`` tuple and written back. Rows are
        unique per ``on``; every other column is summed (``sum_cols``,
        integral columns kept bigint, doubles kept double); rows whose
        ``sum_cols[0]`` folds to <= 0 disappear (deletes). This is the
        shape of every invertible view state (count/sum aggregates,
        distinct support, quantile cells, join sides and join view).
        ``on`` + ``sum_cols`` must cover every state column. Returns
        the touched bucket ids.

        ``delta`` is :meth:`pin`'s result. Each commit attempt takes
        one of two routes:

        - **driver** — when the delta was pinned as a table (at most
          ``_DRIVER_ROWS`` rows), no ``on`` column has a nested type
          (pyarrow cannot group by one), and the touched buckets hold
          at most ``_DRIVER_ROWS`` rows, counted from the parquet
          footers of the snapshot's files. pyarrow reads those files
          under the state's Arrow schema, adds the delta per ``on``
          tuple and writes one file per non-empty bucket. No Spark job
          runs: a small delta does not pay for a distributed write.
          Delta rows carry their bucket from ``pin`` and state rows
          from their bucket directory, so no bucket hash is computed
          in Python.
        - **Spark** — otherwise: read the buckets, union the delta,
          groupBy-sum, repartition by bucket and write. It is the
          only route for a delta or buckets too large to hold on the
          driver.

        Both routes commit through the same manifest CAS
        (:meth:`_occ_write`). The per-group add has two terms (one
        state row, one delta row), so it gives the same doubles on
        both routes in any order; NULL keys form one group on both."""
        touched = delta.buckets
        if not touched:
            return []
        cols = [c for c in self._schema.names if c not in sum_cols]
        if set(on) != set(cols):
            raise ValueError(
                f"fold_merge_sum: `on` + sum_cols must cover every"
                f" state column (non-summed: {cols})"
            )

        # pyarrow's grouper takes no nested key (list, struct, map),
        # Spark's groupBy does: a join side with an array payload folds
        # through Spark
        driver = delta.table is not None and not any(
            pa.types.is_nested(self._arrow_schema.field(c).type) for c in on
        )

        def write(snapshot: dict, gen_dir: str) -> set[int]:
            if driver:
                files = {
                    b: sorted(
                        os.path.join(d, f) for f in os.listdir(d)
                        if not f.startswith((".", "_"))
                    )
                    for b, d in self._bucket_dirs(snapshot, touched).items()
                }
                n_rows = sum(
                    pq.read_metadata(f).num_rows
                    for fs in files.values() for f in fs
                )
                if n_rows <= self._DRIVER_ROWS:
                    return self._fold_on_driver(
                        delta.table, files, on, sum_cols, gen_dir
                    )
            cur = self._read_at(snapshot, touched).select(*cols, *sum_cols)
            out = (
                cur.unionByName(delta.df.select(*cols, *sum_cols))
                .groupBy(*on)
                .agg(*[
                    F.sum(c).cast(self._schema[c].dataType).alias(c)
                    for c in sum_cols
                ])
                .filter(F.col(sum_cols[0]) > 0)
                .select(*cols, *sum_cols)
            )
            return self._spark_write(out, gen_dir, width=len(touched))

        return self._occ_write(touched, write, op="fold_merge_sum")

    def _fold_on_driver(
        self,
        delta: pa.Table,
        files: dict[int, list[str]],
        on: list[str],
        sum_cols: tuple[str, ...],
        gen_dir: str,
    ) -> set[int]:
        """:meth:`fold_merge_sum`'s driver route: ``delta`` (with its
        ``_bucket`` column) plus the rows of the bucket ``files``,
        summed per ``on`` tuple, written as one file per non-empty
        bucket under ``gen_dir``. Returns the buckets written."""
        schema = self._arrow_schema
        bucketed = schema.append(pa.field("_bucket", pa.int64()))
        parts = [delta.select(bucketed.names).cast(bucketed)]
        for b, fs in files.items():
            t = pq.read_table(fs, schema=schema)
            parts.append(t.append_column(
                "_bucket", pa.array([b] * t.num_rows, pa.int64())
            ))
        folded = (
            pa.concat_tables(parts)
            .group_by([*on, "_bucket"], use_threads=False)
            .aggregate([(c, "sum") for c in sum_cols])
        )
        folded = folded.filter(pc.greater(folded[f"{sum_cols[0]}_sum"], 0))
        out = pa.table(
            [
                folded[f"{c}_sum" if c in sum_cols else c]
                for c in schema.names
            ],
            names=schema.names,
        ).cast(schema)
        bucket = folded["_bucket"]
        written = set(bucket.to_pylist())
        for b in written:
            d = os.path.join(gen_dir, f"_bucket={b}")
            os.makedirs(d)
            # readers take the schema from the DDL; an embedded Arrow
            # schema would be a quarter of a small bucket file
            pq.write_table(
                out.filter(pc.equal(bucket, b)),
                os.path.join(d, "part-00000.parquet"),
                store_schema=False,
            )
        return written

    def _spark_write(
        self, out: DataFrame, gen_dir: str, width: int | None = None
    ) -> set[int]:
        """Write ``out`` partitioned by bucket into ``gen_dir``; returns
        the buckets written (a bucket whose rows were all deleted
        writes no directory). ``width``: the task count, pinned to the
        touched bucket count on a merge — each task owns ~one bucket
        and writes one file, where ``spark.sql.shuffle.partitions``
        tasks would leave most of them empty on a small merge, while
        at scale the bucket count IS the natural write parallelism."""
        out = out.withColumn("_bucket", self._bucket_of())
        out = (
            out.repartition(width, "_bucket") if width
            else out.repartition("_bucket")
        )
        out.write.mode("overwrite").partitionBy("_bucket").parquet(gen_dir)
        return {
            int(d.split("=")[1])
            for d in os.listdir(gen_dir)
            if d.startswith("_bucket=")
        }

    def _occ_write(self, touched: list[int], write, op: str) -> list[int]:
        """Shared OCC write/commit loop: ``write(snapshot, gen_dir)``
        writes the full replacement rows of the touched buckets, as of
        ``snapshot``, into a fresh generation and returns the buckets
        it wrote; then CAS the manifest — rebase on disjoint-bucket
        winners, recompute on overlap."""
        for _attempt in range(self._MAX_RETRIES):
            snapshot = self._manifest()
            gen = f"gen_{snapshot['seq'] + 1}_{uuid.uuid4().hex[:8]}"
            gen_dir = os.path.join(self.path, gen)
            written = write(snapshot, gen_dir)

            base = snapshot
            while True:
                manifest = {"seq": base["seq"] + 1,
                            "buckets": dict(base["buckets"])}
                for b in touched:
                    if b in written:
                        manifest["buckets"][str(b)] = gen
                    else:
                        manifest["buckets"].pop(str(b), None)
                if self._try_commit(manifest):
                    self._gc_unreferenced()
                    return touched
                latest = self._manifest()
                if any(
                    latest["buckets"].get(str(b)) != snapshot["buckets"].get(str(b))
                    for b in touched
                ):
                    # a winner rewrote one of OUR buckets: survivors are
                    # stale — discard this generation, recompute
                    shutil.rmtree(gen_dir, ignore_errors=True)
                    break
                # winner touched only other buckets: rebase and re-CAS
                base = latest
        raise RuntimeError(
            f"BucketedParquetState.{op}: lost the commit race"
            f" {self._MAX_RETRIES}"
            f" times on overlapping buckets {touched} — giving up"
        )

    def overwrite(self, df: DataFrame) -> None:
        """Full rewrite (initial load / compaction). Overwrite always
        wins semantically, so a lost CAS just re-claims the next seq
        without rewriting data."""
        snapshot = self._manifest()
        gen = f"gen_{snapshot['seq'] + 1}_{uuid.uuid4().hex[:8]}"
        written = self._spark_write(df, os.path.join(self.path, gen))
        for _attempt in range(self._MAX_RETRIES):
            base = self._manifest()
            manifest = {
                "seq": base["seq"] + 1,
                "buckets": {str(b): gen for b in sorted(written)},
            }
            if self._try_commit(manifest):
                self._gc_unreferenced()
                return
        raise RuntimeError(
            f"BucketedParquetState.overwrite: lost the commit race"
            f" {self._MAX_RETRIES} times — giving up"
        )

    def vacuum(self, include_recent: bool = False) -> list[str]:
        """Explicit vacuum for operational hygiene. The conservative
        form equals the automatic post-commit GC; ``include_recent``
        ALSO removes unreferenced generations in the recent-seq
        window — the garbage a crashed writer leaves (data written,
        commit never claimed). Only call that form when no writers
        are active: an in-flight writer's uncommitted generation is
        indistinguishable from crash garbage."""
        return self._gc_unreferenced(include_recent=include_recent)

    def _gc_unreferenced(self, include_recent: bool = False) -> list[str]:
        """Retention-aware vacuum (run after every commit): delete
        bucket dirs referenced by NO retained manifest, but (unless
        ``include_recent``) never touch generations whose seq is
        within the retained window — those may belong to retained
        snapshots (time travel) or to in-flight writers racing on
        recent seqs. Bounded garbage: a replaced bucket survives at
        most ``_MANIFEST_RETAIN`` commits."""
        removed: list[str] = []
        seqs = self._manifest_seqs()
        if not seqs:
            return removed
        min_seq = seqs[0]
        referenced: set[tuple[str, int]] = set()
        for s in seqs:
            try:
                m = self._manifest_at(s)
            except ValueError:
                continue
            for b, gen in m["buckets"].items():
                referenced.add((gen, int(b)))
        for d in os.listdir(self.path):
            if not d.startswith("gen_"):
                continue
            try:
                gseq = int(d.split("_")[1])
            except (IndexError, ValueError):
                gseq = None
            if not include_recent and gseq is not None and gseq >= min_seq:
                continue
            gdir = os.path.join(self.path, d)
            for bd in os.listdir(gdir):
                if bd.startswith("_bucket=") and (
                    d, int(bd.split("=")[1])
                ) not in referenced:
                    target = os.path.join(gdir, bd)
                    shutil.rmtree(target, ignore_errors=True)
                    removed.append(target)
            # what is left of a vacuumed Spark generation is its
            # _SUCCESS marker (and the marker's .crc)
            if not any(bd.startswith("_bucket=") for bd in os.listdir(gdir)):
                shutil.rmtree(gdir, ignore_errors=True)
        return removed


class IncrementalRunner:
    """Drives one source → transform → target pipeline incrementally."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        logic_fingerprint: str,
        key_col: str = "key",
        ordinal_col: str = "ordinal",
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.logic_fp = logic_fingerprint
        self.key_col = key_col
        self.ordinal_col = ordinal_col
        os.makedirs(state_dir, exist_ok=True)
        # bucketed: an update rewrites only buckets containing changed
        # keys — O(Δ) tracking I/O per run instead of O(all tracked keys)
        self.tracking = BucketedParquetState(
            spark,
            os.path.join(state_dir, "tracking"),
            "_key string, _ordinal long, _content_hash string, "
            "_logic_fp string, _process_ordinal long",
            key_col="_key",
        )

    # -- skip/process/delete decision (one full-outer join) ---------------

    def plan(self, listing: DataFrame, content_cols: list[str]) -> DataFrame:
        """Annotate the listing with the action per key.

        ``listing``: current source rows with key + ordinal + content
        columns. Returns listing columns + ``_action`` in
        {process, bump, skip, delete} (delete rows carry only _key).
        """
        src = listing.withColumn(
            "_key", F.col(self.key_col).cast("string")
        ).withColumn("_src_hash", content_hash(*content_cols))
        trk = self.tracking.read()

        j = src.alias("s").join(trk.alias("t"), "_key", "full_outer")
        ordc = F.col(f"s.{self.ordinal_col}")
        action = (
            F.when(F.col("s._src_hash").isNull(), F.lit("delete"))
            .when(F.col("t._ordinal").isNull(), F.lit("process"))
            .when(
                ordc > F.col("t._ordinal"),
                F.when(
                    (F.col("s._src_hash") == F.col("t._content_hash"))
                    & (F.col("t._logic_fp") == F.lit(self.logic_fp)),
                    F.lit("bump"),
                ).otherwise(F.lit("process")),
            )
            .when(
                ordc == F.col("t._ordinal"),
                F.when(
                    F.col("t._logic_fp") == F.lit(self.logic_fp), F.lit("skip")
                ).otherwise(F.lit("process")),
            )
            .otherwise(F.lit("skip"))  # stale ordinal: last-writer-wins
        )
        src_cols = [c for c in src.columns if c != "_key"]
        return j.select(
            *[F.col(f"s.{c}").alias(c) for c in src_cols],
            F.col("_key"),
            action.alias("_action"),
        )

    # -- one incremental update run ---------------------------------------

    def update(
        self,
        listing: DataFrame,
        content_cols: list[str],
        transform: Callable[[DataFrame], DataFrame],
        target: BucketedParquetState,
    ) -> dict[str, int]:
        """Process changed rows, bump unchanged, delete gone keys.

        The expensive ``transform`` runs ONLY over action=process
        rows. Returns counters (like the reference's stats report,
        live_updater.rs REPORT_INTERVAL)."""
        planned = self.plan(listing, content_cols)
        planned = planned.persist()
        try:
            counts = {
                r["_action"]: r["count"]
                for r in planned.groupBy("_action").count().collect()
            }
            to_process = planned.filter("_action = 'process'").drop("_action")
            to_bump = planned.filter("_action = 'bump'").drop("_action")
            deletes = planned.filter("_action = 'delete'").select("_key")

            # 1. run the transform over changed rows only; checkpoint so
            # the (possibly expensive) transform executes exactly once —
            # the merge's pin evaluates its input twice when it holds
            # more than _DRIVER_ROWS rows (the wasted collect + the
            # checkpoint)
            new_rows = transform(
                to_process.drop("_key", "_src_hash")
            ).localCheckpoint(eager=True)

            # 2. target MERGE: delete gone keys + upsert new results,
            # rewriting only the touched buckets
            (key,) = target.key_cols
            target.merge(
                new_rows,
                delete_keys=deletes.select(F.col("_key").alias(key)),
            )

            # 3. tracking MERGE (the reference's 2-phase commit collapses
            #    to one atomic state swap here)
            proc_ord = F.lit(self._next_process_ordinal())
            new_trk = (
                to_process.select(
                    "_key",
                    F.col(self.ordinal_col).alias("_ordinal"),
                    F.col("_src_hash").alias("_content_hash"),
                )
                .withColumn("_logic_fp", F.lit(self.logic_fp))
                .withColumn("_process_ordinal", proc_ord)
            )
            bump_trk = to_bump.select(
                "_key",
                F.col(self.ordinal_col).alias("_ordinal"),
                F.col("_src_hash").alias("_content_hash"),
            ).withColumn("_logic_fp", F.lit(self.logic_fp)).withColumn(
                "_process_ordinal", proc_ord
            )
            # bucketed MERGE: only buckets with processed/bumped/deleted
            # keys are rewritten (the reference's 2-phase commit collapses
            # to the manifest swap inside merge())
            self.tracking.merge(
                new_trk.unionByName(bump_trk), delete_keys=deletes
            )
            return {
                "processed": counts.get("process", 0),
                "bumped": counts.get("bump", 0),
                "skipped": counts.get("skip", 0),
                "deleted": counts.get("delete", 0),
            }
        finally:
            planned.unpersist()

    def _next_process_ordinal(self) -> int:
        trk = self.tracking.read()
        row = trk.agg(F.max("_process_ordinal").alias("m")).collect()[0]
        return (row["m"] or 0) + 1


class MemoCache:
    """Function-result memoization (memoization.rs:17-233).

    Wraps an expensive DataFrame-transform (LLM/embedding UDF): cache
    hit rows skip the UDF entirely; misses run it and are written
    back. Keyed by (behavior_version, args-hash) like the reference's
    per-function cache with behavior_version invalidation
    (interface.rs:178-186)."""

    def __init__(
        self, spark: SparkSession, path: str, value_schema_ddl: str,
        behavior_version: int = 1,
    ):
        self.state = BucketedParquetState(
            spark, path, f"_memo_key string, {value_schema_ddl}",
            key_col="_memo_key",
        )
        self.behavior_version = behavior_version

    def memo_key(self, *arg_cols) -> F.Column:
        return F.sha2(
            F.concat_ws(
                "\x00",
                F.lit(str(self.behavior_version)),
                *[F.col(c).cast("string") for c in arg_cols],
            ),
            256,
        )

    def through(
        self,
        df: DataFrame,
        arg_cols: list[str],
        fn: Callable[[DataFrame], DataFrame],
        value_cols: list[str],
    ) -> DataFrame:
        """df + memo → (hits ∪ fn(misses)); cache updated with misses."""
        keyed = df.withColumn("_memo_key", self.memo_key(*arg_cols))
        # bucket-pruned cache lookup: reads only the buckets the input
        # keys hash into, not the whole cache
        cache = self.state.read_keys(keyed.select("_memo_key"))
        hits = keyed.join(cache, "_memo_key")
        misses = keyed.join(cache.select("_memo_key"), "_memo_key", "left_anti")
        # materialize the miss computation ONCE: both the returned rows
        # and the cache write are built from this checkpoint, so the
        # expensive fn never runs twice and a nondeterministic fn can't
        # cache a different value than it returned
        computed = fn(misses).localCheckpoint(eager=True)
        # materialize BEFORE the merge: the hits plan references the
        # current bucket files, which merge() replaces and GCs
        result = hits.unionByName(computed.select(*hits.columns)).localCheckpoint(
            eager=True
        )
        self.state.merge(
            computed.select("_memo_key", *value_cols).dropDuplicates(
                ["_memo_key"]
            )
        )
        return result.drop("_memo_key")
