"""Span tracer for the traced (``--trace 1``) run.

A span records name, start, end, parent span and run id; spans stay
in memory and are written once, when the run ends. Each span runs
under its own Spark job group, so after the run the jobs, stages,
tasks and SQL metrics Spark recorded can be attributed to the span
(and through its name, to a package layer):

- jobs / stages / tasks: ``SparkContext.statusTracker()`` per group;
- SQL metrics: the executed plan graph of every SQL execution, read
  from the SQL status store (its description is the job group).

Spans are opened by the benchmark's own code around its calls into
the package, and by ``wrap_package`` around the package's public
functions listed in ``WRAPPED`` (timing wrappers installed from here,
for the traced run only; the package itself is not changed).

With tracing off every ``span`` is a no-op context manager.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import threading
import time

PKG = "cocoindex_data_ingestion_spark"

# (module, attribute) pairs wrapped in the traced run. A "Class.method"
# attribute wraps the method on the class. Lazy DataFrame builders
# only show build time here; their execution lands in the span that
# runs the action.
WRAPPED = (
    ("operators.indexing", "build_search_index"),
    ("operators.indexing", "indexed_bm25"),
    ("operators.indexing", "indexed_knn"),
    ("operators.hybrid", "hybrid_search"),
    ("operators.chunking", "sentence_chunks"),
    ("operators.embedding", "embed_documents"),
    ("operators.entities", "extract_mentions_gazetteer"),
    ("operators.entities", "canonicalize"),
    ("operators.entities", "cooccurrence_relationships"),
    ("pipelines", "IngestionPipeline.process"),
    ("pipelines", "IngestionPipeline.approve"),
    ("pipelines", "IngestionPipeline.publish"),
    ("sinks", "TableSink.merge"),
    ("sinks", "TableSink.sync"),
    ("sinks", "VectorSink.merge"),
    ("sinks", "GraphSink.merge_nodes"),
    ("sinks", "GraphSink.merge_edges"),
    ("plans.incremental", "IncrementalRunner.plan"),
    ("plans.incremental", "IncrementalRunner.update"),
    ("plans.incremental", "BucketedParquetState.merge"),
    ("plans.incremental", "MemoCache.through"),
    ("plans.ivm", "MaterializedAgg.refresh"),
    ("streaming.events", "ordinal_upsert_stream"),
    ("streaming.events", "interval_join"),
)

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def metric_value(text: str | None, kind: str) -> float:
    """Parse one SQL-metric display string (the total, first line after
    the header for per-task metrics) into bytes, milliseconds or a
    count. Spark formats these values itself (sizes and times to one
    decimal), so they carry its display precision."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return v * _SIZE.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return v * _TIME_MS.get(unit, 1.0)
    return v


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()
        self.overhead_s = 0.0
        self._restore: list = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, gid: str | None) -> None:
        sc = self.spark.sparkContext
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(gid, gid)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        t = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "name": name, "parent": stack[-1] if stack else None,
                "run": self.run_id, "thread": threading.get_ident(),
                "attrs": attrs, "group": f"{self.run_id}:{sid}",
            }
            self.spans.append(rec)
        stack.append(sid)
        self._set_group(rec["group"])
        rec["start"] = time.perf_counter() - self._t0
        self.overhead_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            t = time.perf_counter()
            stack.pop()
            self._set_group(self.spans[stack[-1]]["group"] if stack else None)
            self.overhead_s += time.perf_counter() - t

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    # -- package wrappers -------------------------------------------------

    def wrap_package(self) -> None:
        if not self.enabled:
            return
        for mod_name, attr in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, fn_name = mod, attr
            if "." in attr:
                cls_name, fn_name = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = owner.__dict__[fn_name] if isinstance(owner, type) else getattr(owner, fn_name)
            span_name = f"{mod_name}.{attr}"

            def make(orig, span_name):
                @functools.wraps(orig)
                def wrapper(*args, **kwargs):
                    attrs = {}
                    path = getattr(args[0], "path", None) if args else None
                    if isinstance(path, str):
                        attrs["path"] = path
                    with self.span(span_name, **attrs) as rec:
                        out = orig(*args, **kwargs)
                        if isinstance(out, list):  # e.g. buckets a merge rewrote
                            rec["attrs"]["result_len"] = len(out)
                        return out
                return wrapper

            setattr(owner, fn_name, make(orig, span_name))
            self._restore.append((owner, fn_name, orig))

    def unwrap_package(self) -> None:
        for owner, fn_name, orig in reversed(self._restore):
            setattr(owner, fn_name, orig)
        self._restore.clear()

    # -- attribution after the run ----------------------------------------

    def digest(self) -> None:
        """Attach Spark jobs, stages, tasks and SQL-metric totals to every
        span (by job group). Runs after the measured region."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30000)
        st = sc.statusTracker()
        by_group = {s["group"]: s for s in self.spans}
        for s in self.spans:
            s["spark"] = spark_stats = {
                "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            }
            stages = set()
            # a streaming query runs its batches under its own job group
            # (its run id), which the span that ran the query records
            groups = [s["group"]] + s["attrs"].get("stream_groups", [])
            for jid in (j for g in groups for j in st.getJobIdsForGroup(g)):
                info = st.getJobInfo(jid)
                spark_stats["jobs"] += 1
                if info is not None:
                    stages.update(int(x) for x in info.stageIds)
            for sid in stages:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                spark_stats["stages"] += 1
                spark_stats["tasks"] += si.numCompletedTasks
                spark_stats["failed_tasks"] += si.numFailedTasks
            s["sql"] = {}
        for ex in sql_executions(self.spark):
            s = by_group.get(ex["description"])
            if s is None:
                continue
            acc = s["sql"]
            for k, v in ex["metrics"].items():
                acc[k] = acc.get(k, 0.0) + v

    def children(self, span: dict) -> list[dict]:
        if not hasattr(self, "_kids"):
            self._kids = {}
            for s in self.spans:
                if s["parent"] is not None:
                    self._kids.setdefault(s["parent"], []).append(s)
        return self._kids.get(span["id"], [])

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals
        (children of one thread run one after another, so their union
        is their clipped sum)."""
        out = {}
        for s in self.spans:
            busy, last = 0.0, s["start"]
            for c in sorted(self.children(s), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    busy += hi - lo
                    last = hi
            out[s["id"]] = (s["end"] - s["start"]) - busy
        return out

    def subtree(self, span: dict) -> list[dict]:
        """The span and all its descendants."""
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def totals(self, span: dict) -> dict[str, float]:
        """Spark counts and SQL-metric totals of a span's subtree."""
        acc: dict[str, float] = {}
        for s in self.subtree(span):
            for src in (s.get("spark", {}), s.get("sql", {})):
                for k, v in src.items():
                    acc[k] = acc.get(k, 0.0) + v
        return acc

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _classify_python(desc: str) -> str:
    if desc.startswith("ArrowEvalPython"):
        return "embedding"
    if "start_offset#" in desc:
        return "entities"
    if "chunk_index#" in desc:
        return "chunking"
    return "other"


def sql_executions(spark) -> list[dict]:
    """Every SQL execution in the status store, digested to totals of
    the metrics the per-layer table uses."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in conv.asJava(store.executionsList()):
        eid = e.executionId()
        done = e.completionTime()
        dur = (
            done.get().getTime() - e.submissionTime() if done.isDefined() else 0
        )
        vals = conv.asJava(store.executionMetrics(eid))
        m: dict[str, float] = {}

        def add(k, v):
            m[k] = m.get(k, 0.0) + v

        py_nodes = set()
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            name = node.name()
            # every py4j call costs; only scans, write commands and
            # Python nodes carry the metrics read below
            if not (name.startswith(("Scan", "Execute"))
                    or any(t in name for t in ("Python", "Pandas", "Arrow"))):
                continue
            desc = node.desc()
            for pm in conv.asJava(node.metrics()):
                mname, kind = pm.name(), pm.metricType()
                v = metric_value(vals.get(pm.accumulatorId()), kind)
                if name.startswith("Scan") and mname == "number of output rows":
                    add("rows_scanned", v)
                elif name.startswith("Scan") and mname == "number of files read":
                    add("files_read", v)
                elif mname == "written output":
                    add("bytes_written", v)
                elif mname == "time to run Python workers":
                    mod = _classify_python(desc)
                    py_nodes.add(mod)
                    add(f"{mod}.python_ms", v)
                elif mname == "number of output rows" and (
                    name in ("MapInPandas", "ArrowEvalPython")
                ):
                    add(f"{_classify_python(desc)}.rows_out", v)
        for mod in py_nodes:
            add(f"{mod}.exec_ms", float(dur))
        out.append({"description": e.description(), "metrics": m})
    return out
