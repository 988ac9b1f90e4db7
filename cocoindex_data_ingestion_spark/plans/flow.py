"""Declarative flow API compiled to DataFrame programs.

Reference model (SURVEY §1.3, src/base/spec.rs:510-525): a flow is
``import_ops`` (sources) → ``reactive_ops`` (Transform / ForEach /
Collect DAG) → ``export_ops`` (targets). Fields are single-assignment
per scope (src/base/spec.rs:33-37); ``ForEach`` opens a child scope
per row of a table field; ``Collect`` appends struct rows to a named
collector; exports sync collectors to targets by primary key.

Spark mapping — the flow builder is a *thin* veneer: every operation
appends to a lazy DataFrame, so "analysis" (schema resolution,
src/builder/analyzer.rs:1015-1127) is Catalyst's analyzer and the
"execution plan" is the optimized physical plan. What this class
adds over raw DataFrames is the reference's *contract*:

- named single-assignment fields (duplicate transform → error, like
  the reference's field-name check)
- KTable semantics: a declared key, enforced unique on export
- ForEach as explode + child scope whose collects re-join to parents
- collectors with unionByName accumulation and optional
  deterministic auto-UUID (stable across re-runs, mirroring
  src/execution/memoization.rs:213-233's fingerprint-keyed UUID
  reuse — here a pure function of the collected fields)
- a logic fingerprint: sha256 over the flow's operation specs, used
  by the incremental runner to force reprocessing when the flow
  definition changes (src/builder/analyzer.rs:1105-1108)
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.memo import forget, memo


class FlowError(ValueError):
    pass


@dataclass
class _OpSpec:
    kind: str
    name: str
    detail: str


class FlowScope:
    """One op scope (root or a ForEach child): a DataFrame plus the
    single-assignment field registry."""

    def __init__(self, flow: "Flow", df: DataFrame, scope_name: str):
        self._flow = flow
        self._df = df
        self._scope = scope_name
        self._fields: set[str] = set(df.columns)

    @property
    def df(self) -> DataFrame:
        return self._df

    def transform(
        self, out_field: str, expr: Column | Callable[[DataFrame], Column]
    ) -> "FlowScope":
        """Bind a new field (reference Transform, src/base/spec.rs:305-324).

        Single-assignment: rebinding an existing field raises, like
        the reference's analyzer."""
        from cocoindex_data_ingestion_spark.functions.validation import (
            check_field_name,
        )

        check_field_name(out_field)
        if out_field in self._fields:
            raise FlowError(
                f"field '{out_field}' already assigned in scope '{self._scope}'"
            )
        col = expr(self._df) if callable(expr) else expr
        self._df = self._df.withColumn(out_field, col)
        self._fields.add(out_field)
        self._flow._record("transform", f"{self._scope}.{out_field}")
        return self

    def for_each(
        self,
        table_field: str,
        fn: Callable[["FlowScope"], "FlowScope"],
        keep_parent_fields: list[str] | None = None,
    ) -> "FlowScope":
        """Open a child scope per row of an array-of-struct field
        (reference ForEach, src/base/spec.rs:328-350).

        The child table is exploded flat; ``fn`` transforms the child
        scope; parent key fields are threaded through so child
        collects can reference ancestors. Concurrency = partition
        parallelism (the reference's try_join_all fan-out,
        evaluator.rs:442-444, is free here)."""
        parent_cols = keep_parent_fields or []
        exploded = self._df.select(
            *parent_cols, F.explode(F.col(table_field)).alias("_row")
        ).select(*parent_cols, "_row.*")
        child = FlowScope(self._flow, exploded, f"{self._scope}.{table_field}[]")
        result = fn(child)
        self._flow._record("for_each", f"{self._scope}.{table_field}")
        return result

    def collect(
        self,
        collector_name: str,
        fields: dict[str, str | Column],
        auto_uuid_field: str | None = None,
    ) -> "FlowScope":
        """Emit rows into a named collector (src/base/spec.rs:354-384).

        auto_uuid_field: deterministic UUID derived from the collected
        field values (sha256-based, stable across runs — the
        reference reuses collector UUIDs keyed by content fingerprint,
        memoization.rs:213-233)."""
        cols = [
            (c if isinstance(c, Column) else F.col(c)).alias(name)
            for name, c in fields.items()
        ]
        out = self._df.select(*cols)
        if auto_uuid_field:
            fp = F.sha2(
                F.to_json(F.struct(*[F.col(c) for c in sorted(out.columns)])), 256
            )
            uuid = F.concat_ws(
                "-",
                F.substring(fp, 1, 8),
                F.substring(fp, 9, 4),
                F.substring(fp, 13, 4),
                F.substring(fp, 17, 4),
                F.substring(fp, 21, 12),
            )
            out = out.select(uuid.alias(auto_uuid_field), "*")
        self._flow._add_to_collector(collector_name, out)
        self._flow._record("collect", f"{self._scope}->{collector_name}")
        return self


class Flow:
    """A named dataflow: sources → scopes → collectors → exports."""

    def __init__(self, name: str):
        from cocoindex_data_ingestion_spark.functions.validation import (
            check_flow_name,
        )

        self.name = check_flow_name(name)
        self._ops: list[_OpSpec] = []
        self._collectors: dict[str, DataFrame] = {}
        self._exports: dict[str, dict] = {}
        self._sources: dict[str, FlowScope] = {}

    # -- building ---------------------------------------------------------

    def add_source(
        self, name: str, df: DataFrame, key_cols: list[str]
    ) -> FlowScope:
        """Import op (src/base/spec.rs:280-301): a KTable keyed by
        ``key_cols``. Key uniqueness is a contract checked on export/
        validate (the reference's source list() yields unique keys)."""
        scope = FlowScope(self, df, name)
        scope._key_cols = key_cols  # type: ignore[attr-defined]
        self._sources[name] = scope
        self._record("import", f"{name} key={key_cols}")
        return scope

    def _add_to_collector(self, name: str, rows: DataFrame) -> None:
        if name in self._collectors:
            self._collectors[name] = self._collectors[name].unionByName(rows)
        else:
            self._collectors[name] = rows

    def collector(self, name: str) -> DataFrame:
        if name not in self._collectors:
            raise FlowError(f"unknown collector '{name}'")
        return self._collectors[name]

    def export(
        self, collector_name: str, target_name: str, primary_key: list[str]
    ) -> None:
        """Export op (src/base/spec.rs:452-471): declare a target fed
        by a collector with PK semantics. Materialization happens in
        the incremental runner (MERGE-style upsert/delete)."""
        from cocoindex_data_ingestion_spark.functions.validation import (
            check_target_name,
        )

        check_target_name(target_name)
        df = self.collector(collector_name)
        missing = [c for c in primary_key if c not in df.columns]
        if missing:
            raise FlowError(f"export pk fields missing from collector: {missing}")
        self._exports[target_name] = {
            "collector": collector_name,
            "primary_key": primary_key,
        }
        self._record("export", f"{collector_name}->{target_name} pk={primary_key}")

    # -- introspection ----------------------------------------------------

    def _record(self, kind: str, detail: str) -> None:
        self._ops.append(_OpSpec(kind, f"op{len(self._ops)}", detail))

    def logic_fingerprint(self) -> str:
        """Hash of the flow's op specs (analyzer.rs:1105-1108): any
        definition change ⇒ different fingerprint ⇒ incremental
        runner reprocesses everything."""
        spec = json.dumps(
            [[o.kind, o.detail] for o in self._ops], separators=(",", ":")
        )
        return hashlib.sha256(spec.encode()).hexdigest()

    def validate_ktable(self, scope: FlowScope) -> None:
        """Assert the KTable key contract (unique key per row)."""
        keys = scope._key_cols  # type: ignore[attr-defined]
        dupes = scope.df.groupBy(*keys).count().filter("count > 1").limit(1).count()
        if dupes:
            raise FlowError(f"KTable key {keys} is not unique")

    def exports(self) -> dict[str, dict]:
        return dict(self._exports)


# -- flow registry + @flow_def (python/cocoindex/flow.py user surface) --------
#
# Reference: ``@cocoindex.flow_def(name=...)`` registers a builder
# whose body receives (flow_builder, data_scope) and wires the flow;
# ``flow.flows()`` lists registered flows and ``flow_by_name`` fetches
# one. Here the builder receives (flow, spark) — this engine's Flow IS
# both the builder and the scope — and is evaluated LAZILY on first
# access (the reference builds lazily too: flows analyze on use).

_FLOW_BUILDERS: dict[str, "callable"] = {}


def flow_def(name: str | None = None):
    """Decorator: register a flow builder ``fn(flow, spark) -> None``
    under ``name`` (defaults to the function name)."""

    def wrap(fn):
        flow_name = name or fn.__name__
        from cocoindex_data_ingestion_spark.functions.validation import (
            check_flow_name,
        )

        check_flow_name(flow_name)
        if flow_name in _FLOW_BUILDERS:
            raise FlowError(f"flow '{flow_name}' already registered")
        _FLOW_BUILDERS[flow_name] = fn
        fn.__cocoindex_flow_name__ = flow_name
        return fn

    return wrap


def flow_names() -> list[str]:
    return sorted(_FLOW_BUILDERS)


def flow_by_name(name: str, spark) -> Flow:
    if name not in _FLOW_BUILDERS:
        raise FlowError(f"unknown flow '{name}'")

    def build() -> Flow:
        fl = Flow(name)
        _FLOW_BUILDERS[name](fl, spark)
        return fl

    return memo(spark, ("flow", name), build)


def all_flows(spark) -> dict[str, Flow]:
    return {n: flow_by_name(n, spark) for n in flow_names()}


def clear_registry() -> None:
    """Test/app-reload hook: forget every registered flow."""
    _FLOW_BUILDERS.clear()
    forget(lambda k: k[0] == "flow")


# -- app namespace + default target naming (python/cocoindex/setting.py:14-34,
# utils.py:5-16) ---------------------------------------------------------------

_app_namespace = ""


def set_app_namespace(app_namespace: str) -> None:
    """Process-wide app namespace; empty clears it. Validated as an
    identifier ≤64 chars (validation.py:89-95)."""
    global _app_namespace
    if app_namespace:
        from cocoindex_data_ingestion_spark.functions.validation import (
            check_identifier,
        )

        check_identifier(
            app_namespace, "app namespace", allow_dots=False, max_length=64
        )
    _app_namespace = app_namespace


def get_app_namespace(*, trailing_delimiter: str | None = None) -> str:
    if _app_namespace == "" or trailing_delimiter is None:
        return _app_namespace
    return f"{_app_namespace}{trailing_delimiter}"


def split_app_namespace(full_name: str, delimiter: str) -> tuple[str, str]:
    parts = full_name.split(delimiter, 1)
    if len(parts) == 1:
        return "", parts[0]
    return (parts[0], parts[1])


def get_target_default_name(
    flow: Flow, target_name: str, delimiter: str = "__"
) -> str:
    """The default physical name (table/collection) for an export
    target: ``[namespace__]FlowName__target_name`` — what
    ``cocoindex.utils.get_target_default_name`` hands the example
    programs' SQL."""
    return (
        get_app_namespace(trailing_delimiter=delimiter)
        + flow.name
        + delimiter
        + target_name
    )


def invalidate_flow(name: str) -> None:
    """Drop a cached flow instance so the next ``flow_by_name``
    re-runs its builder — fresh source DataFrames, fresh file
    listings (Spark pins a file source's listing at DataFrame
    creation; a live updater must re-list per tick)."""
    forget(lambda k: k == ("flow", name))
