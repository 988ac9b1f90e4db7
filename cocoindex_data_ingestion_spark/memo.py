"""Session-scoped memo and scratch directories.

Every value the engine reuses across queries (resolved table and
index readers, index descriptors, prepared plans, checkpointed shared
legs, materialized layouts) is built once per ``(applicationId,
*key)`` by :func:`memo`; every directory such a value owns comes from
:func:`scratch_dir`, under one root per application, the way a search
service keeps its index readers and descriptors open for the queries
of one session.

One lifetime rule covers both: the first call under a new
applicationId drops the previous application's entries and deletes
its root (frames, checkpoints and catalog tables bound to a stopped
SparkContext are dead, and so are the files only they referenced);
an ``atexit`` hook deletes the last root. A directory the engine did
not create — e.g. a prebuilt layout named by an env hook — may be
memoized as a value but is never deleted.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

_app: str | None = None
_sc = None  # the SparkContext whose applicationId is ``_app``
_values: dict[tuple, object] = {}
_root: str | None = None
# re-entrant: a build may itself memoize (an index build reads layouts)
_lock = threading.RLock()


def _drop_root() -> None:
    global _root
    if _root is not None:
        shutil.rmtree(_root, ignore_errors=True)
        _root = None


atexit.register(_drop_root)


def _enter(spark) -> None:
    global _app, _sc
    sc = spark.sparkContext
    if sc is _sc:
        return
    # read once per context: ``applicationId`` is two gateway round
    # trips, and a memo hit is on every request's build path
    app = sc.applicationId
    if app != _app:
        _values.clear()
        _drop_root()
        _app = app
    _sc = sc


def memo(spark, key: tuple, build: Callable[[], T]) -> T:
    """``build()`` once per (applicationId, *key); later calls under
    the same application return the same object."""
    with _lock:
        _enter(spark)
        if key not in _values:
            _values[key] = build()
        return _values[key]


def forget(match: Callable[[tuple], bool]) -> None:
    """Drop every entry whose key satisfies ``match`` (its next
    :func:`memo` call rebuilds it)."""
    with _lock:
        for k in [k for k in _values if match(k)]:
            del _values[k]


def scratch_dir(spark, prefix: str) -> str:
    """A fresh directory under this application's scratch root
    (created on first use below ``tempfile.gettempdir()``)."""
    global _root
    with _lock:
        _enter(spark)
        if _root is None:
            _root = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        return tempfile.mkdtemp(prefix=prefix, dir=_root)
