"""Session memo lifetime (cocoindex_data_ingestion_spark/memo.py).

Cached legs follow the SparkContext that built them, and the scratch
directories they own are removed with it. Each check runs in a
subprocess, so stopping a session or exiting the interpreter does not
touch the suite's shared session."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, **env: str) -> str:
    r = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=ROOT, env=dict(os.environ, **env),
        capture_output=True, text=True, timeout=1200,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return r.stdout.strip().splitlines()[-1]


def test_memo_lifetime_follows_application(tmp_path):
    """Built once per (applicationId, key); ``forget`` drops an entry;
    a new applicationId drops every entry and deletes the old scratch
    root; exit deletes the last root; a directory the memo did not
    create is never deleted."""
    hook = tmp_path / "hook"
    hook.mkdir()
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    out = _run(
        f"""
        import os
        from types import SimpleNamespace as NS
        from cocoindex_data_ingestion_spark.memo import forget, memo, scratch_dir

        a = NS(sparkContext=NS(applicationId="app-a"))
        b = NS(sparkContext=NS(applicationId="app-b"))
        v = memo(a, ("k", 1), object)
        assert memo(a, ("k", 1), lambda: 1 / 0) is v
        assert memo(a, ("index",), lambda: {str(hook)!r}) == {str(hook)!r}
        forget(lambda k: k == ("k", 1))
        assert memo(a, ("k", 1), lambda: "rebuilt") == "rebuilt"
        d = scratch_dir(a, "leg_")
        assert os.path.isdir(d) and os.path.basename(d).startswith("leg_")
        assert memo(b, ("k", 1), lambda: "b") == "b"
        assert not os.path.exists(os.path.dirname(d))
        print(scratch_dir(b, "leg_"))
        """,
        TMPDIR=str(scratch),
    )
    assert out.startswith(str(scratch))
    assert os.listdir(scratch) == []
    assert hook.is_dir()


def test_restart_serves_same_rows(sf_dir):
    """Legs memoized in a stopped session are not served to the next
    one: after stop + get_spark, the bucketed join (catalog tables of
    the old session), the indexed search and the checkpointed LPA leg
    return the rows they returned before the restart."""
    out = _run(
        f"""
        import __spark_entry__ as m
        from cocoindex_data_ingestion_spark.session import get_spark

        names = ("bucketed_colocated_join", "indexed_bm25_search",
                 "graph_label_propagation")

        def rows(spark):
            return {{
                n: sorted(repr(tuple(r)) for r in
                          m.queries()[n](spark, {sf_dir!r}).collect())
                for n in names
            }}

        spark = get_spark("memo_restart", shuffle_partitions=4)
        before = rows(spark)
        spark.stop()
        after = rows(get_spark("memo_restart", shuffle_partitions=4))
        assert all(before.values()), before
        print([n for n in names if before[n] != after[n]])
        """
    )
    assert out == "[]"


def test_no_scratch_dirs_left_after_exit(tmp_path, sf_dir):
    """An index leg, the bucketed leg and an ivm_* query write their
    layouts under one scratch root while the session runs; nothing
    the engine created is left in the temp dir after exit."""
    out = _run(
        f"""
        import os, tempfile
        import __spark_entry__ as m
        from cocoindex_data_ingestion_spark.session import get_spark

        spark = get_spark("memo_scratch", shuffle_partitions=4)
        for n in ("indexed_bm25_search", "bucketed_colocated_join",
                  "ivm_materialized_agg"):
            m.queries()[n](spark, {sf_dir!r}).collect()
        print(sorted(os.listdir(tempfile.gettempdir())))
        """,
        TMPDIR=str(tmp_path),
    )
    assert os.listdir(tmp_path) == []
    assert out.startswith("['spark_graft_scratch_"), out
