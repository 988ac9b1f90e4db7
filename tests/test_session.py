"""Session defaults that depend on the host."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from cocoindex_data_ingestion_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("phys, want", [
    (64 << 30, "16384m"),            # a large host: the 16g cap
    (32 << 30, "16384m"),            # half is exactly the cap
    (16_818_483_200, "8019m"),       # a 15.7 GB host: half of it
    (2 << 30, "1024m"),
])
def test_default_driver_memory_is_half_of_ram_capped_at_16g(monkeypatch, phys, want):
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys // page}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    assert session.default_driver_memory() == want


def test_python_workers_run_the_package_daemon(spark):
    """A ``mapInPandas`` body defined here, outside the package, runs
    and reports which module's ``zipimporter.invalidate_caches`` its
    worker has."""
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "cocoindex_data_ingestion_spark.pydaemon"
    got = {r.module for r in spark.range(4, numPartitions=2)
           .mapInPandas(probe, "module string").collect()}
    want = ("zipimport" if sys.version_info >= (3, 13)
            else "cocoindex_data_ingestion_spark.pydaemon")
    assert got == {want}


def test_extra_conf_restores_the_stock_daemon():
    """``extra_conf`` overrides the daemon module; a conf of a running
    SparkContext cannot change, so this runs its own session."""
    code = textwrap.dedent("""
        import zipimport
        import pandas as pd
        from cocoindex_data_ingestion_spark.session import get_spark

        def probe(batches):
            for _ in batches:
                yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

        spark = get_spark("stock_daemon", master="local[1]", shuffle_partitions=1,
                          extra_conf={"spark.python.daemon.module": "pyspark.daemon"})
        print(spark.range(1).mapInPandas(probe, "module string").first().module)
        spark.stop()
    """)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        timeout=300, env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "zipimport"


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"


def _checkpoint_manager(spark, path: str):
    """The checkpoint manager a streaming query of ``spark`` would
    build for ``path``."""
    jvm = spark._jvm
    return getattr(jvm, _CHECKPOINTING).CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def test_local_session_checkpoints_through_the_filesystem_manager(spark, tmp_path):
    """A ``local[...]`` session writes checkpoint files through Spark's
    FileSystem-based manager, which still leaves a ``.crc`` sidecar
    beside each file it writes."""
    fm = _checkpoint_manager(spark, f"file://{tmp_path}")
    assert fm.getClass().getName() == f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
    out = fm.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/0"), False)
    out.write(bytearray(b"v1\n"))
    out.close()
    assert sorted(os.listdir(tmp_path)) == [".0.crc", "0"]
    assert (tmp_path / "0").read_bytes() == b"v1\n"


def test_extra_conf_restores_the_filecontext_manager(tmp_path):
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {os.path.join(REPO, "tests")!r})
        from test_session import _CHECKPOINTING, _checkpoint_manager
        from cocoindex_data_ingestion_spark.session import get_spark

        spark = get_spark("filecontext_checkpoints", master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.sql.streaming.checkpointFileManagerClass":
                                      _CHECKPOINTING + ".FileContextBasedCheckpointFileManager"}})
        print(_checkpoint_manager(spark, "file://{tmp_path}").getClass().getSimpleName())
        spark.stop()
    """)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        timeout=300, env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "FileContextBasedCheckpointFileManager"


@pytest.mark.parametrize("master, local", [
    ("local", True),
    ("local[4]", True),
    ("local[*]", True),
    ("local[4,2]", True),
    ("local-cluster[2,1,1024]", False),
    ("spark://host:7077", False),
    ("yarn", False),
    ("k8s://https://host:443", False),
])
def test_only_local_masters_change_the_checkpoint_manager(master, local):
    """Off a local master, where checkpoints may live on HDFS, Spark's
    default manager stays: the FileSystem manager's rename there keeps
    an existing file instead of overwriting it."""
    want = ({"spark.sql.streaming.checkpointFileManagerClass":
             f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"} if local else {})
    assert session.checkpoint_conf(master) == want
