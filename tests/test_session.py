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
