"""The Python worker daemon module: its zipimport stat rule and its
import footprint, each checked in a fresh interpreter."""

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULE = "cocoindex_data_ingestion_spark.pydaemon"


def _run(code: str, python: str = sys.executable) -> str:
    out = subprocess.run(
        [python, "-c", textwrap.dedent(code)], cwd=REPO,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the rule applies before 3.13")
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path):
    archive = tmp_path / "lib.zip"
    _run(f"""
        import importlib, sys, zipfile, zipimport

        def write(members):
            with zipfile.ZipFile({str(archive)!r}, "w") as z:
                for name in members:
                    z.writestr(name + ".py", f"NAME = {{name!r}}\\n")

        write(["mod_a"])
        sys.path.insert(0, {str(archive)!r})
        import mod_a
        import {MODULE} as daemon
        assert zipimport.zipimporter.invalidate_caches is daemon.invalidate_caches
        importlib.invalidate_caches()  # the first call reads and stamps it

        reads = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or stock(path)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [], reads

        write(["mod_a", "mod_b"])
        importlib.invalidate_caches()
        assert reads == [{str(archive)!r}], reads
        import mod_b
        assert mod_b.NAME == "mod_b"
        importlib.invalidate_caches()
        assert len(reads) == 1, reads
    """)


def _python313():
    if sys.version_info >= (3, 13):
        return sys.executable
    exe = shutil.which("python3.13")
    if exe and subprocess.run([exe, "-c", ""], capture_output=True).returncode == 0:
        return exe
    return None


@pytest.mark.skipif(_python313() is None, reason="no Python 3.13 interpreter")
def test_python_313_zipimport_is_left_untouched():
    assert _run(f"""
        import zipimport
        stock = zipimport.zipimporter.invalidate_caches
        import {MODULE}
        print(zipimport.zipimporter.invalidate_caches is stock)
    """, _python313()) == "True"


def test_daemon_module_imports_nothing_heavy():
    """The daemon forks every worker: importing it must not load
    pandas, pyarrow, numpy or any other module of the package."""
    got = _run(f"""
        import sys
        before = set(sys.modules)
        import {MODULE}
        print(sorted(m for m in set(sys.modules) - before
                     if m.split(".")[0] in ("pandas", "pyarrow", "numpy", "pyspark")
                     or m.startswith("cocoindex_data_ingestion_spark")))
    """)
    assert got == str(sorted(["cocoindex_data_ingestion_spark", MODULE]))
