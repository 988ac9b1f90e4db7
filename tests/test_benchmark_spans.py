"""The traced benchmark wraps package functions by name
(``benchmark/spans.WRAPPED``); a rename would only fail a traced run,
so the names and the merge's list result are checked here."""

import importlib
import importlib.util
import os

from cocoindex_data_ingestion_spark.plans.incremental import BucketedParquetState

_SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "benchmark", "spans.py",
)


def _spans():
    spec = importlib.util.spec_from_file_location("_bench_spans", _SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_wrapped_name_resolves():
    spans = _spans()
    for mod_name, attr in spans.WRAPPED:
        owner = importlib.import_module(f"{spans.PKG}.{mod_name}")
        for part in attr.split("."):
            assert hasattr(owner, part), (mod_name, attr)
            owner = getattr(owner, part)
        assert callable(owner), (mod_name, attr)


def test_bucketed_merge_returns_a_list(spark, tmp_path):
    """``wl_ingest`` reads a merge span's ``result_len``, which the
    wrapper records only for a list result."""
    ddl = "k string, v long"
    st = BucketedParquetState(spark, str(tmp_path / "s"), ddl, key_col="k")
    got = st.merge(spark.createDataFrame([("a", 1), ("b", 2)], ddl))
    assert isinstance(got, list) and got == sorted(set(got)) and got
    assert st.merge(spark.createDataFrame([], ddl)) == []
