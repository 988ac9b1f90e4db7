"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest benchmark/test_gen.py -q
"""

import hashlib
import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import spans  # noqa: E402


def digest(seed: int) -> str:
    """Hash of every input a run of any workload is given for ``seed``."""
    h = hashlib.sha256()
    corpus = gen.Corpus(seed, 60)
    h.update(json.dumps(corpus.docs_rows()).encode())
    h.update(json.dumps(corpus.gazetteer, sort_keys=True).encode())
    for _, v in corpus.embedding_rows():
        h.update(np.asarray(v, np.float32).tobytes())
    queries, _ = gen.query_stream(corpus, seed, 50)
    h.update(json.dumps(queries).encode())
    rounds, _ = gen.delta_rounds(corpus, seed, 3)
    h.update(json.dumps(rounds).encode())
    files, _ = gen.event_files(seed)
    for f in files:
        for k, v in f.items():
            h.update(np.asarray(v).tobytes() if k != "event_type" else "".join(v).encode())
    return h.hexdigest()


def test_same_seed_same_inputs():
    assert digest(7) == digest(7)


def test_other_seed_other_inputs():
    assert digest(7) != digest(8)


def test_written_inputs_byte_identical(tmp_path):
    """The parquet files a run feeds the engine are byte-identical for
    one seed."""
    from wl_live import write_events
    from wl_search import write_corpus

    def files_of(seed, d):
        write_corpus(gen.Corpus(seed, 40), str(d / "corpus"))
        write_events(gen.event_files(seed)[0], str(d / "events"))
        return {
            os.path.relpath(os.path.join(r, f), d): open(os.path.join(r, f), "rb").read()
            for r, _, fs in os.walk(d) for f in fs
        }

    a = files_of(4, tmp_path / "a")
    assert a == files_of(4, tmp_path / "b")
    assert a != files_of(5, tmp_path / "c")


def test_delta_rounds_change_what_they_say():
    corpus = gen.Corpus(3, 100)
    before = dict(corpus.texts)
    (r,), _ = gen.delta_rounds(corpus, 3, 1)
    assert set(r["deleted"]).isdisjoint(corpus.texts)
    assert all(corpus.texts[d] != before[d] for d in r["modified"])
    assert set(r["added"]).isdisjoint(before)
    unchanged = set(before) - set(r["modified"]) - set(r["deleted"])
    assert all(corpus.texts[d] == before[d] for d in unchanged)
    assert len(r["listing"]) == len(before) - len(r["deleted"]) + len(r["added"])


def test_event_timestamps_unique():
    files, props = gen.event_files(5)
    ts = np.concatenate([f["ts_us"] for f in files])
    assert len(np.unique(ts)) == len(ts) == props["events"]
    assert all(len(f["event_id"]) == props["rows_per_file"] for f in files)


def test_metric_value_parsing():
    assert spans.metric_value("1,234", "sum") == 1234
    assert spans.metric_value("39.5 KiB", "size") == 39.5 * 1024
    assert spans.metric_value("total (min, med, max)\n8.2 s (1.8 s, 2.0 s)", "timing") == 8200
    assert spans.metric_value(None, "sum") == 0

