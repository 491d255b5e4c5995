"""Determinism self-test of the benchmark's inputs and traced counts.

    python3 -m pytest perfbench/tests -q

The same seed must give the same request list, lake bytes and corpus,
and the traced pass must count the same py4j sends, Spark jobs and
collected rows for the same requests over two separately written copies
of the same (tiny) lake.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import datagen  # noqa: E402


def keys(reqs):
    return [r.key for r in reqs]


def test_same_seed_same_requests():
    make = datagen.point_requests
    assert keys(make(datagen.FULL, 7)) == keys(make(datagen.FULL, 7))
    assert keys(make(datagen.FULL, 7)) != keys(make(datagen.FULL, 8))


def test_request_mix_does_not_depend_on_seed():
    mix = [[(r.template, r.until_ts - r.from_ts)
            for r in datagen.point_requests(datagen.FULL, s)]
           for s in (1, 2)]
    assert mix[0] == mix[1]


def test_point_windows_span_one_to_six_hours():
    hours = {(r.until_ts - r.from_ts) / 3600
             for r in datagen.point_requests(datagen.FULL, 1)}
    assert min(hours) == 1 and max(hours) == 6 and len(hours) > 2


def test_lake_hash_follows_seed():
    a = datagen.Lake(datagen.TINY, 3).content_hash()
    assert a == datagen.Lake(datagen.TINY, 3).content_hash()
    assert a != datagen.Lake(datagen.TINY, 4).content_hash()


def test_corpus_follows_seed():
    a, b, c = (datagen.Corpus(s) for s in (5, 5, 6))
    assert a.texts == b.texts and a.texts != c.texts
    assert [x.tolist() for x in a.doc_batches] == [x.tolist() for x in b.doc_batches]
    assert a.queries == b.queries


def test_expected_matches_window_alignment():
    lake = datagen.Lake(datagen.TINY, 1)
    name = lake.names[0]
    got = lake.expected(name, datagen.T0 + 90, datagen.T0 + 3600 + 30)
    (_n, start, step, values), = got
    assert start == datagen.T0 + 60 and step == 60
    assert len(values) == (3660 - 60) // 60


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from engine import start_session
    work = str(tmp_path_factory.mktemp("perfbench-engine"))
    s = start_session(work, 2)
    yield s, work
    s.stop()


def traced_counts(spark, lake_dir, reqs):
    from engine import Engine
    eng = Engine(spark)
    eng.open_lake(lake_dir, datagen.TINY.step)
    try:
        for r in reqs:                      # warm: one-time JVM lookups
            eng.render_one(r.as_dict())
        return [{k: t[k] for k in ("build_py4j_sends", "jobs",
                                   "rows_collected", "sha")}
                for t in (eng.trace_one(r.as_dict(), i)
                          for i, r in enumerate(reqs))]
    finally:
        eng.server.shutdown()
        eng.server.server_close()


def test_traced_counts_repeat_exactly(spark, tmp_path):
    session, _work = spark
    reqs = datagen.point_requests(datagen.TINY, 11)
    runs = []
    for copy in ("a", "b"):
        lake_dir = str(tmp_path / copy)
        datagen.Lake(datagen.TINY, 11).write(lake_dir)
        runs.append(traced_counts(session, lake_dir, reqs))
    assert runs[0] == runs[1]
    assert all(r["build_py4j_sends"] > 0 and r["jobs"] > 0 for r in runs[0])
