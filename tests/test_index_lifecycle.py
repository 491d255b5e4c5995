"""The durable-index lifecycle, checked once per index kind.

The MinHash band index, the IVF-PQ ANN index and the BM25 text index
share one build / append / compact / delete path
(``carbonapi_spark.datapipe.maintenance``); every test here runs over
each kind that has the behaviour: the ``_MAINTENANCE`` lock, crash
recovery of a leftover ``.compacting`` stage, cleanup after a failed
build, an emptied index staying readable, the L0 first-append window,
and the on-disk directory names that an index written by an older
version must keep.  The data is synthetic and small.
"""

import glob
import os
import random
import shutil
import threading
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from carbonapi_spark.datapipe import maintenance as M
from carbonapi_spark.datapipe.dedup import (append_band_index,
                                            compact_band_index,
                                            delete_from_band_index,
                                            probe_band_index,
                                            write_band_index)
from carbonapi_spark.datapipe.retrieval import (append_text_index,
                                                bm25_query_index,
                                                compact_text_index,
                                                delete_from_text_index,
                                                write_text_index)
from carbonapi_spark.datapipe.similarity import (ann_index_topk,
                                                 append_ann_index,
                                                 compact_ann_index,
                                                 delete_from_ann_index,
                                                 ivf_centroids,
                                                 pq_codebooks,
                                                 write_ann_index)

KINDS = ["band", "ann", "text"]
VOCAB = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
DIM, K_CELLS = 16, 6


@pytest.fixture(scope="module")
def docs(spark):
    """120 documents; 80..119 repeat 0..39 with one extra word, so the
    band index has near-duplicates to find."""
    rng = random.Random(5)
    base = [" ".join(rng.choice(VOCAB) for _ in range(30))
            for _ in range(80)]
    rows = [(i, base[i] if i < 80 else base[i - 80] + " omega")
            for i in range(120)]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(7)
    rows = [(i, [round(rng.uniform(-1, 1), 6) for _ in range(DIM)])
            for i in range(200)]
    return spark.createDataFrame(rows, "vec_id BIGINT, "
                                       "embedding ARRAY<DOUBLE>")


def _kind(spark, kind, docs, vecs):
    """One index kind over the module data: ``build``/``append``/
    ``compact``/``delete`` call its public functions, ``probe`` returns
    sorted result rows, ``poison`` names the column a failed build
    breaks, ``table``/``grid`` are the partitioned table and its
    partition-directory pattern, ``subs`` every sub-table, ``l0``
    whether appends can go to an L0 side table."""
    if kind == "band":
        batch = docs.where(F.col("doc_id") == 3) \
            .withColumn("doc_id", F.col("doc_id") + 100000)
        return SimpleNamespace(
            data=docs, id_col="doc_id", poison="text", table="bands",
            grid="band=*/bucket=*", subs=["bands", "stats"], l0=True,
            build=lambda p, df: write_band_index(
                df, p, num_hashes=16, bands=4, ngram=2, n_buckets=8),
            append=lambda p, df, l0=False: append_band_index(df, p, l0=l0),
            compact=lambda p: compact_band_index(spark, p),
            delete=lambda p, ids: delete_from_band_index(spark, p, ids),
            probe=lambda p: sorted(map(tuple, probe_band_index(
                spark, p, batch).collect())))
    if kind == "ann":
        cbs = pq_codebooks(DIM, 4, 8, seed=44)
        cents = ivf_centroids(DIM, K_CELLS, seed=43)
        query = vecs.where(F.col("vec_id") % 41 == 3)
        return SimpleNamespace(
            data=vecs, id_col="vec_id", poison="embedding", table="codes",
            grid="cell=*", subs=["codes", "centroids", "codebooks"],
            l0=True,
            build=lambda p, df: write_ann_index(df, p, cbs, cents),
            append=lambda p, df, l0=False: append_ann_index(df, p, l0=l0),
            compact=lambda p: compact_ann_index(spark, p),
            delete=lambda p, ids: delete_from_ann_index(spark, p, ids),
            probe=lambda p: sorted(map(tuple, ann_index_topk(
                spark, p, query, k=5, nprobe=K_CELLS).collect())))
    return SimpleNamespace(
        data=docs, id_col="doc_id", poison="text", table="postings",
        grid="bucket=*", subs=["postings", "doclens", "stats"], l0=False,
        build=lambda p, df: write_text_index(df, p, n_buckets=8),
        append=lambda p, df, l0=False: append_text_index(df, p),
        compact=lambda p: compact_text_index(spark, p),
        delete=lambda p, ids: delete_from_text_index(spark, p, ids),
        probe=lambda p: sorted(map(tuple, bm25_query_index(
            spark, p, "alpha beta omega", k=10).collect())))


def _split(k):
    c = F.col(k.id_col)
    return k.data.where(c % 5 != 4), k.data.where(c % 5 == 4)


@pytest.mark.parametrize("kind", KINDS)
def test_lock_refuses_appends_and_second_op(spark, tmp_path, docs, vecs,
                                            kind):
    """While a compaction/deletion holds the ``_MAINTENANCE`` marker,
    every append refuses loudly (it would lose its rows to the rename
    swap), a second maintenance op refuses, and the marker check
    refuses; afterwards appends and a real compaction run again and the
    marker is gone."""
    k = _kind(spark, kind, docs, vecs)
    corpus, delta = _split(k)
    p = str(tmp_path / kind)
    k.build(p, corpus)
    with M.maintenance_lock(spark, p, "staged-compaction"):
        with pytest.raises(IOError, match="under maintenance"):
            k.append(p, delta)
        if k.l0:
            with pytest.raises(IOError, match="under maintenance"):
                k.append(p, delta, l0=True)
        with pytest.raises(IOError, match="already under maintenance"):
            with M.maintenance_lock(spark, p, "second-op"):
                pass
        with pytest.raises(IOError, match="refused"):
            M.assert_not_under_maintenance(spark, p, "probe-side-check")
    k.append(p, delta)
    assert k.compact(p)["rows_after"] > 0
    assert not os.path.exists(f"{p}/_MAINTENANCE")


def _first_leaf(table, depth):
    rel = []
    for _ in range(depth):
        rel.append(sorted(d for d in os.listdir(os.path.join(table, *rel))
                          if "=" in d)[0])
    return "/".join(rel)


@pytest.mark.parametrize("kind", KINDS)
def test_compaction_recovers_leftover_stage(spark, tmp_path, docs, vecs,
                                            kind):
    """A crash between the live-dir delete and the staged-dir rename of
    a compaction leaves a combo's rows ONLY under the committed
    ``.compacting`` stage: a retry must fold that stage back in, not
    rebuild the stage from the lossy live table.  An UNCOMMITTED stage
    (no ``_SUCCESS``: a crash mid-write over an intact table) must be
    discarded instead."""
    k = _kind(spark, kind, docs, vecs)
    corpus, delta = _split(k)
    p, p_ref = str(tmp_path / "crashy"), str(tmp_path / "clean")
    for q in (p, p_ref):
        k.build(q, corpus)
        k.append(q, delta)
        k.append(q, delta)                 # replayed epoch
    table, stage = f"{p}/{k.table}", f"{p}/{k.table}.compacting"
    rel = _first_leaf(table, k.grid.count("/") + 1)
    os.makedirs(os.path.dirname(f"{stage}/{rel}"), exist_ok=True)
    shutil.move(f"{table}/{rel}", f"{stage}/{rel}")
    open(f"{stage}/_SUCCESS", "w").close()
    spark.catalog.refreshByPath(table)
    ref = k.compact(p_ref)
    assert k.compact(p)["rows_after"] == ref["rows_after"]   # none lost
    assert not os.path.exists(stage)
    assert k.probe(p) == k.probe(p_ref)
    # uncommitted leftover: junk rows under a stage with no _SUCCESS
    spark.read.parquet(table).limit(5).write.parquet(f"{stage}/{rel}")
    os.remove(f"{stage}/{rel}/_SUCCESS")
    assert k.compact(p)["rows_after"] == ref["rows_after"]
    assert not os.path.exists(stage)


@pytest.mark.parametrize("kind", KINDS)
def test_failed_overlapped_build_leaves_no_index(spark, tmp_path, docs,
                                                 vecs, kind):
    """A build runs the data write and the small metadata writes
    concurrently; when the data write fails, the metadata writes may
    already have committed.  A failed build must leave no sub-table."""
    k = _kind(spark, kind, docs, vecs)
    poisoned = k.data.withColumn(
        k.poison, F.when(F.col(k.id_col) != 0, F.col(k.poison))
        .otherwise(F.raise_error(F.lit("boom: poisoned row"))))
    p = str(tmp_path / kind)
    with pytest.raises(Exception, match="boom"):
        k.build(p, poisoned)
    for s in k.subs:
        assert not os.path.exists(f"{p}/{s}"), s


@pytest.mark.parametrize("kind", KINDS)
def test_delete_everything_then_compact_stays_readable(spark, tmp_path,
                                                       docs, vecs, kind):
    """Deleting every row leaves a schema-bearing placeholder; a full
    compaction of the emptied table must not swap in a file-less
    directory, so the table stays readable and probes return
    nothing."""
    k = _kind(spark, kind, docs, vecs)
    p = str(tmp_path / kind)
    k.build(p, k.data)
    assert k.probe(p)
    k.delete(p, {r[0] for r in k.data.select(k.id_col).collect()})
    assert k.compact(p)["rows_after"] == 0
    assert spark.read.parquet(f"{p}/{k.table}").count() == 0
    assert k.probe(p) == []


def test_band_l0_first_append_window_is_invisible(spark, tmp_path, docs,
                                                  vecs):
    """The first ``l0=True`` append creates ``bands_l0`` before its
    parquet commit lands; a probe in that window must see no L0 (the
    directory holds no data files), not UNABLE_TO_INFER_SCHEMA.  The
    ANN twin is ``test_ann_arrow.py``'s window test."""
    k = _kind(spark, "band", docs, vecs)
    p = str(tmp_path / "band")
    k.build(p, k.data)
    before = k.probe(p)
    os.makedirs(f"{p}/bands_l0/_temporary", exist_ok=True)
    assert M.read_l0(spark, f"{p}/bands") is None
    assert k.probe(p) == before and before


@pytest.mark.parametrize("kind", KINDS)
def test_on_disk_layout(spark, tmp_path, docs, vecs, kind):
    """The directory names are the on-disk format: an index written by
    an earlier version must still be read, appended, compacted and
    deleted, so build, append (L0 where the kind has one) and compaction
    must keep exactly these names."""
    k = _kind(spark, kind, docs, vecs)
    corpus, delta = _split(k)
    p = str(tmp_path / kind)

    def grid():
        return glob.glob(f"{p}/{k.table}/{k.grid}")

    k.build(p, corpus)
    assert sorted(os.listdir(p)) == sorted(k.subs)
    assert grid()
    k.append(p, delta, l0=True)
    l0 = [f"{k.table}_l0"] if k.l0 else []
    assert sorted(os.listdir(p)) == sorted(k.subs + l0)
    if k.l0:
        assert glob.glob(f"{p}/{k.table}_l0/*.parquet")
    k.compact(p)
    assert sorted(os.listdir(p)) == sorted(k.subs)
    assert grid()


def test_read_index_table_concurrent_reads_keep_conf(spark, tmp_path):
    """``read_index_table`` raises the partition-discovery threshold for
    the duration of a read, and probes call it from concurrent request
    threads: eight overlapping reads must leave the session conf at its
    original value and all read the same rows."""
    p = str(tmp_path / "grid")
    (spark.range(400)
     .select((F.col("id") % 4).cast("int").alias("band"),
             (F.col("id") % 16).cast("int").alias("bucket"),
             F.col("id").alias("doc_id"))
     .write.partitionBy("band", "bucket").parquet(p))
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    for _ in range(2):
        start = threading.Barrier(8)
        counts, errors = [], []

        def read():
            try:
                start.wait()
                counts.append(M.read_index_table(spark, p).count())
            except Exception as e:  # noqa: BLE001 - reported below
                errors.append(e)

        threads = [threading.Thread(target=read) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert spark.conf.get(key) == before
        assert counts == [400] * 8


@pytest.mark.parametrize("exc, falls_back", [(OSError, True),
                                             (RuntimeError, False)])
def test_footer_read_errors(spark, tmp_path, monkeypatch, exc,
                            falls_back):
    """The footer-metadata paths fall back to a Spark scan only when a
    footer cannot be read (``OSError`` / an Arrow error); anything else
    is a bug and propagates instead of silently taking the slow
    path."""
    import pyarrow.parquet as pq
    p = str(tmp_path / "t")
    df = spark.range(60).select((F.col("id") % 6).alias("k"),
                                F.col("id").alias("v"))
    df.write.partitionBy("k").parquet(p)
    flat = str(tmp_path / "flat")
    df.write.parquet(flat)
    scan = sorted((r["k"], r["__n"], r["__nf"]) for r in
                  M._per_partition_stats(spark.read.parquet(p), ["k"]))

    def broken(*_a, **_kw):
        raise exc("unreadable footer")

    monkeypatch.setattr(pq, "read_metadata", broken)
    if falls_back:
        got = M._partition_stats(spark, p, spark.read.parquet(p), ["k"])
        assert sorted((r["k"], r["__n"], r["__nf"]) for r in got) == scan
        assert M.table_row_count(spark, flat) == 60
    else:
        with pytest.raises(exc):
            M._partition_stats(spark, p, spark.read.parquet(p), ["k"])
        with pytest.raises(exc):
            M.table_row_count(spark, flat)
