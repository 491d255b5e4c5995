"""index_churn: L0 appends, probes and compactions against the three
durable indexes (MinHash bands, IVF-PQ ANN cells, BM25 postings).

Runs inside the engine process.  One *round* appends a batch to each
index and probes each index, then, per index, compacts and re-probes
with the same probe batch; the re-probe
must return the rows the pre-compaction probe did.  A run is a fixed
number of rounds, so every run times the same mix of operations.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from datagen import Corpus

INDEXES = ("band", "ann", "text")
PROBE_DOC_MOD = 97        # band probe: ~50 documents
PROBE_VEC_MOD = 211       # ANN probe: ~10 query vectors


def dir_state(root: str) -> dict:
    """{relative path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for d, _subs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def data_files(state: dict) -> int:
    return sum(1 for p in state if p.endswith(".parquet"))


def new_bytes(before: dict, after: dict) -> int:
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


def normalise(rows) -> list:
    """Sorted row tuples, floats rounded to 9 significant digits (sums
    may run in another order after compaction moves rows between
    files)."""
    def cell(v):
        return float(f"{v:.9g}") if isinstance(v, float) else v
    return sorted(tuple(cell(v) for v in r) for r in rows)


class Churn:
    def __init__(self, spark, data_dir: str, index_dir: str, seed: int):
        from carbonapi_spark.datapipe.similarity import (
            ivf_centroids, pq_codebooks)
        self.spark = spark
        self.corpus = Corpus(seed)
        self.docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
        self.vecs = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet"))
        self.paths = {i: os.path.join(index_dir, i) for i in INDEXES}
        self.cents = ivf_centroids(64, 8, 43)
        self.cbs = pq_codebooks(64, 8, 16, 44)
        self.next_batch = 0
        self.next_probe = 0
        self.appended_docs: list = []
        self.appended_vecs: list = []
        self.files_after_compact: dict = {}

    # ------------------------------------------------------------ set-up
    def build(self) -> dict:
        from carbonapi_spark import scratch
        from carbonapi_spark.datapipe.dedup import write_band_index
        from carbonapi_spark.datapipe.retrieval import write_text_index
        from carbonapi_spark.datapipe.similarity import write_ann_index
        base_docs = self.docs.where(F.col("batch") < 0)
        times = {}
        for name, fn in (
                ("band", lambda: write_band_index(
                    base_docs, self.paths["band"], num_hashes=16, bands=4,
                    ngram=2, n_buckets=16)),
                ("ann", lambda: write_ann_index(
                    self.vecs.where(F.col("batch") < 0), self.paths["ann"],
                    self.cbs, self.cents)),
                ("text", lambda: write_text_index(
                    base_docs, self.paths["text"], n_buckets=16))):
            t0 = time.perf_counter()
            fn()
            scratch.release()
            times[name] = time.perf_counter() - t0
        for i in INDEXES:
            self.files_after_compact[i] = data_files(dir_state(self.paths[i]))
        return {"build_s": times}

    # ------------------------------------------------------------ ops
    def _append(self, index: str, batch: int):
        from carbonapi_spark.datapipe.dedup import append_band_index
        from carbonapi_spark.datapipe.retrieval import append_text_index
        from carbonapi_spark.datapipe.similarity import append_ann_index
        p = self.paths[index]
        if index == "band":
            append_band_index(self.docs.where(F.col("batch") == batch), p,
                              l0=True)
        elif index == "ann":
            append_ann_index(self.vecs.where(F.col("batch") == batch), p,
                             l0=True)
        else:
            append_text_index(self.docs.where(F.col("batch") == batch), p)

    def _probe(self, index: str, probe: int) -> list:
        from carbonapi_spark.datapipe.dedup import probe_band_index
        from carbonapi_spark.datapipe.retrieval import bm25_query_index
        from carbonapi_spark.datapipe.similarity import ann_index_topk
        p = self.paths[index]
        c = self.corpus
        if index == "band":
            r = (c.probe_offset + probe) % PROBE_DOC_MOD
            df = probe_band_index(self.spark, p, self.docs.where(
                F.col("doc_id") % PROBE_DOC_MOD == r))
        elif index == "ann":
            r = (c.probe_offset + probe) % PROBE_VEC_MOD
            df = ann_index_topk(self.spark, p, self.vecs.where(
                F.col("vec_id") % PROBE_VEC_MOD == r), k=10, nprobe=3)
        else:
            df = bm25_query_index(self.spark, p,
                                  c.queries[probe % len(c.queries)], k=10)
        return df.collect()

    def _compact(self, index: str) -> dict:
        from carbonapi_spark.datapipe.dedup import compact_band_index
        from carbonapi_spark.datapipe.retrieval import compact_text_index
        from carbonapi_spark.datapipe.similarity import compact_ann_index
        fn = {"band": compact_band_index, "ann": compact_ann_index,
              "text": compact_text_index}[index]
        return fn(self.spark, self.paths[index])

    # ------------------------------------------------------------ loop
    def _op(self, tracer, kind: str, index: str, fn, records: list):
        """Run one timed operation, release request scratch, record it."""
        from carbonapi_spark import scratch
        before = dir_state(self.paths[index]) if kind != "probe" else None
        rec = {"kind": kind, "index": index, "ok": True, "error": None}
        result = None
        if tracer is not None:
            first_job = tracer.next_job_id()
            span = tracer.span(f"index.{index}.{kind}")
            span.__enter__()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            scratch.release()
            rec["ms"] = (time.perf_counter() - t0) * 1000
            if tracer is not None:
                span.__exit__(None, None, None)
                rec["py4j_sends"] = span.rec["py4j_sends"]
                rec.update(tracer.spark_counts(first_job))
        if before is not None:
            rec["bytes_written"] = new_bytes(before,
                                             dir_state(self.paths[index]))
        records.append(rec)
        return result

    def round(self, tracer, records: list, checks: list, l0: dict) -> None:
        c = self.corpus
        probes = {}
        b = self.next_batch
        self.next_batch += 1
        db = b % len(c.doc_batches)
        vb = b % len(c.vec_batches)
        for index in INDEXES:
            self._op(tracer, "append", index,
                     lambda i=index: self._append(
                         i, vb if i == "ann" else db), records)
        self.appended_docs.append(db)
        self.appended_vecs.append(vb)
        pr = self.next_probe
        self.next_probe += 1
        for index in INDEXES:
            probes[index] = self._op(tracer, "probe", index,
                                     lambda i=index: self._probe(i, pr),
                                     records)
        for index in INDEXES:
            files = data_files(dir_state(self.paths[index]))
            l0.setdefault(index, []).append(
                files - self.files_after_compact[index])
            self._op(tracer, "compact", index,
                     lambda i=index: self._compact(i), records)
            self.files_after_compact[index] = data_files(
                dir_state(self.paths[index]))
            before = probes[index]
            after = self._op(tracer, "probe", index,
                             lambda i=index: self._probe(i, pr), records)
            same = (before is not None and after is not None
                    and normalise(before) == normalise(after))
            checks.append({"index": index, "check": "compaction_invisible",
                           "ok": same})

    def run(self, trace: bool, rounds: int) -> dict:
        """``rounds`` rounds; returns the op records and storage figures."""
        tracer = None
        if trace:
            from tracer import Tracer
            tracer = Tracer(self.spark).install()
        records: list = []
        checks: list = []
        l0: dict = {}
        first_batch = self.next_batch
        round_s = []
        try:
            for _ in range(rounds):
                t0 = time.perf_counter()
                self.round(tracer, records, checks, l0)
                round_s.append(time.perf_counter() - t0)
        finally:
            if tracer is not None:
                tracer.uninstall()
        c = self.corpus
        batches = range(first_batch, self.next_batch)
        user_appended = {
            "band": c.doc_bytes(ix for b in batches
                                for ix in c.doc_batches[b % len(c.doc_batches)]),
            "ann": c.vec_bytes([ix for b in batches
                                for ix in c.vec_batches[b % len(c.vec_batches)]]),
        }
        user_appended["text"] = user_appended["band"]
        docs = set(c.base_docs.tolist())
        vecs = set(c.base_vecs.tolist())
        for b in self.appended_docs:
            docs.update(c.doc_batches[b].tolist())
        for b in self.appended_vecs:
            vecs.update(c.vec_batches[b].tolist())
        user_indexed = {"band": c.doc_bytes(docs), "text": c.doc_bytes(docs),
                        "ann": c.vec_bytes(sorted(vecs))}
        index_bytes = {i: sum(v[0] for v in dir_state(self.paths[i]).values())
                       for i in INDEXES}
        return {"records": records, "checks": checks, "l0_files": l0,
                "rounds": rounds, "round_s": round_s,
                "user_bytes_appended": user_appended,
                "user_bytes_indexed": user_indexed,
                "index_bytes": index_bytes,
                "bookkeeping_s": tracer.bookkeeping_s if tracer else 0.0}
