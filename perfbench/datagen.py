"""Seeded inputs for the benchmark: the series lake, the index corpus and
the request lists.

Everything here is plain numpy/pyarrow, so the load generator and the
tests can rebuild the exact inputs (and the expected answers) without a
Spark session.  The same seed always gives the same bytes.
"""

from __future__ import annotations

import hashlib
import os
import urllib.parse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1704067200            # 2024-01-01T00:00:00Z, the lake's first day
DAY = 86400
METRICS = ("user", "sys", "idle", "iowait")
FILES_PER_DAY = 4          # Parquet files per day partition (name ranges)


class LakeSpec:
    """Shape of the generated lake: hosts x METRICS series, ``days`` days
    at ``step`` seconds."""

    def __init__(self, hosts: int = 125, days: int = 3, step: int = 60):
        self.hosts = hosts
        self.days = days
        self.step = step

    @property
    def names(self) -> list[str]:
        return [f"servers.h{h:04d}.cpu.{m}"
                for h in range(self.hosts) for m in METRICS]

    @property
    def points(self) -> int:
        return self.days * DAY // self.step


FULL = LakeSpec()
TINY = LakeSpec(hosts=20, days=2)


class Lake:
    """The generated series: ``values[i, j]`` is series ``names[i]`` at
    ``T0 + j * step``; NaN marks a gap (the row is absent from Parquet).

    Values are multiples of 0.25 below 2**20, so any sum of them is exact
    in float64 whatever order Spark adds them in."""

    def __init__(self, spec: LakeSpec, seed: int):
        self.spec = spec
        self.names = sorted(spec.names)
        self.index = {n: i for i, n in enumerate(self.names)}
        rng = np.random.default_rng([seed, 1])
        n, p = len(self.names), spec.points
        t = np.arange(p)
        base = rng.uniform(5, 60, (n, 1))
        daily = rng.uniform(0, 15, (n, 1)) * np.sin(
            2 * np.pi * (t * spec.step / DAY) + rng.uniform(0, 2 * np.pi, (n, 1)))
        walk = np.cumsum(rng.normal(0, 0.4, (n, p)), axis=1)
        noise = rng.normal(0, 2, (n, p))
        vals = np.clip(base + daily + walk + noise, 0, 1000)
        vals = np.round(vals * 4) / 4
        # scattered single-point gaps plus one outage run in 5% of series
        gaps = rng.random((n, p)) < 0.01
        for i in np.flatnonzero(rng.random(n) < 0.05):
            a = int(rng.integers(0, p - 120))
            gaps[i, a:a + int(rng.integers(10, 120))] = True
        vals[gaps] = np.nan
        self.values = vals
        self.ts = T0 + t.astype(np.int64) * spec.step

    def content_hash(self) -> str:
        h = hashlib.sha256()
        h.update("\n".join(self.names).encode())
        h.update(np.ascontiguousarray(self.values).tobytes())
        return h.hexdigest()

    def write(self, root: str) -> int:
        """Write a day-partitioned Parquet lake (``day=<epoch>/``), rows
        sorted by (name, ts) inside each day and split into
        FILES_PER_DAY name ranges, 64 K-row row groups (so an exact
        name prunes to one row group); returns bytes written."""
        spec = self.spec
        ppd = DAY // spec.step
        names = np.array(self.names, dtype=object)
        total = 0
        for d in range(spec.days):
            day = T0 + d * DAY
            ddir = os.path.join(root, f"day={day}")
            os.makedirs(ddir, exist_ok=True)
            cols = slice(d * ppd, (d + 1) * ppd)
            for f, rows in enumerate(np.array_split(np.arange(len(names)),
                                                    FILES_PER_DAY)):
                v = self.values[rows, cols]
                keep = ~np.isnan(v)
                table = pa.table({
                    "name": pa.array(np.repeat(names[rows], ppd)
                                     .reshape(len(rows), ppd)[keep],
                                     pa.string()),
                    "ts": pa.array(np.broadcast_to(self.ts[cols], v.shape)[keep]),
                    "value": pa.array(v[keep]),
                })
                path = os.path.join(ddir, f"part-{f:03d}.parquet")
                pq.write_table(table, path, row_group_size=65536)
                total += os.path.getsize(path)
        return total

    # ------------------------------------------------------------ oracle
    def window(self, from_ts: int, until_ts: int) -> tuple[int, int, np.ndarray]:
        """The engine's bucket range for [from, until) and the column
        indexes it covers (SeriesLake.fetch alignment)."""
        step = self.spec.step
        start = from_ts - from_ts % step
        stop = until_ts + (-until_ts) % step
        cols = (np.arange(start, stop, step) - T0) // step
        return start, stop, cols

    def expected(self, target: str, from_ts: int, until_ts: int):
        """[(name, start, step, values)] a plain fetch or ``sumSeries`` of
        a plain fetch must return, or None for any other target."""
        inner, agg = target, False
        if target.startswith("sumSeries(") and target.endswith(")"):
            inner, agg = target[len("sumSeries("):-1], True
        if "(" in inner:
            return None
        rows = [self.index[n] for n in self.names if _glob_match(inner, n)]
        start, _stop, cols = self.window(from_ts, until_ts)
        step = self.spec.step
        block = self.values[np.ix_(rows, cols)] if rows else None
        if not agg:
            out = []
            for r, vals in zip(rows, block):
                if np.isnan(vals).all():
                    continue   # the lake holds no row of it in the window
                out.append((self.names[r], start, step, _nullable(vals)))
            return out
        present = ~np.isnan(block).all(axis=1)
        if not present.any():
            return []
        block = block[present]
        summed = np.nansum(block, axis=0)
        summed[np.isnan(block).all(axis=0)] = np.nan
        return [(target, start, step, _nullable(summed))]


def _nullable(vals: np.ndarray) -> list:
    return [None if np.isnan(v) else float(v) for v in vals]


def _glob_match(pattern: str, name: str) -> bool:
    """Graphite glob (``*``, ``?``, ``[..]``, ``{a,b}``) per dot-node."""
    import fnmatch
    pnodes, nnodes = pattern.split("."), name.split(".")
    if len(pnodes) != len(nnodes):
        return False
    for p, n in zip(pnodes, nnodes):
        alts = [p]
        if "{" in p:
            pre, rest = p.split("{", 1)
            body, post = rest.split("}", 1)
            alts = [pre + b + post for b in body.split(",")]
        if not any(fnmatch.fnmatchcase(n, a) for a in alts):
            return False
    return True


# ---------------------------------------------------------------- requests
class Request:
    """One /render request: targets and absolute window; ``key`` is its
    query string (always ``noCache=1``)."""

    def __init__(self, targets: list[str], from_ts: int, until_ts: int,
                 template: str = ""):
        self.targets = list(targets)
        self.from_ts = int(from_ts)
        self.until_ts = int(until_ts)
        self.template = template

    def params(self) -> dict:
        return {"target": list(self.targets), "from": [str(self.from_ts)],
                "until": [str(self.until_ts)], "format": ["json"],
                "noCache": ["1"]}

    @property
    def key(self) -> str:
        return urllib.parse.urlencode(self.params(), doseq=True)

    def as_dict(self) -> dict:
        return {"targets": self.targets, "from": self.from_ts,
                "until": self.until_ts, "template": self.template}

    @classmethod
    def from_dict(cls, d: dict) -> "Request":
        return cls(d["targets"], d["from"], d["until"], d["template"])


def _host(rng, spec: LakeSpec) -> str:
    return f"servers.h{int(rng.integers(0, spec.hosts)):04d}"


def point_requests(spec: LakeSpec, seed: int) -> list[Request]:
    """render_point: exact names or <=10-series globs, light functions,
    1-6 h absolute windows inside one day partition, one request per
    template.  Each template's window length (hours, first in its entry)
    and the order are fixed, so the work mix is the same for every seed;
    the seed picks hosts, metrics and window positions."""
    rng = np.random.default_rng([seed, 2])

    def metric():
        return METRICS[int(rng.integers(0, len(METRICS)))]

    def decade():   # hNNN[0-9]: ten hosts sharing a prefix
        return f"servers.h{int(rng.integers(0, spec.hosts // 10)):03d}[0-9]"

    templates = {
        "exact": (1, lambda: f"{_host(rng, spec)}.cpu.{metric()}"),
        "host_glob": (2, lambda: f"{_host(rng, spec)}.cpu.*"),
        "decade_glob": (6, lambda: f"{decade()}.cpu.{metric()}"),
        "scale": (3, lambda: f"scale({_host(rng, spec)}.cpu.{metric()},2.5)"),
        "derivative": (4, lambda: f"derivative({_host(rng, spec)}.cpu.{metric()})"),
        "movingAverage": (6, lambda: f"movingAverage({decade()}.cpu.{metric()},10)"),
        "asPercent": (2, lambda: (lambda h: f"asPercent({h}.cpu.user,"
                                  f"sumSeries({h}.cpu.*))")(_host(rng, spec))),
        "sumSeries": (3, lambda: f"sumSeries({_host(rng, spec)}.cpu.*)"),
    }
    out = []
    for name, (hours, make) in templates.items():
        day = int(rng.integers(0, spec.days))
        start = T0 + day * DAY + int(rng.integers(0, (24 - hours) * 60)) * 60 \
            + int(rng.integers(0, 60))
        out.append(Request([make()], start, start + hours * 3600,
                           template=name))
    return out


# ------------------------------------------------------------ index corpus
WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector plan cost join").split()


class Corpus:
    """sf0.1-sized ``documents`` (5000) and ``embeddings`` (2000, 64-d unit
    vectors) plus the seeded split into the indexed base and append
    batches."""

    def __init__(self, seed: int):
        n_docs, n_vecs, dim = 5000, 2000, 64
        base_share, doc_batch, vec_batch = 0.8, 50, 20
        rng = np.random.default_rng([seed, 4])
        lens = rng.integers(10, 60, n_docs)
        self.texts = [" ".join(rng.choice(WORDS, size=int(k))) for k in lens]
        self.doc_ids = np.arange(n_docs, dtype=np.int64)
        vecs = rng.normal(0, 1, (n_vecs, dim)).astype(np.float32)
        self.vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self.vec_ids = np.arange(n_vecs, dtype=np.int64)
        self.labels = rng.integers(0, 10, n_vecs).astype(np.int32)
        docs = rng.permutation(n_docs)
        vids = rng.permutation(n_vecs)
        nd, nv = int(n_docs * base_share), int(n_vecs * base_share)
        self.base_docs = np.sort(docs[:nd])
        self.base_vecs = np.sort(vids[:nv])
        self.doc_batches = [np.sort(docs[i:i + doc_batch])
                            for i in range(nd, n_docs, doc_batch)]
        self.vec_batches = [np.sort(vids[i:i + vec_batch])
                            for i in range(nv, n_vecs, vec_batch)]

        # probe sets are residue classes (``id % modulus == r``), so a
        # probe batch is one cheap predicate on the table
        self.probe_offset = int(rng.integers(0, 1 << 16))
        self.queries = [" ".join(rng.choice(WORDS, 3, replace=False))
                        for _ in range(64)]

    def batch_column(self, n: int, batches: list) -> np.ndarray:
        """-1 for base rows, k for rows of append batch k."""
        col = np.full(n, -1, dtype=np.int32)
        for k, ids in enumerate(batches):
            col[ids] = k
        return col

    def doc_bytes(self, ids) -> int:
        """User bytes of documents: 8-byte id + UTF-8 text."""
        return int(sum(8 + len(self.texts[i].encode()) for i in ids))

    def vec_bytes(self, ids) -> int:
        """User bytes of embeddings: 8-byte id + float32 vector."""
        return int(len(ids) * (8 + self.vecs.shape[1] * 4))

    def write(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)
        pq.write_table(pa.table({
            "doc_id": self.doc_ids,
            "text": pa.array(self.texts, pa.string()),
            "batch": self.batch_column(len(self.doc_ids), self.doc_batches)}),
                       os.path.join(root, "documents.parquet"))
        pq.write_table(pa.table({
            "vec_id": self.vec_ids,
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(self.vecs.reshape(-1)), self.vecs.shape[1])
            .cast(pa.list_(pa.float32())),
            "label": self.labels,
            "batch": self.batch_column(len(self.vec_ids), self.vec_batches)}),
            os.path.join(root, "embeddings.parquet"))
