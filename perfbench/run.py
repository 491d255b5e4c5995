"""carbonapi_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload render_point --seed 1 \\
        --seconds 24 --trace 0

Run from the root of a checkout.  ``--trace 0`` measures the end-to-end
metrics (tracing off); ``--trace 1`` runs the traced pass and prints the
per-layer metrics.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
``{"detail": ...}`` (environment, drift, tail latency, checks).  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("render_point", "index_churn")
INDEXES = ("band", "ann", "text")
OP_KINDS = ("append", "probe", "compact")

RENDER_LAYER = [
    ("parser.parse_ms", "ms"), ("evaluator.build_ms", "ms"),
    ("evaluator.py4j_sends", "count"), ("sources.lake.fetch_calls", "count"),
    ("sources.lake.fetch_ms", "ms"),
    ("sources.lake.fetch_py4j_sends", "count"), ("spark.plan_ms", "ms"),
    ("render.serialize.collect_ms", "ms"),
    ("render.serialize.rows_collected", "count"),
    ("render.serialize.points_returned", "count"),
    ("render.serialize.scan_efficiency", "ratio"),
    ("render.serialize.json_ms", "ms"), ("render.serialize.bytes_out", "bytes"),
    ("render.api.http_overhead_ms", "ms"),
]
SPARK_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.input_rows", "count"), ("spark.shuffle_write_bytes", "bytes"),
    ("trace.overhead", "ratio"),
]
INDEX_LAYER = (
    [(f"index.{i}.{k}_{m}", u) for i in INDEXES for k in OP_KINDS
     for m, u in (("ms", "ms"), ("jobs", "count"), ("py4j_sends", "count"))]
    + [(f"index.{i}.l0_files", "count") for i in INDEXES]
    + [(f"index.{i}.bytes_written_per_user_byte", "ratio") for i in INDEXES]
    + [("index.space_amp", "ratio")])
PER_LAYER = RENDER_LAYER + SPARK_LAYER + INDEX_LAYER
END_TO_END = [("latency_p50_ms", "ms"), ("throughput_rps", "1/s"),
              ("setup_s", "s"), ("peak_rss_mb", "MB")]
# --seconds buys one whole pass over the request list (render) or round of
# index operations per NOMINAL_PASS_S seconds, so every run does the same
# work whatever the host's speed (on a 4-core host a warm render_point
# pass takes ~1.5-2.5 s and an index_churn round ~10-12 s).
NOMINAL_PASS_S = {"render_point": 2.4, "index_churn": 12.0}
# Warm-up before the measured passes/rounds, counted in setup_s.  The
# first passes/rounds are far slower (a render_point pass goes from ~3 s
# to ~1.8 s over five passes, an index_churn round from ~15 s to ~12 s
# over one), and measuring on that slope made the figures follow how far
# the JIT had got.  The render warm-up goes over HTTP like the measured
# passes: in-process renders on the engine's own thread warm the served
# path far less.
WARM_PASSES = 5
WARM_ROUNDS = 1


def passes_for(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


# ------------------------------------------------------------------ helpers
def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile; failures are passed in as +inf."""
    if not values:
        return float("nan")
    xs = sorted(values)
    return xs[min(len(xs) - 1, max(0, math.ceil(q / 100 * len(xs)) - 1))]


def tail(values: list[float]) -> dict:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    above it, with the sample count."""
    n = len(values)
    for q in (99, 95, 90, 75, 50):
        if n * (100 - q) / 100 >= 10:
            return {"pct": q, "ms": pct(values, q), "n": n}
    return {"pct": None, "ms": None, "n": n}


def drift(groups: dict) -> dict:
    """Each request template's (or index operation's) last sample over
    its first, in start order, mean over those with two samples; a leak
    shows as a ratio well above 1.  Comparing a kind with itself keeps
    the ratio free of the mix's cost order."""
    pairs = [(v[0], v[-1]) for v in groups.values()
             if len(v) >= 2 and math.isfinite(v[0] + v[-1])]
    if not pairs:
        return {"first_ms": None, "last_ms": None, "ratio": None}
    return {"first_ms": statistics.fmean(a for a, _b in pairs),
            "last_ms": statistics.fmean(b for _a, b in pairs),
            "ratio": statistics.fmean(b / a for a, b in pairs)}


def finite(x: float) -> float:
    """``x``, or 1e9 when failures made it infinite (JSON has no inf)."""
    return x if math.isfinite(x) else 1e9


def source_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "carbonapi_spark")
    for d, subs, files in sorted(os.walk(pkg)):
        subs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all CPUs:
    a run whose figures are off with a large steal delta met a busy host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def proc_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over the engine process and its descendants (the JVM)."""
    total = 0
    for p in proc_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


# ------------------------------------------------------------------ engine
class EngineProc:
    """The engine subprocess and its JSON-line command channel."""

    def __init__(self, workdir: str, cpus: int):
        self.log = open(os.path.join(workdir, "engine.log"), "w")
        tmp = os.path.join(workdir, "tmp")
        # every JVM spark-submit starts (its launcher too) keeps its
        # temporary files inside the checkout
        env = dict(os.environ, TMPDIR=tmp, PYTHONDONTWRITEBYTECODE="1",
                   JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"),
             "--workdir", workdir, "--cpus", str(cpus)],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True)
        self.replies: queue.Queue = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@PB "):
                self.replies.put(json.loads(line[5:]))
            else:
                self.log.write(line)
        self.replies.put({"error": "engine exited"})

    def wait_reply(self, timeout: float) -> dict:
        try:
            msg = self.replies.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"engine did not answer within {timeout} s")
        if "error" in msg:
            raise RuntimeError(f"engine error: {msg['error']}")
        return msg

    def call(self, cmd: str, timeout: float = 170.0, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self.wait_reply(timeout)

    def close(self) -> None:
        """Kill the engine's process group (engine and JVM: nothing in
        them outlives the run) and wait until every member has ended."""
        group = proc_tree(self.proc.pid)
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        for p in group:
            while alive(p):
                time.sleep(0.05)
        self.reader.join(timeout=10)
        self.log.close()


# ------------------------------------------------------------------ render
def check_numpy(lake, req, body: str) -> bool:
    """Compare a reference body with values recomputed from the
    generator (plain fetches and sumSeries of a plain fetch)."""
    want = [e for t in req.targets
            for e in lake.expected(t, req.from_ts, req.until_ts)]
    got = json.loads(body)
    if len(got) != len(want):
        return False
    for g, (name, start, step, values) in zip(got, want):
        pts = g["datapoints"]
        if (g["target"] != name or [p[0] for p in pts] != values
                or [p[1] for p in pts] != list(range(
                    start, start + step * len(values), step))):
            return False
    return True


def check_bodies(recs: list[dict], ref: list[str]) -> list[dict]:
    """Mark each HTTP record ok when it is a 200 with the reference body."""
    for r in recs:
        r["ok"] = r["status"] == 200 and r["sha"] == ref[r["req"]]
    return recs


def pass_throughput(recs: list[dict], n: int) -> list[float]:
    """Successful requests per second of each pass of ``n`` requests,
    from its first request's start to its last reply."""
    out = []
    for k in range(0, len(recs), n):
        p = recs[k:k + n]
        span = p[-1]["start"] + p[-1]["ms"] / 1000 - p[0]["start"]
        out.append(sum(r["ok"] for r in p) / span)
    return out


def run_render(args, workdir: str, cpus: int, detail: dict) -> dict:
    import datagen
    t_setup = time.perf_counter()
    engine = EngineProc(workdir, cpus)
    try:
        lake = datagen.Lake(datagen.FULL, args.seed)
        lake_dir = os.path.join(workdir, "lake")
        detail["lake_bytes"] = lake.write(lake_dir)
        detail["lake_hash"] = lake.content_hash()[:16]
        ready = engine.wait_reply(timeout=170)
        detail["env"].update(pyspark=ready["pyspark"], java=ready["java"])
        detail["session_s"] = ready["session_s"]
        port = engine.call("open_lake", path=lake_dir, step=datagen.FULL.step)["port"]
        reqs = datagen.point_requests(datagen.FULL, args.seed)
        rdicts = [r.as_dict() for r in reqs]
        checked = [i for i, r in enumerate(reqs) if all(
            lake.expected(t, r.from_ts, r.until_ts) is not None
            for t in r.targets)]
        # reference: every request once in-process; its bodies are the
        # ones every later body must equal byte for byte.  Then the
        # warm-up passes over HTTP.
        import loadgen
        t_warm = time.perf_counter()
        first = engine.call("render", requests=rdicts, bodies=checked)["results"]
        ref = [w["sha"] for w in first]
        paths = ["/render?" + r.key for r in reqs]
        warm = check_bodies(loadgen.closed_loop(port, paths, WARM_PASSES), ref)
        setup_s = time.perf_counter() - t_setup
        detail["warmup_s"] = time.perf_counter() - t_warm
        failed = (sum(w["code"] != 200 for w in first)
                  + sum(not r["ok"] for r in warm))
        bad_numpy = [i for i in checked
                     if not check_numpy(lake, reqs[i], first[i]["body"])]
        detail["checks"] = {"numpy_checked": len(checked),
                            "numpy_mismatch": bad_numpy,
                            "warmup_failed": failed}
        failed += len(bad_numpy)
        attempted = len(first) + len(warm) + len(checked)
        if not args.trace:
            passes = passes_for(args.workload, args.seconds)
            recs = check_bodies(loadgen.closed_loop(port, paths, passes), ref)
            bad = [r for r in recs if not r["ok"]]
            attempted += len(recs)
            failed += len(bad)
            lat = [r["ms"] if r["ok"] else math.inf for r in recs]
            by_template: dict = {}
            for r, x in zip(recs, lat):
                by_template.setdefault(reqs[r["req"]].template, []).append(x)
            # mean over templates of each template's median: the same
            # weight per template whatever their cost order
            per_template = {t: median(v) for t, v in sorted(by_template.items())}
            per_pass = pass_throughput(recs, len(paths))
            detail.update(
                requests=len(recs), distinct_requests=len(reqs), passes=passes,
                tail=tail(lat), drift=drift(by_template),
                bad_requests=[{k: r[k] for k in ("req", "status", "error")}
                              for r in bad[:5]],
                per_template_p50_ms=per_template,
                pooled_p50_ms=pct(lat, 50), pass_rps=per_pass)
            metrics = {"latency_p50_ms": finite(statistics.fmean(per_template.values())),
                       "throughput_rps": median(per_pass),
                       "setup_s": setup_s,
                       "peak_rss_mb": peak_rss_mb(engine.proc.pid)}
        else:
            metrics, a, f = trace_render(args, engine, port, rdicts, paths,
                                         ref, workdir, detail)
            attempted += a
            failed += f
        return {"metrics": metrics, "attempted": attempted, "failed": failed}
    finally:
        engine.close()


def trace_render(args, engine, port, rdicts, paths, ref, workdir, detail):
    """Each request three ways, in rotating order: over HTTP (untraced),
    in-process untraced (GraphiteAPI.render) and in-process traced.

    An untimed in-process run of the same request goes first: the first
    run of a request after a different one is slower (30-60 % on
    whole-lake aggregates), which would otherwise land on whichever way
    runs first and swamp the differences this pass measures."""
    import loadgen
    tr, failed = [], 0
    for i, (rd, path) in enumerate(zip(rdicts, paths)):
        engine.call("render_one", request=rd)
        got = {}

        def http():
            t0 = time.perf_counter()
            status, body, _err = loadgen.fetch(port, path)
            got["http_ms"] = (time.perf_counter() - t0) * 1000
            got["http_ok"] = (status == 200 and
                              hashlib.sha256(body).hexdigest() == ref[i])

        def plain():
            got["plain"] = engine.call("render_one", request=rd)

        def traced():
            got["traced"] = engine.call("trace_one", request=rd, index=i)

        steps = [http, plain, traced]
        for step in steps[i % 3:] + steps[:i % 3]:
            step()
        t = got["traced"]
        t.update(http_ms=got["http_ms"], untraced_ms=got["plain"]["ms"])
        failed += (not got["http_ok"]) + (t["sha"] != ref[i]) + (
            got["plain"]["code"] != 200 or got["plain"]["sha"] != ref[i])
        tr.append(t)
    out_path = os.path.join(workdir, f"spans-{args.workload}-{args.seed}.json")
    dump = engine.call("trace_dump", out_path=out_path)
    cover = [(t["parse_ms"] + t["build_ms"] + t["collect_ms"] + t["json_ms"])
             / t["ms"] for t in tr]
    input_rows = sum(t["input_rows"] for t in tr)
    m = {name: 0 for name, _u in PER_LAYER}

    def med(key):
        return median([t[key] for t in tr])

    def mean(key):
        return statistics.fmean([t[key] for t in tr])

    m.update({
        "parser.parse_ms": med("parse_ms"),
        "evaluator.build_ms": med("build_ms"),
        "evaluator.py4j_sends": mean("build_py4j_sends"),
        "sources.lake.fetch_calls": mean("fetch_calls"),
        "sources.lake.fetch_ms": med("fetch_ms"),
        "sources.lake.fetch_py4j_sends": mean("fetch_py4j_sends"),
        "spark.plan_ms": med("plan_ms"),
        "render.serialize.collect_ms": med("collect_ms"),
        "render.serialize.rows_collected": mean("rows_collected"),
        "render.serialize.points_returned": mean("points_returned"),
        "render.serialize.scan_efficiency":
            sum(t["points_returned"] for t in tr) / input_rows if input_rows else 0.0,
        "render.serialize.json_ms": med("json_ms"),
        "render.serialize.bytes_out": mean("bytes_out"),
        "render.api.http_overhead_ms": median(
            [t["http_ms"] - t["untraced_ms"] for t in tr]),
        "spark.jobs": mean("jobs"), "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"), "spark.input_rows": mean("input_rows"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "trace.overhead": sum(t["ms"] for t in tr) / sum(t["untraced_ms"] for t in tr),
    })
    detail.update(span_coverage={"min": min(cover), "median": median(cover)},
                  spans_file=os.path.relpath(out_path, ROOT),
                  tracer_bookkeeping_s=dump["bookkeeping_s"],
                  traced_requests=len(tr))
    return m, 3 * len(paths), failed


# ------------------------------------------------------------------ index
def run_index(args, workdir: str, cpus: int, detail: dict) -> dict:
    import datagen
    t_setup = time.perf_counter()
    engine = EngineProc(workdir, cpus)
    try:
        data_dir = os.path.join(workdir, "corpus")
        datagen.Corpus(args.seed).write(data_dir)
        ready = engine.wait_reply(timeout=170)
        detail["env"].update(pyspark=ready["pyspark"], java=ready["java"])
        detail["session_s"] = ready["session_s"]
        built = engine.call("index_setup", data_dir=data_dir,
                            index_dir=os.path.join(workdir, "index"),
                            seed=args.seed)
        # warm-up rounds (the index operations get faster over the first
        # rounds after the builds), then the measured rounds in both modes
        t_warm = time.perf_counter()
        warm = engine.call("churn_run", trace=False, rounds=WARM_ROUNDS)
        setup_s = time.perf_counter() - t_setup
        detail["warmup_s"] = time.perf_counter() - t_warm
        detail["build_s"] = built["build_s"]
        rounds = [warm]
        if not args.trace:
            run = engine.call("churn_run", trace=False,
                              rounds=passes_for(args.workload, args.seconds))
            metrics = index_e2e(run, warm, detail)
            metrics["setup_s"] = setup_s
            metrics["peak_rss_mb"] = peak_rss_mb(engine.proc.pid)
        else:
            # the traced round is the first after the warm-up, as the
            # end-to-end run's first measured round is; an untraced round
            # with the same schedule follows for trace.overhead
            run = engine.call("churn_run", trace=True, rounds=1)
            rounds.append(engine.call("churn_run", trace=False, rounds=1))
            metrics = index_layers(run, rounds[-1], detail)
        attempted = failed = 0
        for r in rounds + [run]:
            attempted += len(r["records"]) + len(r["checks"])
            failed += (sum(not x["ok"] for x in r["records"])
                       + sum(not c["ok"] for c in r["checks"]))
        detail["checks"] = run["checks"]
        detail["errors"] = [r["error"] for r in run["records"] if not r["ok"]][:5]
        return {"metrics": metrics, "attempted": attempted, "failed": failed}
    finally:
        engine.close()


def op_times(run) -> dict:
    out = {}
    for r in run["records"]:
        out.setdefault((r["index"], r["kind"]), []).append(
            r["ms"] if r["ok"] else math.inf)
    return out


def round_ops(runs) -> dict:
    """Latencies of each operation of the round schedule (position in the
    round), over the rounds of ``runs`` in order."""
    out: dict = {}
    for run in runs:
        per_round = len(run["records"]) // run["rounds"]
        for k, r in enumerate(run["records"]):
            out.setdefault(k % per_round, []).append(
                r["ms"] if r["ok"] else math.inf)
    return out


def index_e2e(run, warm, detail) -> dict:
    """latency_p50_ms: mean over the nine (index, operation) kinds of the
    kind's median latency, so every kind weighs the same however many
    of it a round holds; throughput_rps: the median round's successful
    operations per second."""
    per_kind = {k: median(v) for k, v in op_times(run).items()}
    all_ms = [r["ms"] if r["ok"] else math.inf for r in run["records"]]
    per_round = len(run["records"]) // run["rounds"]
    round_rps = [sum(r["ok"] for r in run["records"][k * per_round:
                                                     (k + 1) * per_round]) / s
                 for k, s in enumerate(run["round_s"])]

    def pooled_p50(kind):   # the three indexes pooled
        return pct([r["ms"] if r["ok"] else math.inf
                    for r in run["records"] if r["kind"] == kind], 50)

    detail.update(
        ops=len(run["records"]), rounds=run["rounds"], tail=tail(all_ms),
        round_rps=round_rps, pooled_p50_ms=pct(all_ms, 50),
        # from the warm-up round to the last measured one
        drift=drift(round_ops([warm, run])),
        per_kind_p50_ms={f"{i}.{k}": v
                         for (i, k), v in sorted(per_kind.items())},
        append_p50_ms=pooled_p50("append"), probe_p50_ms=pooled_p50("probe"),
        compact_p50_ms=pooled_p50("compact"),
        space_amp=sum(run["index_bytes"].values())
        / sum(run["user_bytes_indexed"].values()))
    return {"latency_p50_ms": finite(statistics.fmean(per_kind.values())),
            "throughput_rps": median(round_rps)}


def index_layers(run, base, detail) -> dict:
    m = {name: 0 for name, _u in PER_LAYER}
    recs = run["records"]
    for i in INDEXES:
        for k in OP_KINDS:
            rs = [r for r in recs if r["index"] == i and r["kind"] == k]
            m[f"index.{i}.{k}_ms"] = median([r["ms"] for r in rs])
            m[f"index.{i}.{k}_jobs"] = statistics.fmean(r["jobs"] for r in rs)
            m[f"index.{i}.{k}_py4j_sends"] = statistics.fmean(
                r["py4j_sends"] for r in rs)
        m[f"index.{i}.l0_files"] = statistics.fmean(run["l0_files"][i])
        written = sum(r.get("bytes_written", 0) for r in recs if r["index"] == i)
        m[f"index.{i}.bytes_written_per_user_byte"] = (
            written / run["user_bytes_appended"][i])
    m["index.space_amp"] = (sum(run["index_bytes"].values())
                            / sum(run["user_bytes_indexed"].values()))
    for key in ("jobs", "stages", "tasks", "input_rows", "shuffle_write_bytes"):
        m[f"spark.{key}"] = statistics.fmean(r[key] for r in recs)
    m["trace.overhead"] = (sum(r["ms"] for r in recs)
                           / sum(r["ms"] for r in base["records"]))
    detail.update(ops=len(recs), tracer_bookkeeping_s=run["bookkeeping_s"])
    return m


# ------------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its engine (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "carbonapi_spark", "__init__.py")):
        print(f"perfbench: no carbonapi_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "env": {"nproc": cpus, "python": sys.version.split()[0],
                      "git_sha": git_sha(), "source_sha": source_hash(),
                      "loadavg_before": loadavg()}}
    steal0 = steal_s()
    workdir = os.path.join(HERE, ".work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    try:
        runner = run_index if args.workload == "index_churn" else run_render
        out = runner(args, workdir, cpus, detail)
    finally:
        detail["env"]["loadavg_after"] = loadavg()
        detail["env"]["steal_s"] = steal_s() - steal0
        keep = detail.get("spans_file")
        if keep:
            dest = os.path.join(HERE, ".work", os.path.basename(keep))
            shutil.move(os.path.join(ROOT, keep), dest)
            detail["spans_file"] = os.path.relpath(dest, ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    names = PER_LAYER if args.trace else END_TO_END
    units = dict(names)
    metrics = {n: {"value": out["metrics"][n], "unit": units[n]} for n, _u in names}
    error_rate = out["failed"] / out["attempted"] if out["attempted"] else 1.0
    detail["error_rate"] = error_rate
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
