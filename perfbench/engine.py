"""The engine process: one SparkSession, the Graphite HTTP server and the
in-process passes (warm-up, untraced and traced replays, index churn).

Started by ``run.py`` as ``python3 perfbench/engine.py --workdir W
--cpus N`` from the root of the checkout.  It reads one JSON command per
line on stdin and answers each with one stdout line prefixed ``@@PB ``;
anything else the JVM prints is noise to the reader.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PREFIX = "@@PB "


def reply(obj: dict) -> None:
    sys.stdout.write(PREFIX + json.dumps(obj) + "\n")
    sys.stdout.flush()


DRIVER_MEMORY = "1g"


def start_session(workdir: str, cpus: int):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{cpus}]")
             .appName("carbonapi-spark-perfbench")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.local.dir", os.path.join(workdir, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(workdir, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sha(body: bytes) -> str:
    return hashlib.sha256(body).hexdigest()


class Engine:
    def __init__(self, spark):
        self.spark = spark
        self.api = None
        self.lake = None
        self.server = None
        self.churn = None
        self.tracer = None

    # ------------------------------------------------------------ render
    def open_lake(self, path: str, step: int) -> dict:
        from carbonapi_spark.render.api import GraphiteAPI
        from carbonapi_spark.sources.lake import SeriesLake
        self.lake = SeriesLake(self.spark.read.parquet(path), step,
                               time_partition_col="day")
        self.api = GraphiteAPI(self.spark, self.lake)
        self.server = self.api.serve(port=0)
        return {"port": self.server.server_address[1]}

    def _render_one(self, req: dict, want_body: bool) -> dict:
        from datagen import Request

        from carbonapi_spark import scratch
        params = Request.from_dict(req).params()
        t0 = time.perf_counter()
        try:
            code, _ctype, body = self.api.render(params)[:3]
        finally:
            scratch.release()
        ms = (time.perf_counter() - t0) * 1000
        out = {"code": code, "sha": sha(body), "ms": ms}
        if want_body:
            out["body"] = body.decode()
        return out

    def render(self, requests: list[dict], bodies: list[int] = ()) -> dict:
        """Untraced in-process GraphiteAPI.render of each request, one
        at a time (the reference bodies)."""
        want = set(bodies)
        return {"results": [self._render_one(r, i in want)
                            for i, r in enumerate(requests)]}

    def render_one(self, request: dict) -> dict:
        return self._render_one(request, False)

    def trace_one(self, request: dict, index: int) -> dict:
        """Traced replay of one request: parse, build (lake fetches as
        children), collect + assemble, JSON; the Spark work of the
        request; then, outside the request, the forced planning of each
        built frame."""
        from datagen import Request
        from tracer import TimedLake, Tracer

        from carbonapi_spark import scratch
        from carbonapi_spark.evaluator import eval_expr, render_context
        from carbonapi_spark.parser import parse
        from carbonapi_spark.render.serialize import collect_series, render_json

        if self.tracer is None:
            self.tracer = Tracer(self.spark)
        tracer = self.tracer
        req = Request.from_dict(request)
        lake = TimedLake(self.lake, tracer)
        tracer.install()
        try:
            first_job = tracer.next_job_id()
            with tracer.span("request", index=index) as root:
                ctx = render_context(self.spark, lake, str(req.from_ts),
                                     str(req.until_ts))
                with tracer.span("parser.parse"):
                    exps = [parse(t) for t in req.targets]
                with tracer.span("evaluator.build"):
                    frames = [eval_expr(ctx, e) for e in exps]
                with tracer.span("render.serialize.collect"):
                    series = []
                    for frame in frames:
                        series.extend(collect_series(frame))
                with tracer.span("render.serialize.json"):
                    body = render_json(series).encode()
            root.update(tracer.spark_counts(first_job))
            root["plan_ms"] = sum(tracer.plan_ms(f.df) for f in frames)
        finally:
            scratch.release()
            tracer.uninstall()
        root.update(sha=sha(body), bytes_out=len(body),
                    points_returned=sum(len(s.values) for s in series))
        return self._summarise(tracer, root)

    def trace_dump(self, out_path: str) -> dict:
        with open(out_path, "w") as f:
            json.dump({"spans": self.tracer.spans}, f)
        return {"spans": len(self.tracer.spans),
                "bookkeeping_s": self.tracer.bookkeeping_s}

    @staticmethod
    def _summarise(tracer, root: dict) -> dict:
        kids = [s for s in tracer.spans if s["trace"] == root["trace"]]

        def total(name, key="ms"):
            return sum(s[key] for s in kids if s["name"] == name)

        fetch = [s for s in kids if s["name"] == "sources.lake.fetch"]
        out = {k: root[k] for k in ("ms", "sha", "bytes_out", "jobs",
                                    "stages", "tasks", "input_rows",
                                    "shuffle_write_bytes", "plan_ms",
                                    "points_returned")}
        out.update({
            "parse_ms": total("parser.parse"),
            "build_ms": total("evaluator.build"),
            "build_py4j_sends": total("evaluator.build", "py4j_sends"),
            "fetch_calls": len(fetch),
            "fetch_ms": sum(s["ms"] for s in fetch),
            "fetch_py4j_sends": sum(s["py4j_sends"] for s in fetch),
            "collect_ms": total("render.serialize.collect"),
            "rows_collected": total("render.serialize.collect",
                                    "rows_collected"),
            "json_ms": total("render.serialize.json"),
            "py4j_sends": root["py4j_sends"],
        })
        return out

    # ------------------------------------------------------------- index
    def index_setup(self, data_dir: str, index_dir: str, seed: int) -> dict:
        from churn import Churn
        self.churn = Churn(self.spark, data_dir, index_dir, seed)
        return self.churn.build()

    def churn_run(self, trace: bool, rounds: int) -> dict:
        return self.churn.run(trace, rounds)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()
    t0 = time.perf_counter()
    spark = start_session(args.workdir, args.cpus)
    engine = Engine(spark)
    reply({"event": "ready", "session_s": time.perf_counter() - t0,
           "pyspark": spark.version,
           "java": spark._jvm.java.lang.System.getProperty("java.version")})
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg.pop("cmd")
        try:
            out = getattr(engine, cmd)(**msg)
        except Exception:  # noqa: BLE001 - reported to the load generator
            out = {"error": traceback.format_exc()}
        reply(out)


if __name__ == "__main__":
    main()
