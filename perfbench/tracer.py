"""In-memory tracer for the traced pass.

Spans are recorded by the benchmark around calls into the engine's
public functions; the engine itself is not edited.  Counters come from
three places:

- py4j sends: ``send_command`` of py4j's client classes is wrapped in
  this process.  The count is process-wide, so sends from helper threads
  an operation starts (``datapipe.overlap_jobs``) are included; the
  traced pass runs one operation at a time with the HTTP server idle;
- Spark jobs/stages/tasks, input rows and shuffle bytes: the jobs an
  operation ran are the job ids the DAG scheduler handed out while it
  ran (a job group would miss jobs submitted from helper threads, which
  do not inherit it), looked up through the status tracker and the
  application status store afterwards (both work with the UI disabled);
- rows collected: ``DataFrame.collect`` is wrapped to count rows.

The tracer's own lookups are excluded from the send counts and their
time is accounted separately as ``bookkeeping_ms``.
"""

from __future__ import annotations

import itertools
import threading
import time


class _Counts:
    def __init__(self):
        self.sends = 0
        self.rows = 0
        self.paused = False


class Tracer:
    """Spans of one process; ``install()`` wraps py4j and collect."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts = _Counts()
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._stack = threading.local()
        self._undo: list = []

    # ---------------------------------------------------------- wrapping
    def install(self) -> "Tracer":
        import py4j.clientserver
        import py4j.java_gateway
        from pyspark.sql.classic.dataframe import DataFrame
        counts = self.counts

        from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
        release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

        def wrap_send(cls):
            orig = cls.send_command

            def send_command(conn, command, *a, **k):
                # object releases are sent whenever Python's GC runs, so
                # they are not counted
                if not counts.paused and not command.startswith(release):
                    counts.sends += 1
                return orig(conn, command, *a, **k)
            cls.send_command = send_command
            self._undo.append((cls, "send_command", orig))

        wrap_send(py4j.clientserver.ClientServerConnection)
        wrap_send(py4j.java_gateway.GatewayConnection)
        orig_collect = DataFrame.collect

        def collect(df):
            rows = orig_collect(df)
            if not counts.paused:
                counts.rows += len(rows)
            return rows
        DataFrame.collect = collect
        self._undo.append((DataFrame, "collect", orig_collect))
        return self

    def uninstall(self) -> None:
        while self._undo:
            cls, name, orig = self._undo.pop()
            setattr(cls, name, orig)

    # ------------------------------------------------------------- spans
    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    # ------------------------------------------------------ spark lookup
    def next_job_id(self) -> int:
        """The id the DAG scheduler will give the next job."""
        self.counts.paused = True
        try:
            return int(self.sc._jsc.sc().dagScheduler().nextJobId())
        finally:
            self.counts.paused = False

    def spark_counts(self, first_job: int) -> dict:
        """Jobs, stages, tasks, input rows and shuffle bytes of every job
        since ``first_job``; waits for the listener bus first so the
        status store has seen the jobs end."""
        from py4j.protocol import Py4JJavaError
        t0 = time.perf_counter()
        self.counts.paused = True
        try:
            jsc = self.sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            tracker = self.sc.statusTracker()
            store = jsc.statusStore()
            out = {"jobs": 0, "stages": 0, "tasks": 0, "input_rows": 0,
                   "shuffle_write_bytes": 0}
            for jid in range(first_job, int(jsc.dagScheduler().nextJobId())):
                info = tracker.getJobInfo(jid)
                out["jobs"] += 1
                if info is None:
                    continue
                for sid in info.stageIds:
                    try:
                        att = store.lastStageAttempt(sid)
                    except Py4JJavaError:   # never attempted (skipped)
                        continue
                    if str(att.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += int(att.numTasks())
                    out["input_rows"] += int(att.inputRecords())
                    out["shuffle_write_bytes"] += int(att.shuffleWriteBytes())
            return out
        finally:
            self.counts.paused = False
            self.bookkeeping_s += time.perf_counter() - t0

    def plan_ms(self, df) -> float:
        """Catalyst optimise + physical planning of ``df``, forced through
        ``queryExecution().executedPlan()`` (an upper-bound estimate: the
        collect that serves the request plans a projection of it again)."""
        self.counts.paused = True
        try:
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            return (time.perf_counter() - t0) * 1000
        finally:
            self.counts.paused = False


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.rec = {"name": name, **attrs}

    def __enter__(self):
        t = self.t
        stack = getattr(t._stack, "s", None)
        if stack is None:
            stack = t._stack.s = []
        parent = stack[-1] if stack else None
        self.rec["id"] = next(t._ids)
        self.rec["parent"] = parent["id"] if parent else None
        self.rec["trace"] = parent["trace"] if parent else self.rec["id"]
        self._sends0 = t.counts.sends
        self._rows0 = t.counts.rows
        stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        self.rec["ms"] = (self.rec["end"] - self.rec["start"]) * 1000
        self.rec["py4j_sends"] = t.counts.sends - self._sends0
        self.rec["rows_collected"] = t.counts.rows - self._rows0
        self.rec["ok"] = exc[0] is None
        t._stack.s.pop()
        t.spans.append(self.rec)
        return False


class TimedLake:
    """Proxy around a SeriesLake: times each ``fetch`` as a
    ``sources.lake.fetch`` span and delegates everything else."""

    def __init__(self, lake, tracer: Tracer):
        self._lake = lake
        self._tracer = tracer

    def fetch(self, spark, pattern, from_ts, until_ts, **kw):
        with self._tracer.span("sources.lake.fetch", pattern=pattern):
            return self._lake.fetch(spark, pattern, from_ts, until_ts, **kw)

    def __getattr__(self, name):
        return getattr(self._lake, name)
