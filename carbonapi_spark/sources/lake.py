"""The series lake: Parquet-backed storage for the engine.

Replaces the reference's remote-backend "zipper" fan-out
(``zipper/protocols/*``): instead of N storage daemons answering glob
fetches, we own a long Parquet table

    name STRING, ts BIGINT, value DOUBLE

(ideally written partitioned by a time bucket and sorted/bucketed by
``name``). A fetch is then a *declarative scan*:

- glob pattern  -> pushed-down predicate on ``name`` (equality / IN for
  brace-only patterns, RLIKE otherwise — equality and IN reach the Parquet
  row-group filters; RLIKE at minimum prunes via a pushed-down prefix
  ``StartsWith`` we derive from the pattern),
- [from, until) -> range predicate on ``ts`` (partition pruning when the
  lake is laid out by time),
- tag queries (``seriesByTag``) -> predicates over tags parsed from the
  ``;k=v`` name suffix (``expr/tags/helper.go:160`` semantics).

All three are SQL text with the pattern's values as escaped literals.
Fetched frames carry the densified plan as ``df`` so downstream operators
see the reference's dense-vector invariant (gap == NULL row), and the
scan itself as ``raw_df`` for the consumers that densify elsewhere.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, functions as F

from carbonapi_spark.model.consolidation import agg_column
from carbonapi_spark.model.series import NAME, ORD, TS, VALUE, SeriesFrame
from carbonapi_spark.parser.globs import (
    expand_braces, glob_to_java_regex, has_wildcard,
)


def sql_str(s: str) -> str:
    """*s* as a Spark SQL string literal.

    Every backslash and quote is escaped, so no input can end the literal
    early: fetch patterns come straight from the HTTP ``target``.  (The
    lexer reads ``\\'`` as part of the literal whatever
    ``spark.sql.parser.escapedStringLiterals`` says; the values match as
    written under its default, ``false``.)"""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# SQL text of the MAP<STRING,STRING> of graphite tags of the
# ``base;k=v;k2=v2`` names in the ``name`` column; the ``name`` tag always
# exists and holds the base (tags/helper.go:160)
_PARTS = f"split({NAME}, ';')"
TAGS_SQL = (f"map_from_entries(concat("
            f"array(struct('name' AS key, element_at({_PARTS}, 1) AS value)), "
            f"transform(filter(slice({_PARTS}, 2, greatest(size({_PARTS}) - 1, 0)), "
            f"s -> contains(s, '=')), "
            f"s -> struct(split_part(s, '=', 1) AS key, "
            f"substring_index(s, '=', -1) AS value))))")


def tags_expr() -> Column:
    """The tag map of the ``name`` column (``TAGS_SQL``) as a Column."""
    return F.expr(TAGS_SQL)


_TAG_TERM = re.compile(r"^\s*'([^']+)'\s*$|^\s*\"([^\"]+)\"\s*$")
_TAG_EXPR = re.compile(r"^([^=!~]+)\s*(=~|!=~|!=|=)\s*(.*)$")


def tag_predicate(spec: str) -> str:
    """One seriesByTag term -> SQL boolean text over the ``name`` column.

    Grammar per ``expr/functions/seriesByTag/function.go:40``:
    ``tag=value`` exact (empty value matches missing tag), ``tag!=value``,
    ``tag=~regex`` (unanchored at end, anchored at start), ``tag!=~regex``.
    """
    m = _TAG_EXPR.match(spec)
    if not m:
        raise ValueError(f"bad seriesByTag term {spec!r}")
    key, op, val = m.group(1).strip(), m.group(2), m.group(3).strip()
    tag = f"{TAGS_SQL}[{sql_str(key)}]"
    if op == "=":
        if val == "":
            return f"({tag} IS NULL OR {tag} = '')"
        return f"{tag} = {sql_str(val)}"
    if op == "!=":
        return f"({tag} IS NULL OR {tag} != {sql_str(val)})"
    rx = sql_str(val if val.startswith("^") else "^" + val)
    if op == "=~":
        return f"({tag} IS NOT NULL AND {tag} RLIKE {rx})"
    return f"({tag} IS NULL OR NOT ({tag} RLIKE {rx}))"


def glob_prefix(pattern: str) -> str:
    """Literal prefix before the first wildcard (for pushed-down StartsWith)."""
    for i, c in enumerate(pattern):
        if c in "*?[{":
            return pattern[:i]
    return pattern


class SeriesLake:
    """Fetch interface over a long (name, ts, value) DataFrame.

    When the lake is written ``partitionBy(time_partition_col)`` (a coarse
    time bucket like the day, ``ts - ts % 86400``), pass the column name and
    bucket width: fetch() then adds an explicit predicate on it so Catalyst
    prunes whole partition directories — the difference between scanning a
    day and scanning 100 TB.
    """

    def __init__(self, df: DataFrame, step: int = 60,
                 time_partition_col: str | None = None,
                 time_partition_seconds: int = 86400):
        self.df = df
        self.step = step
        # multi-resolution lake: an optional per-row ``step`` column (series
        # written at different retentions/resolutions, like whisper archives
        # or mixed backend steps). fetch() then rescales every matched series
        # to the LCM step, mirroring the reference zipper's
        # ScaleToCommonStep (expr/helper/align.go:76-189).
        self.per_series_step = "step" in df.columns
        self.time_partition_col = (
            time_partition_col if time_partition_col and
            time_partition_col in df.columns else None)
        self.time_partition_seconds = time_partition_seconds

    def _name_predicate(self, pattern: str) -> str:
        """SQL text of the predicate on ``name`` that *pattern* selects.

        Every pattern-derived value enters as an escaped literal
        (``sql_str``), so a pattern can only ever match names."""
        if pattern.startswith("seriesByTag(") and pattern.endswith(")"):
            inner = pattern[len("seriesByTag("):-1]
            terms = []
            for raw in _split_quoted_args(inner):
                m = _TAG_TERM.match(raw)
                term = (m.group(1) or m.group(2)) if m else raw.strip()
                tm = _TAG_EXPR.match(term)
                if (tm and tm.group(1).strip() == "name"
                        and tm.group(2) == "=" and tm.group(3).strip()):
                    # the name tag IS the pre-';' base — plain string ops
                    # instead of building the whole tag map per scanned row,
                    # with a prefix guard that pushes down to Parquet as
                    # StringStartsWith (the map expression never would)
                    val = sql_str(tm.group(3).strip())
                    terms.append(f"(startswith({NAME}, {val}) AND "
                                 f"split_part({NAME}, ';', 1) = {val})")
                else:
                    terms.append(tag_predicate(term))
            return " AND ".join(terms)
        if not has_wildcard(pattern):
            return f"{NAME} = {sql_str(pattern)}"
        exact = expand_braces(pattern)
        if exact is not None:
            # brace-only alternation -> IN, which (unlike rlike) reaches the
            # Parquet row-group filters as an In pushed filter
            return f"{NAME} IN ({', '.join(map(sql_str, exact))})"
        pred = f"{NAME} RLIKE {sql_str(glob_to_java_regex(pattern))}"
        prefix = glob_prefix(pattern)
        if prefix:
            # startswith IS pushed to Parquet (StringStartsWith filter);
            # rlike is evaluated post-scan, so this prunes row groups.
            pred = f"startswith({NAME}, {sql_str(prefix)}) AND {pred}"
        return pred

    def fetch(self, spark, pattern: str, from_ts: int, until_ts: int,
              *, densify: bool = True) -> SeriesFrame:
        """Series matching *pattern* with buckets covering [from, until).

        The scan is one SQL-text ``where`` (name, time range and, on a
        time-partitioned lake, the partition range) and one ``selectExpr``.
        With ``densify`` the frame's ``df`` is the densified plan and its
        ``raw_df`` this scan; terminal frames collect the scan and fill
        gaps on the driver (``render.serialize.collect_series``)."""
        step = self.step
        if self.per_series_step:
            step = self._common_step(pattern, until_ts)
        start = from_ts - from_ts % step
        stop = until_ts + (-until_ts) % step
        if stop <= start:
            stop = start + step
        cond = f"({self._name_predicate(pattern)}) AND {TS} >= {start} " \
               f"AND {TS} < {stop}"
        if self.time_partition_col:
            w = self.time_partition_seconds
            cond += (f" AND `{self.time_partition_col}` "
                     f"BETWEEN {start - start % w} AND {stop - 1}")
        df = self.df.where(cond)
        if self.per_series_step:
            # rescale every series to the LCM step: bucket each raw point
            # and fold with the default consolidation (average, NULL-skipped
            # — ScaleToCommonStep semantics, align.go:176-189)
            bucket = (F.col(TS) - F.col(TS) % F.lit(step)).cast("long").alias(TS)
            df = (df.groupBy(F.col(NAME), F.col(NAME).alias(ORD), bucket)
                  .agg(agg_column("average", F.col(VALUE), F.col(TS), 0.0)
                       .cast("double").alias(VALUE)))
        else:
            df = df.selectExpr(NAME, f"{NAME} AS {ORD}",
                               f"CAST({TS} AS BIGINT) AS {TS}",
                               f"CAST({VALUE} AS DOUBLE) AS {VALUE}")
        frame = SeriesFrame(df, step, start, stop)
        return frame.densify() if densify else frame

    def _common_step(self, pattern: str, until_ts: int) -> int:
        """LCM of the steps of the series matching *pattern*.

        One tiny pushed-down aggregate over the ``step`` column. A
        production lake would keep (name, step) in a small series_meta
        table instead of re-deriving it from the data scan; the plan shape
        (scan → partial distinct → 1-row result) is the same either way.
        """
        rows = (self.df
                .where(f"({self._name_predicate(pattern)}) AND {TS} < {until_ts}")
                .select("step").distinct().collect())
        step = 1
        for r in rows:
            step = step * int(r[0]) // math.gcd(step, int(r[0]))
        return step if rows else self.step


def _split_quoted_args(s: str) -> list[str]:
    """Split `'a','b'` arg text at top-level commas, respecting quotes."""
    out, cur, q = [], [], ""
    for ch in s:
        if q:
            if ch == q:
                q = ""
            cur.append(ch)
        elif ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == ",":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def write_rollups(df: DataFrame, path: str, steps: list[int],
                  methods: list[tuple[str, str]] | None = None,
                  default_method: str = "average",
                  time_partition_seconds: int = 86400) -> None:
    """Materialize coarser archives from a raw (name, ts, value) lake —
    the storage-aggregation step of a whisper-style retention scheme
    ("1m for 1d, 5m for 7d, 1h for 5y"): each ``steps`` entry becomes
    ``{path}/step={s}/`` partitioned by the day bucket, so a year-long
    query scans ~365 coarse rows per series instead of half a million
    raw points.

    ``methods`` mirrors graphite's ``storage-aggregation.conf``: ordered
    (pattern, func) pairs, first match wins, ``default_method``
    otherwise.  Patterns are graphite GLOBS (the engine's pattern
    language — ``*`` does not cross dots, so match a full path like
    ``*.*.count``), not carbon's raw regexes (e.g. counters roll up with 'sum', gauges with 'average',
    '.max' series with 'max').  All candidate consolidations are
    computed in ONE aggregation pass and the per-name method picked with
    a CASE over the (broadcast-literal) patterns — no per-method
    re-scan."""
    funcs = sorted({f for _p, f in (methods or [])} | {default_method})
    for s in steps:
        bucket = (F.col(TS) - F.col(TS) % F.lit(s)).cast("long")
        agged = (df.groupBy(F.col(NAME), bucket.alias(TS))
                 .agg(*[agg_column(f, F.col(VALUE), F.col(TS))
                        .cast("double").alias(f"__{f}") for f in funcs]))
        value = F.col(f"__{default_method}")
        for pat, f in reversed(methods or []):
            value = F.when(F.col(NAME).rlike(glob_to_java_regex(pat)),
                           F.col(f"__{f}")).otherwise(value)
        (agged.select(NAME, TS, value.alias(VALUE))
         .withColumn("day", (F.col(TS) - F.col(TS)
                             % F.lit(time_partition_seconds)).cast("long"))
         .write.mode("overwrite").partitionBy("day")
         .parquet(f"{path}/step={s}"))


def expire_tier(spark, path: str, retention_s: int,
                now: int | None = None,
                time_partition_col: str = "day") -> list[int]:
    """Whisper-style data AGING for one archive tier: drop every
    ``{time_partition_col}=N`` partition directory whose bucket lies
    entirely before ``now - retention_s``.  Deletion is per-PARTITION
    through the Hadoop FileSystem API (works on HDFS/S3/local alike),
    so expiry is a metadata operation — no rows are read, rewritten, or
    shuffled, which is the only affordable shape when the tier holds
    years of data.  Completes the rollup lifecycle: ingest ->
    write_rollups -> TieredLake.select_tier -> expire_tier.

    Returns the dropped bucket values (sorted).  Buckets that merely
    OVERLAP the cutoff are kept (expiry is conservative; the next run
    catches them once fully aged)."""
    import time as _time
    anchor = int(_time.time()) if now is None else int(now)
    cutoff = anchor - retention_s
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    dropped = []
    prefix = time_partition_col + "="
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        try:
            bucket = int(name[len(prefix):])
        except ValueError:
            continue
        # the bucket covers [bucket, bucket + bucket_width); without
        # reading data we know width <= the next bucket's distance, so
        # use the conservative test "bucket + observed max width <=
        # cutoff" via the partition value itself: a day bucket is
        # entirely aged once bucket + 86400 <= cutoff.  Callers with
        # non-day layouts pass retention already padded by one bucket.
        if bucket + 86400 <= cutoff:
            fs.delete(st.getPath(), True)
            dropped.append(bucket)
    return sorted(dropped)


class TieredLake:
    """Whisper-style multi-archive fetch: ``tiers`` is a list of
    (step_seconds, retention_seconds, SeriesLake) ordered finest first.
    A query picks the FINEST tier whose retention covers the requested
    start (``from_ts >= now - retention``) — exactly whisper's archive
    selection — and delegates the fetch to that tier's lake, so query
    cost scales with the RENDERED range, not the raw retention: a
    year-long dashboard panel reads the 1h archive's ~9k points per
    series while the raw tier keeps serving zoomed-in views.

    ``now`` anchors retention windows (defaults to the wall clock;
    injectable for deterministic tests/replays)."""

    def __init__(self, tiers: list[tuple[int, int, SeriesLake]],
                 now: int | None = None):
        if not tiers:
            raise ValueError("TieredLake needs at least one tier")
        self.tiers = sorted(tiers, key=lambda t: t[0])
        self.now = now

    def select_tier(self, from_ts: int, now: int | None = None) -> int:
        """Index of the finest tier whose retention covers ``from_ts``;
        the coarsest tier serves anything older than every retention."""
        import time as _time
        anchor = now if now is not None else (
            self.now if self.now is not None else int(_time.time()))
        for i, (_step, retention, _lake) in enumerate(self.tiers):
            if from_ts >= anchor - retention:
                return i
        return len(self.tiers) - 1

    def fetch(self, spark, pattern: str, from_ts: int, until_ts: int,
              *, densify: bool = True, now: int | None = None):
        _step, _ret, lake = self.tiers[self.select_tier(from_ts, now)]
        return lake.fetch(spark, pattern, from_ts, until_ts,
                          densify=densify)
