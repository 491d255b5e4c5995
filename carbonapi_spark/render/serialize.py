"""Serializers: SeriesFrame -> graphite wire formats.

This is the single place a render pipeline calls ``collect()``: everything
upstream is lazy DataFrame algebra, and maxDataPoints consolidation happens
*inside* the plan (a window aggregation appended before collect), so the
data crossing the driver boundary is already capped at
``maxDataPoints * n_series`` points.

Densification of a terminal frame happens here, on the driver: a frame
that still carries its pre-densification plan (``SeriesFrame.raw_df``) is
collected sparse and assembled into dense vectors, so a plain fetch runs
as one Spark job with no exchange.  Frames whose operators read ``df``
were densified in the plan and are collected as they are.

Formats (reference ``expr/types/types.go``):
- JSON  (types.go:120-199): ``[{"target","datapoints":[[v,ts]...],"tags"}]``
- CSV   (types.go:48-86):   ``"name",YYYY-MM-DD HH:MM:SS,value``
- raw   (types.go:282-317): ``name,start,stop,step|v1,v2,...``
- pickle(types.go:200-234): list of dicts
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import pickle
from dataclasses import dataclass

from carbonapi_spark.model.series import NAME, ORD, TS, VALUE, SeriesFrame


@dataclass
class SeriesResult:
    name: str
    start: int
    stop: int
    step: int
    values: list  # None = missing
    tags: dict

    @property
    def path_expression(self) -> str:
        return self.name


def _parse_tags(name: str) -> dict:
    """tags from ';k=v' name suffix; 'name' tag always set
    (expr/tags/helper.go:160)."""
    parts = name.split(";")
    tags = {"name": parts[0]}
    for kv in parts[1:]:
        if "=" in kv:
            k, v = kv.split("=", 1)
            tags[k] = v
    return tags


def consolidate_for_points(frame: SeriesFrame, max_data_points: int) -> SeriesFrame:
    """maxDataPoints consolidation in-plan (ConsolidateJSON, types.go:87-117):
    if the frame would yield more than maxDataPoints per series, re-bucket by
    ceil(n/mdp)*step using the frame's consolidation function."""
    if not max_data_points:
        return frame
    n = frame.n_points()
    if n <= max_data_points:
        return frame
    vpp = math.ceil(n / max_data_points)
    return frame.consolidate_to(frame.step * vpp)


def collect_series(frame: SeriesFrame, max_data_points: int = 0) -> list[SeriesResult]:
    """Execute the plan once; return dense per-series vectors ordered by the
    stable series order (``ord``).

    While ``raw_df`` is set, ``df`` is exactly ``densify(raw_df)``, so the
    sparse plan is collected and the gaps filled here, by the
    ``range(start, stop, step)`` assembly every frame goes through anyway.
    A duplicated (ord, ts) raises, as densify's ``DUPLICATED_MAP_KEY``
    does in the plan."""
    frame = consolidate_for_points(frame, max_data_points)
    src = frame.df if frame.raw_df is None else frame.raw_df
    by_series: dict[tuple, dict] = {}
    for name, ord_, ts, value in src.select(NAME, ORD, TS, VALUE).collect():
        pts = by_series.setdefault((ord_, name), {})
        if ts in pts:
            raise ValueError(f"[DUPLICATED_MAP_KEY] duplicate point at "
                             f"ts={ts} in series {name!r}")
        pts[ts] = value
    out = []
    for (ord_, name) in sorted(by_series):
        pts = by_series[(ord_, name)]
        values = [pts.get(t) for t in range(frame.start, frame.stop, frame.step)]
        out.append(SeriesResult(name, frame.start, frame.stop, frame.step,
                                values, _parse_tags(name)))
    return out


def render_json(series: list[SeriesResult], timestamp_multiplier: int = 1,
                no_null_points: bool = False) -> str:
    payload = []
    for s in series:
        datapoints = []
        t = s.start
        for v in s.values:
            if v is not None and (math.isnan(v) or math.isinf(v)):
                v = None
            if not (no_null_points and v is None):
                datapoints.append([v, t * timestamp_multiplier])
            t += s.step
        payload.append({"target": s.name, "datapoints": datapoints,
                        "tags": s.tags})
    return json.dumps(payload)


def render_csv(series: list[SeriesResult], tz: str = "UTC") -> str:
    lines = []
    for s in series:
        t = s.start
        for v in s.values:
            stamp = _dt.datetime.fromtimestamp(t, _dt.timezone.utc) \
                .strftime("%Y-%m-%d %H:%M:%S")
            vs = "" if v is None or (isinstance(v, float) and math.isnan(v)) \
                else repr(float(v))
            lines.append(f'"{s.name}",{stamp},{vs}')
            t += s.step
    return "\n".join(lines) + ("\n" if lines else "")


def render_raw(series: list[SeriesResult]) -> str:
    lines = []
    for s in series:
        vals = ",".join("None" if v is None else repr(float(v)) for v in s.values)
        lines.append(f"{s.name},{s.start},{s.stop},{s.step}|{vals}")
    return "\n".join(lines) + ("\n" if lines else "")


def render_pickle(series: list[SeriesResult]) -> bytes:
    payload = [{
        "name": s.name,
        "pathExpression": s.path_expression,
        "values": [math.nan if v is None else v for v in s.values],
        "start": s.start,
        "end": s.stop,
        "step": s.step,
    } for s in series]
    return pickle.dumps(payload, protocol=2)


# ----------------------------------------------------------------------
# protobuf (carbonapi_v2_pb / carbonapi_v3_pb wire formats)
# ----------------------------------------------------------------------
# Hand-rolled proto3 encoding — the messages are simple enough (varints,
# fixed64 packed, length-delimited) that a protobuf dependency isn't
# warranted. Schemas:
#   v3 MultiFetchResponse{ metrics=1 rep FetchResponse{ name=1,
#     pathExpression=2, consolidationFunc=3, startTime=4, stopTime=5,
#     stepTime=6, xFilesFactor=7 fixed32, highPrecisionTimestamps=8,
#     values=9 packed fixed64, appliedFunctions=10 rep,
#     requestStartTime=11, requestStopTime=12 } }
#     (vendor/github.com/go-graphite/protocol/carbonapi_v3_pb)
#   v2 FetchResponse{ name=1, startTime=2, stopTime=3, stepTime=4,
#     values=5 packed fixed64, isAbsent=6 packed bool } — NaN encoded as
#     (0.0, isAbsent=true), per MarshalProtobufV2 (types.go:235-266).

import struct as _struct


def _varint(n: int) -> bytes:
    out = bytearray()
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint(field << 3 | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _str(field: int, s: str) -> bytes:
    return _len_delim(field, s.encode("utf-8")) if s else b""


def _vint(field: int, n: int) -> bytes:
    return _tag(field, 0) + _varint(n) if n else b""


def _packed_f64(field: int, vals: list[float]) -> bytes:
    if not vals:
        return b""
    return _len_delim(field, _struct.pack(f"<{len(vals)}d", *vals))


def render_protobuf_v3(series: list[SeriesResult]) -> bytes:
    """carbonapi_v3_pb MultiFetchResponse (MarshalProtobufV3, types.go:268)."""
    out = bytearray()
    for s in series:
        m = bytearray()
        m += _str(1, s.name)
        m += _str(2, s.path_expression)
        m += _str(3, "average")
        m += _vint(4, s.start)
        m += _vint(5, s.stop)
        m += _vint(6, s.step)
        m += _packed_f64(9, [math.nan if v is None else float(v)
                             for v in s.values])
        m += _vint(11, s.start)
        m += _vint(12, s.stop)
        out += _len_delim(1, bytes(m))
    return bytes(out)


def render_protobuf_v2(series: list[SeriesResult]) -> bytes:
    """carbonapi_v2_pb MultiFetchResponse (MarshalProtobufV2, types.go:235):
    NaN/None becomes value 0.0 with isAbsent[i]=true."""
    out = bytearray()
    for s in series:
        m = bytearray()
        m += _str(1, s.name)
        m += _vint(2, s.start)
        m += _vint(3, s.stop)
        m += _vint(4, s.step)
        absent = [v is None or (isinstance(v, float) and math.isnan(v))
                  for v in s.values]
        m += _packed_f64(5, [0.0 if a else float(v)
                             for a, v in zip(absent, s.values)])
        if s.values:
            m += _len_delim(6, bytes(bytearray(1 if a else 0 for a in absent)))
        out += _len_delim(1, bytes(m))
    return bytes(out)
