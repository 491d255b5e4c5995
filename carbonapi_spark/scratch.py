"""Request-scoped scratch caching.

Operators sometimes persist a small intermediate that the rest of their
plan references more than once (e.g. the candidate-pair table in
``datapipe.dedup.jaccard_verify``). A bare ``DataFrame.persist()`` never
leaves Spark's ``CacheManager``: in a long-lived service each request
leaks one cached-plan entry, storage memory fills with orphaned blocks,
and — worse — *every* subsequent query pays for it at planning time,
because ``CacheManager.useCachedData`` scans all registered entries for
subtree matches on every plan. Measured in this repo's bench: after ~200
query executions the per-query latency of unrelated plans had drifted
2-3x.

The fix is the same shape the reference uses for its per-request
fetch/response caches (``cache/cache.go``: caches are owned by the
request path and expire): a persisted scratch DataFrame is *tracked*,
and the request boundary (HTTP handler, bench harness, test fixture)
calls :func:`release` when the response has been materialized.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Thread-local: the HTTP server handles requests on a thread per
# connection (ThreadingHTTPServer), and release() runs in the handler's
# finally — a shared module-global list would let one request's release
# unpersist DataFrames a concurrent request just tracked and still needs
# (correct results, but the persist guarantee silently lost + cache
# thrash). Each thread owns its tracked list; the bench/test harnesses
# are single-threaded so they see the same behavior as before.
_LOCAL = threading.local()


def _tracked() -> list[DataFrame]:
    lst = getattr(_LOCAL, "tracked", None)
    if lst is None:
        lst = _LOCAL.tracked = []
    return lst


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for release at the request boundary
    (this thread's request — tracking is per-thread)."""
    df = df.persist()
    _tracked().append(df)
    return df


def memo() -> dict:
    """Request-scoped key-value scratch for THIS thread, cleared by
    :func:`release` with everything else at the request boundary.

    Lets one logical operation that is invoked several times within a
    request (a replayed append, a probe repeated around a maintenance
    op) re-use expensive DERIVED state — a tracked signature table, a
    collected probe-row set — without any cross-request survival: the
    bench and the HTTP handler both call ``release()`` per query, so
    nothing here outlives the request that computed it (the
    no-result-caching-across-runs rule stays intact by construction)."""
    d = getattr(_LOCAL, "memo", None)
    if d is None:
        d = _LOCAL.memo = {}
    return d


def reuse(key, df: DataFrame, build):
    """``build()``'s value, shared within THIS thread's request by every
    call whose ``key`` matches and whose ``df`` plan gives the same
    result (``sameResult`` canonicalizes expression ids, so two
    separately built but identical plans match).  Lets a replayed
    append re-use its encoded delta, and a repeated probe its query-side
    rows, instead of recomputing them; :func:`release` drops the value
    at the request boundary, so nothing is shared across requests."""
    hit = memo().get(key)
    if hit is not None and df._jdf.queryExecution().analyzed().sameResult(
            hit[0].queryExecution().analyzed()):
        return hit[1]
    value = build()
    memo()[key] = (df._jdf, value)
    return value


def release() -> int:
    """Unpersist every scratch DataFrame tracked by THIS thread (and
    drop its request-scoped memo); returns how many were tracked."""
    getattr(_LOCAL, "memo", {}).clear()
    lst = _tracked()
    n = len(lst)
    while lst:
        df = lst.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    return n
