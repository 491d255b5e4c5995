"""Closed-loop HTTP load from one client: each /render request is sent
only after the previous reply has been read in full."""

from __future__ import annotations

import hashlib
import http.client
import time


TIMEOUT_S = 170.0   # below the 180 s a whole run may take


def fetch(port: int, path: str):
    """GET ``path``; returns (status or None, body, error text or None)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read(), None
    except (OSError, http.client.HTTPException) as exc:
        return None, b"", f"{type(exc).__name__}: {exc}"
    finally:
        conn.close()


def closed_loop(port: int, paths: list[str], passes: int) -> list[dict]:
    """``passes`` walks over ``paths``, one request at a time; one record
    per request, in order, with its start (s from the first request's
    start) and latency."""
    records: list[dict] = []
    start = time.perf_counter()
    for seq in range(passes * len(paths)):
        req = seq % len(paths)
        t0 = time.perf_counter()
        status, body, err = fetch(port, paths[req])
        t1 = time.perf_counter()
        records.append({"seq": seq, "req": req, "start": t0 - start,
                        "ms": (t1 - t0) * 1000, "status": status,
                        "error": err, "sha": hashlib.sha256(body).hexdigest()})
    return records
