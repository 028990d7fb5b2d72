"""Fake CommCare API for the ETL workloads, run as its own process.

    python3 perfbench/fake_api.py --events <events.parquet> --seed N --records N

Serves ``--records`` case records built from the ``events`` table as
the envelope pages ``job.handle_event`` pulls (``indexed_on_start`` is
exclusive, ``indexed_on_end`` inclusive, ``cursor`` is an absolute
record offset) and accepts the per-row POSTs of the push path. Prints
``port <n>`` once it listens; ``GET /_stats`` returns its counters and
``GET /_arm`` re-arms the failing pages for the next sync cycle.

Speed matters because the benchmark must not measure its own fake:
keep-alive HTTP/1.1, Nagle off, every response written with one
``write`` (a header-then-body pair of writes stalls on delayed ACKs),
per-record JSON serialized once at start. ``server_busy_s`` sums the
handler time of every request. A seeded 2% of the pages fail once with
a 503 so the client's retry path runs.
"""

from __future__ import annotations

import argparse
import bisect
import datetime as dt
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np
import pyarrow.parquet as pq

ISO_Z = "%Y-%m-%dT%H:%M:%S.%fZ"
#: records per page
PAGE = 1000
#: records an hour: a 100,000-record backfill spans about 190 hourly
#: partitions
PER_HOUR = 526
FAIL_SHARE = 0.02


def build_records(events_path: str, seed: int, n: int):
    """(sorted indexed_on datetimes, per-record JSON bytes, failing
    page offsets) for ``n`` records built from the events table."""
    rng = np.random.default_rng(seed)
    ev = pq.read_table(events_path, columns=[
        "event_id", "user_id", "event_type", "value", "props"]).to_pydict()
    rows = rng.integers(0, len(ev["event_id"]), n)
    t0 = dt.datetime(2024, 3, 1) + dt.timedelta(
        hours=int(rng.integers(0, 24 * 28)))
    step_us = 3_600_000_000 // PER_HOUR
    jitter = rng.integers(0, step_us, n)
    zulu = rng.random(n) < 0.5
    closed = rng.random(n) < 0.3
    quoted = {}  # JSON string literal of each distinct text value

    def q(v) -> str:
        if v not in quoted:
            quoted[v] = json.dumps(v)
        return quoted[v]

    stamps, blobs = [], []
    for i in range(n):
        ts = t0 + dt.timedelta(microseconds=int(i * step_us + jitter[i]))
        r = int(rows[i])
        iso = ts.isoformat(timespec="microseconds")
        blobs.append((
            f'{{"case_id": "{seed:x}-{i:07d}", "domain": "bench", '
            f'"indexed_on": "{iso}{"Z" if zulu[i] else ""}", '
            f'"server_date_modified": "{iso}Z", '
            f'"case_type": {q(ev["event_type"][r])}, '
            f'"closed": {"true" if closed[i] else "false"}, '
            f'"properties": {{"user_id": "{ev["user_id"][r]}", '
            f'"value": "{ev["value"][r]}", "props": {q(ev["props"][r])}}}}}'
        ).encode())
        stamps.append(ts)
    # the last page is the incremental pull's; only backfill pages fail
    pages = n // PAGE - 1
    failing = {int(p) * PAGE for p in rng.choice(
        pages, max(1, round(pages * FAIL_SHARE)), replace=False)}
    return stamps, blobs, failing


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True
    #: close keep-alive connections idle this long (seconds)
    timeout = 5

    def log_message(self, *a):
        pass

    def setup(self):
        super().setup()
        self.server.note_connection(+1)

    def finish(self):
        super().finish()
        self.server.note_connection(-1)

    def _reply(self, code: int, body: bytes) -> None:
        head = (f"HTTP/1.1 {code} {'OK' if code == 200 else 'Error'}\r\n"
                f"Content-Type: application/json\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode()
        self.wfile.write(head + body)

    def do_GET(self):
        t0 = time.perf_counter()
        url = urlparse(self.path)
        srv = self.server
        if url.path == "/_stats":
            with srv.lock:
                body = json.dumps(srv.stats).encode()
            self._reply(200, body)
            return
        if url.path == "/_arm":
            with srv.lock:
                srv.failing = set(srv.fail_pages)
            self._reply(200, b"{}")
            return
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        lo = q.get("indexed_on_start")
        start = (bisect.bisect_right(
            srv.stamps, dt.datetime.strptime(lo, ISO_Z)) if lo else 0)
        end = bisect.bisect_right(
            srv.stamps, dt.datetime.strptime(q["indexed_on_end"], ISO_Z))
        offset = int(q.get("cursor") or start)
        limit = int(q.get("limit", 100))
        with srv.lock:
            fail = offset in srv.failing
            srv.failing.discard(offset)
        if fail:
            self._reply(503, b'{"error": "try again"}')
            srv.count(t0, gets=1, failed_gets=1)
            return
        stop = min(offset + limit, end)
        nxt = str(stop) if stop < end else ""
        body = (b'{"meta": {"limit": %d, "next": "%s", "total_count": %d}, '
                b'"objects": [' % (limit, nxt.encode(), end - start)
                + b", ".join(srv.blobs[offset:stop]) + b"]}")
        self._reply(200, body)
        srv.count(t0, gets=1, records_served=stop - offset,
                  bytes_served=len(body))

    def do_POST(self):
        t0 = time.perf_counter()
        n = int(self.headers.get("Content-Length", 0))
        json.loads(self.rfile.read(n))
        self._reply(200, b'{"form_id": "ok"}')
        self.server.count(t0, posts=1)


class Server(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, stamps, blobs, failing):
        super().__init__(("127.0.0.1", 0), Handler)
        self.stamps, self.blobs, self.fail_pages = stamps, blobs, failing
        self.failing = set(failing)
        self.lock = threading.Lock()
        self.stats = {"gets": 0, "failed_gets": 0, "records_served": 0,
                      "bytes_served": 0, "posts": 0, "busy_s": 0.0,
                      "open_connections": 0, "max_open_connections": 0}

    def count(self, t0: float, **inc) -> None:
        busy = time.perf_counter() - t0
        with self.lock:
            for k, v in inc.items():
                self.stats[k] += v
            self.stats["busy_s"] += busy

    def note_connection(self, delta: int) -> None:
        with self.lock:
            s = self.stats
            s["open_connections"] += delta
            s["max_open_connections"] = max(s["max_open_connections"],
                                            s["open_connections"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--records", type=int, required=True)
    a = ap.parse_args()
    srv = Server(*build_records(a.events, a.seed, a.records))
    print(f"port {srv.server_address[1]}", flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
