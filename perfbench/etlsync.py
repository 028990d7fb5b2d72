"""The ETL sync cycle: ``job.handle_event`` against the fake CommCare API.

One cycle is the reference's own workload in three events: a
``cc_to_s3`` backfill pull, an incremental pull of one page from the
committed watermark, and an ``s3_to_cc`` push of payload rows. Each
event is checked: rows landed against records served in the window,
the watermark against the window end, POSTs received against payload
rows.

Tracing wraps the layers ``handle_event`` calls (``rest_source``,
``write_partitioned``, ``CheckpointManifest.commit``, ``rest_sink``)
and the GET transport; ``job.self_s`` is what is left of the
``handle_event`` spans.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request
from contextlib import contextmanager, nullcontext
import numpy as np

from common import Spans
from fake_api import PAGE

HERE = os.path.dirname(os.path.abspath(__file__))
DOMAIN = "bench"
SPECIFIER = "cases"
#: records of the backfill window, and payload rows pushed
BACKFILL = 100_000
PUSH = 5_000

#: per-direction figures of a cycle (per-layer metrics ``etl.<name>``)
DIRECTIONS = ("pull_records_per_s", "incremental_pull_s",
              "push_records_per_s", "landed_bytes_per_source_byte")
LAYERS = ("etl.http_transport.get_calls", "etl.http_transport.get_s",
          "etl.http_transport.retries", "etl.rest.decode_s",
          "etl.sink.write_s", "etl.sink.files_written",
          "etl.sink.hour_partitions", "etl.sink.bytes_written",
          "etl.checkpoint.commit_s", "etl.checkpoint.commits", "job.self_s",
          "etl.rest.sink_s", "etl.rest.push_requests",
          "etl.rest.push_tasks", "api.server_busy_s")


class FakeApi:
    """The fake API process (fake_api.py) serving ``records`` records.
    It builds its records while the caller goes on; ``ready()`` waits
    until it listens."""

    def __init__(self, events_path: str, seed: int, records: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fake_api.py"),
             "--events", events_path, "--seed", str(seed),
             "--records", str(records)],
            stdout=subprocess.PIPE, text=True)

    def ready(self) -> None:
        line = self.proc.stdout.readline()
        if not line.startswith("port "):
            self.stop()
            raise RuntimeError(f"fake API did not start: {line!r}")
        self.base = f"http://127.0.0.1:{int(line.split()[1])}"
        self.url = f"{self.base}/a/{DOMAIN}/api/v0.5/case/"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path) as r:
            return json.loads(r.read())

    def stats(self) -> dict:
        return self._get("/_stats")

    def arm(self) -> None:
        self._get("/_arm")

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait()

    def stamp(self, index: int) -> dt.datetime:
        """indexed_on of record ``index`` (records are served in
        indexed_on order, so a one-record page at that cursor holds it)."""
        env = self._get(f"/a/{DOMAIN}/api/v0.5/case/?indexed_on_end="
                        f"2100-01-01T00:00:00.000000Z&limit=1&cursor={index}")
        raw = env["objects"][0]["indexed_on"].rstrip("Z")
        return dt.datetime.strptime(raw, "%Y-%m-%dT%H:%M:%S.%f")


def payload_dir(root: str) -> str:
    return os.path.join(root, DOMAIN, "payload", SPECIFIER)


def write_payload(root: str, rows: int, files: int, seed: int) -> None:
    """``rows`` push payloads as JSON lines under the specifier prefix."""
    rng = np.random.default_rng(seed + 1)
    d = payload_dir(root)
    os.makedirs(d, exist_ok=True)
    kinds = ["patient", "household", "visit", "referral"]
    for f in range(files):
        with open(os.path.join(d, f"part-{f:05d}.json"), "w") as out:
            for i in range(f, rows, files):
                out.write(json.dumps({
                    "case_id": f"push-{seed:x}-{i:06d}",
                    "case_type": kinds[int(rng.integers(0, 4))],
                    "owner_id": f"owner-{int(rng.integers(0, 500))}",
                    "properties": {"score": str(rng.integers(0, 1000)),
                                   "note": "x" * int(rng.integers(8, 64))},
                }) + "\n")


def _walk_parquet(path: str) -> tuple[int, int, set]:
    """(files, bytes, hour directories) of the parquet under ``path``."""
    files, size, hours = 0, 0, set()
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
                hours.add(d)
    return files, size, hours


class TimedTransport:
    """GET transport wrapper counting page calls and their time."""

    def __init__(self, inner, spans: Spans):
        self.inner, self.spans = inner, spans

    def __call__(self, params: dict) -> dict:
        self.spans.add("get_calls", 1)
        return self.spans.timed("get_s", self.inner, params)


@contextmanager
def traced_layers(spark, spans: Spans):
    """Wrap the layers handle_event calls; restore them on exit."""
    from data_and_analytics_etl_spark import job
    from data_and_analytics_etl_spark.etl.checkpoint import \
        CheckpointManifest
    sc = spark.sparkContext
    orig = (job.rest_source, job.write_partitioned, job.rest_sink,
            CheckpointManifest.commit)

    def rest_sink(*a, **kw):
        group = f"etl-push-{time.monotonic_ns()}"
        sc.setJobGroup(group, "rest_sink")
        try:
            return spans.timed("sink_s", orig[2], *a, **kw)
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker = sc.statusTracker()
            for j in tracker.getJobIdsForGroup(group):
                for s in tracker.getJobInfo(j).stageIds:
                    info = tracker.getStageInfo(s)
                    spans.add("push_tasks", info.numTasks if info else 0)
            sc.setJobGroup("etl", "etl")

    def commit(self, *a, **kw):
        spans.add("commits", 1)
        return spans.timed("commit_s", orig[3], self, *a, **kw)

    job.rest_source = lambda *a, **kw: spans.timed("rest_s", orig[0],
                                                  *a, **kw)
    job.write_partitioned = lambda *a, **kw: spans.timed(
        "write_s", orig[1], *a, **kw)
    job.rest_sink = rest_sink
    CheckpointManifest.commit = commit
    try:
        yield
    finally:
        (job.rest_source, job.write_partitioned, job.rest_sink,
         CheckpointManifest.commit) = orig


def sync_cycle(spark, api: FakeApi, root: str, trace: bool) -> dict:
    """Run one cycle; return its timings, failures and layer metrics."""
    from data_and_analytics_etl_spark import job
    from data_and_analytics_etl_spark.etl.checkpoint import \
        CheckpointManifest
    from data_and_analytics_etl_spark.etl.http_transport import (
        HttpTransport, http_pusher)

    for d in ("case", "_checkpoint"):
        shutil.rmtree(os.path.join(root, DOMAIN, d), ignore_errors=True)
    api.arm()
    ends = [api.stamp(BACKFILL - 1), api.stamp(BACKFILL + PAGE - 1)]
    spans = Spans()
    http = HttpTransport(api.url)
    transport = TimedTransport(http, spans) if trace else http
    failures: list[str] = []
    out: dict = {}
    ckpt = CheckpointManifest(os.path.join(root, DOMAIN), "case")
    pull = {"domain": DOMAIN, "operation_type": "cc_to_s3",
            "api_info": {"case": {"limit": PAGE}}}
    push = {"domain": DOMAIN, "operation_type": "s3_to_cc",
            "specifiers": {SPECIFIER: {"method": "POST"}}}
    s0 = api.stats()
    with traced_layers(spark, spans) if trace else nullcontext():
        stats, landed = s0, {}
        for key, end, want in (("backfill", ends[0], BACKFILL),
                               ("incremental", ends[1], PAGE)):
            t0 = time.perf_counter()
            res = job.handle_event(spark, pull, transport=transport,
                                   data_root=root,
                                   event_time=end + job.LAG)
            out[f"{key}_s"] = time.perf_counter() - t0
            after = api.stats()
            served = after["records_served"] - stats["records_served"]
            rows = (res.get("datasets", {}).get("case", {})
                    .get("rows_landed"))
            if res.get("statusCode") != 200:
                failures.append(f"{key}: {res}")
            elif not rows == served == want:
                failures.append(f"{key}: landed {rows}, served {served}, "
                                f"window holds {want}")
            elif ckpt.read_watermark() != end:
                failures.append(f"{key}: watermark {ckpt.read_watermark()}"
                                f" != window end {end}")
            stats, landed[key] = after, rows or 0
        # the push opens one connection per task; keep the total at nproc
        http.session.close()
        files, landed_bytes, hours = _walk_parquet(
            os.path.join(root, DOMAIN, "case"))
        t0 = time.perf_counter()
        res = job.handle_event(spark, push, transport=http_pusher(api.url),
                               data_root=root)
        out["push_s"] = time.perf_counter() - t0
    s3 = api.stats()
    posts = s3["posts"] - stats["posts"]
    if res.get("statusCode") != 200:
        failures.append(f"push: {res}")
    elif not posts == res["pushed"].get(SPECIFIER) == PUSH:
        failures.append(f"push: {posts} POSTs received, "
                        f"{res['pushed'].get(SPECIFIER)} reported, "
                        f"{PUSH} payload rows")
    out.update({
        "pass_s": out["backfill_s"] + out["incremental_s"] + out["push_s"],
        "directions": {
            "pull_records_per_s": landed["backfill"] / out["backfill_s"],
            "incremental_pull_s": out["incremental_s"],
            "push_records_per_s": PUSH / out["push_s"],
            "landed_bytes_per_source_byte":
                landed_bytes / max(1, stats["bytes_served"]
                                   - s0["bytes_served"]),
        },
        "failures": failures,
        "max_open_connections": s3["max_open_connections"],
    })
    if trace:
        v = spans.values
        pages = v.get("get_calls", 0)
        child = sum(v.get(k, 0.0) for k in
                    ("rest_s", "write_s", "commit_s", "sink_s"))
        out["layers"] = {
            "etl.http_transport.get_calls": pages,
            "etl.http_transport.get_s": v.get("get_s", 0.0),
            "etl.http_transport.retries":
                stats["gets"] - s0["gets"] - pages,
            "etl.rest.decode_s": v.get("rest_s", 0.0) - v.get("get_s", 0.0),
            "etl.sink.write_s": v.get("write_s", 0.0),
            "etl.sink.files_written": files,
            "etl.sink.hour_partitions": len(hours),
            "etl.sink.bytes_written": landed_bytes,
            "etl.checkpoint.commit_s": v.get("commit_s", 0.0),
            "etl.checkpoint.commits": v.get("commits", 0),
            "job.self_s": out["pass_s"] - child,
            "etl.rest.sink_s": v.get("sink_s", 0.0),
            "etl.rest.push_requests": posts,
            "etl.rest.push_tasks": v.get("push_tasks", 0),
            "api.server_busy_s": s3["busy_s"] - s0["busy_s"],
        }
    return out


def zero_layers() -> dict:
    """Every ETL per-layer metric at 0, for the query workloads."""
    names = [*LAYERS, *(f"etl.{d}" for d in DIRECTIONS)]
    return dict.fromkeys(names, 0)
