"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload relational_sf1 --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the inputs
(build.py, minutes); later runs reuse them. One client keeps one
operation in flight against Spark at ``local[nproc]``. The last stdout
line is the result: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The full artifact, with host provenance, tails and
sample counts, goes to ``perfbench/.out/``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import common  # noqa: E402
import etlsync  # noqa: E402
import mixes  # noqa: E402

WORKLOADS = (*mixes.QUERY_WORKLOADS, "etl_sync")
#: the program files a run needs from the checkout
REQUIRED = ("data_and_analytics_etl_spark/job.py",
            "scripts/make_sf1_synthetic.py", "tests/oracle.py")
E2E = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
SETUP_REPEATS = 3


def layer_unit(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_per_source_byte", "ratio"),
                         ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def warm_up(spark, sf_dir: str | None, payload: str | None) -> float:
    """The repeatable part of set-up: register the tables a query
    workload reads (schemas re-inferred) or read the ETL push payload,
    then run one small job. Returns its seconds."""
    from data_and_analytics_etl_spark import catalog
    t0 = time.perf_counter()
    if sf_dir:
        catalog._SCHEMA_CACHE.clear()
        catalog.register_all(spark, sf_dir)
    if payload:
        spark.read.json(payload).count()
    spark.range(2_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def warm_python_workers(spark) -> float:
    """Start one Python worker per core (pandas and Arrow imported), as
    the mapInPandas query and the push tasks need. Returns its seconds."""
    t0 = time.perf_counter()
    spark.range(0, 4000, 1, common.nproc()).mapInPandas(
        lambda batches: batches, "id long").count()
    return time.perf_counter() - t0


def build_inputs() -> tuple[dict, float]:
    """build.json of the inputs, building them first if absent."""
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(common.DATA_DIR, "build.json")):
        subprocess.run([sys.executable, os.path.join(HERE, "build.py"),
                        common.DATA_DIR], stdout=sys.stderr, check=True)
    with open(os.path.join(common.DATA_DIR, "build.json")) as f:
        return json.load(f), time.perf_counter() - t0


def run(args) -> dict:
    build, build_s = build_inputs()
    host = common.HostWindow()
    work = os.path.join(common.WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    common.spark_env(work)
    wl = mixes.QUERY_WORKLOADS.get(args.workload)
    data = common.DATA_DIR
    etl_root = os.path.join(work, "etl")
    api = None if wl else etlsync.FakeApi(
        os.path.join(data, "sf0.1", "events.parquet"), args.seed,
        etlsync.BACKFILL + etlsync.PAGE)
    spark = None
    try:
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("perfbench", cpus=common.nproc(),
                          extra_conf=common.spark_conf(work))
        jvm = spark.sparkContext._gateway.proc
        spark.sparkContext.setLogLevel("ERROR")
        if api:
            etlsync.write_payload(etl_root, etlsync.PUSH, common.nproc(),
                                  args.seed)
            api.ready()
        # the one-time part of set-up: interpreter, JVM and session
        # start, fake API start, Python workers
        once_s = time.perf_counter() - T_START - build_s
        sf_dir = os.path.join(data, wl.scale) if wl else None
        payload = None if wl else etlsync.payload_dir(etl_root)
        reps = [warm_up(spark, sf_dir, payload)
                for _ in range(SETUP_REPEATS)]
        once_s += warm_python_workers(spark)
        dispatch_s = mixes.job_dispatch_s(spark) if args.trace else None

        rng = random.Random(args.seed)
        passes, failures, attempted = [], [], 0
        t_run = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            if wl:
                order = list(wl.queries)
                rng.shuffle(order)
                p = mixes.run_pass(spark, order, sf_dir,
                                   os.path.join(data, "oracle"),
                                   args.trace, f"p{len(passes)}")
                attempted += len(order)
            else:
                p = etlsync.sync_cycle(spark, api, etl_root, args.trace)
                attempted += 3
            failures += p["failures"]
            passes.append(p)
            now = time.perf_counter()
            if now - t_run + (now - t0) > args.seconds:
                break
        timed_s = time.perf_counter() - t_run
        peak_rss = common.peak_rss_mb(jvm.pid)
        spark_version = spark.version
    finally:
        if api:
            api.stop()
        if spark is not None:
            spark.stop()
            jvm.stdin.close()
            jvm.wait()

    samples = {"setup_s": [once_s + r for r in reps],
               "pass_s": [p["pass_s"] for p in passes],
               "peak_rss_mb": [peak_rss]}
    metrics = {k: {"value": statistics.median(v), "unit": E2E[k]}
               for k, v in samples.items()}
    # per-direction ETL figures, per pass
    directions = {k: [p["directions"][k] for p in passes]
                  for k in (passes[0].get("directions") or {})}
    artifact = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "metrics": {k: {**common.summary(v),
                        "unit": E2E.get(k) or layer_unit(k)}
                    for k, v in {**samples, **directions}.items()},
        "error_rate": len(failures) / attempted,
        "failures": failures,
        "passes": len(passes),
        "wall": {"build_s": build_s, "setup_once_s": once_s,
                 "setup_repeats_s": reps, "timed_s": timed_s,
                 "total_s": time.perf_counter() - T_START},
        "host": {
            **host.close(), "nproc": common.nproc(),
            "master": f"local[{common.nproc()}]",
            "spark_graft_driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "python": platform.python_version(),
            "spark": spark_version, "sf1_build_s": build["sf1_build_s"],
        },
    }
    if api:
        artifact["fake_api_max_open_connections"] = max(
            p["max_open_connections"] for p in passes)
    layers = {}
    if args.trace:
        layers = traced_layers(wl, passes)
        layers["exec.job_dispatch_s"] = dispatch_s
        artifact["layers"] = layers
        artifact["trace"] = trace_report(args, metrics, layers, passes, wl)
    os.makedirs(common.OUT_DIR, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(common.OUT_DIR, name), "w") as f:
        json.dump(artifact, f, indent=1)

    reported = ({k: {"value": v, "unit": layer_unit(k)}
                 for k, v in layers.items()} if args.trace else metrics)
    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures), "metrics": reported}


def traced_layers(wl, passes) -> dict:
    """Median over passes of every per-layer metric; the layers of the
    other kind of workload read 0."""
    all_ids = [b for w in mixes.QUERY_WORKLOADS.values() for b in w.queries]
    if wl:
        per_pass = [mixes.layer_metrics(p["layers"], all_ids)
                    for p in passes]
        per_pass = [{**etlsync.zero_layers(), **q} for q in per_pass]
    else:
        zero = mixes.layer_metrics({}, all_ids)
        per_pass = [{**zero, **p["layers"], **{
            f"etl.{k}": v for k, v in p["directions"].items()}}
            for p in passes]
    return {k: statistics.median(p[k] for p in per_pass)
            for k in per_pass[0]}


def trace_report(args, metrics, layers, passes, wl) -> dict:
    """Share of each timed span the layer spans account for, the spans
    with more than 10% unaccounted, and the tracing overhead against the
    untraced run of the same seed when one exists."""
    if wl:
        cover = {"query pass": (layers["queries.plan_build_s"]
                                + layers["exec.execute_s"])
                 / metrics["pass_s"]["value"]}
    else:
        cover = {"etl cycle": 1 - layers["job.self_s"]
                 / metrics["pass_s"]["value"]}
    report = {"coverage": cover,
              "gaps_over_10pct": [k for k, v in cover.items() if v < 0.9]}
    untraced = os.path.join(
        common.OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]
        flat = [{"pass_s": p["pass_s"], **p.get("directions", {})}
                for p in passes]
        report["overhead"] = {
            k: statistics.median(f[k] for f in flat) - base[k]["median"]
            for k in ("pass_s", "pull_records_per_s", "push_records_per_s")
            if k in base}
    return report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        print(f"perfbench: run from a checkout of the repository; "
              f"missing {missing}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {WORKLOADS}", file=sys.stderr)
        return 2
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
