"""Build the benchmark's inputs once per checkout.

    python3 perfbench/build.py <data_dir>

Writes, into a temporary sibling that is renamed to ``<data_dir>`` only
when everything succeeded:

- ``sf0.1/``: the deterministic corpus of ``datagen.py``;
- ``sf1/``: the ten-copy decade of ``scripts/make_sf1_synthetic.py``
  built from that corpus;
- ``oracle/<probe>.parquet``: the DuckDB oracle result of every query
  in the mixes at the scale its workload reads, so each run checks its
  outputs without re-running DuckDB (the geo and clustering oracles
  alone take tens of seconds);
- ``build.json``: build timings.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())
sys.path.insert(0, HERE)

import common  # noqa: E402
import datagen  # noqa: E402
import mixes  # noqa: E402


def duckdb_views(sf_dir: str):
    """DuckDB connection over ``sf_dir``; tables may be single parquet
    files (the generated corpus) or directories of part files (sf1)."""
    import duckdb

    from data_and_analytics_etl_spark.catalog import TABLES, table_path
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def main(out: str) -> None:
    work = os.path.join(common.WORK_DIR, "build")
    common.spark_env(work)
    import pyarrow.parquet as pq

    from data_and_analytics_etl_spark.queries import REGISTRY
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    datagen.write(os.path.join(tmp, "sf0.1"))
    t1 = time.perf_counter()

    spec = importlib.util.spec_from_file_location(
        "make_sf1_synthetic",
        os.path.join(os.getcwd(), "scripts", "make_sf1_synthetic.py"))
    sf1 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sf1)
    sf1.SRC = os.path.join(tmp, "sf0.1")
    sf1.OUT = os.path.join(tmp, "sf1")
    from data_and_analytics_etl_spark.session import get_spark
    # the script asks for local[16] and the JVM's default heap; its
    # getOrCreate() reuses this session instead
    spark = get_spark("perfbench-build", extra_conf=common.spark_conf(work))
    jvm = spark.sparkContext._gateway.proc
    sf1.main()
    spark.stop()
    jvm.stdin.close()
    jvm.wait()
    t2 = time.perf_counter()

    os.makedirs(os.path.join(tmp, "oracle"))
    for w in mixes.QUERY_WORKLOADS.values():
        con = duckdb_views(os.path.join(tmp, w.scale))
        for bench_id in w.queries:
            probe = mixes.PROBES[bench_id]
            sql = REGISTRY[probe].oracle
            if sql is None:
                continue
            pq.write_table(con.execute(sql).arrow(),
                           os.path.join(tmp, "oracle", f"{probe}.parquet"))
    t3 = time.perf_counter()

    with open(os.path.join(tmp, "build.json"), "w") as f:
        json.dump({"corpus_s": t1 - t0, "sf1_build_s": t2 - t1,
                   "oracle_s": t3 - t2}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1])
