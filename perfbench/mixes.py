"""The two query workloads: timed passes, output checks, layer metrics.

Each query runs as its registry probe: the probe fn builds the plan
(``queries.plan_build_s``; b12 runs its label-propagation loop here)
and ``toArrow()`` executes it (``exec.execute_s``). Collecting through
Arrow instead of the ``noop`` sink lets every timed output be checked
against its DuckDB oracle; at sf1 the collect costs about what the noop
save does (warm, 4-core host: b1 1.33 s against 1.21 s, b4 0.96 s
against 0.90 s).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

#: bench id (as named in bench.py) -> registry probe
PROBES = {
    "b1_pricing_summary": "q1_pricing_summary",
    "b2_shipping_priority": "q3_shipping_priority",
    "b3_star_join": "q5_star_join",
    "b4_topk_per_group": "topk_per_group",
    "b5_running_sum": "window_running_agg",
    "b6_cosine_topk": "cosine_topk",
    "b8_minhash_neardup": "dedup_minhash_lsh",
    "b12_dedup_clusters": "dedup_clusters",
    "b13_span_duplication": "corpus_span_duplication",
    "b21_heavy_hitters": "sketch_freq_heavy_hitters",
}


@dataclass(frozen=True)
class QueryWorkload:
    scale: str                 # corpus directory under the data dir
    queries: tuple[str, ...]   # bench ids


QUERY_WORKLOADS = {
    "relational_sf1": QueryWorkload("sf1", (
        "b1_pricing_summary", "b2_shipping_priority", "b3_star_join",
        "b4_topk_per_group", "b5_running_sum")),
    "llm_ops_sf01": QueryWorkload("sf0.1", (
        "b6_cosine_topk", "b8_minhash_neardup", "b12_dedup_clusters",
        "b13_span_duplication", "b21_heavy_hitters")),
}

EXEC_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "input_records")


def _rows(t: pa.Table) -> list[tuple]:
    cols = t.column_names
    return [tuple(d[c] for c in cols) for d in t.to_pylist()]


def check_output(probe: str, got: pa.Table, oracle_dir: str) -> str | None:
    """None when ``got`` equals the probe's cached DuckDB oracle result
    (or, for an oracle-less probe, passes the rows-only check); else a
    one-line reason."""
    from data_and_analytics_etl_spark.queries import REGISTRY
    from tests.oracle import canon_rows
    if REGISTRY[probe].oracle is None:
        return None if got.num_rows > 0 else "rows-only check: no rows"
    want = pq.read_table(os.path.join(oracle_dir, f"{probe}.parquet"))
    if (sorted(map(str.lower, got.column_names))
            != sorted(map(str.lower, want.column_names))):
        return f"columns {got.column_names} != {want.column_names}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != oracle {want.num_rows}"
    if (canon_rows(_rows(got), got.column_names)
            != canon_rows(_rows(want), want.column_names)):
        return "values differ from the oracle"
    return None


def exec_counters(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks, shuffle, spill and scan counters of every job
    in ``group``, read from Spark's status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(EXEC_COUNTERS, 0)
    stage_ids = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(job)
        stage_ids.update(info.stageIds if info else [])
    for sid in stage_ids:
        d = store.lastStageAttempt(sid)
        if d.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += d.numCompleteTasks()
        out["shuffle_write_bytes"] += d.shuffleWriteBytes()
        out["shuffle_read_bytes"] += d.shuffleReadBytes()
        out["spill_bytes"] += d.diskBytesSpilled()
        out["input_records"] += d.inputRecords()
    return out


def job_dispatch_s(spark) -> float:
    """Median round trip of a trivial noop-sink job."""
    def once() -> float:
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    once()
    return sorted(once() for _ in range(5))[2]


def run_pass(spark, order: list[str], sf_dir: str, oracle_dir: str,
             trace: bool, tag: str) -> dict:
    """One pass over ``order``. Returns the pass time (plan build plus
    execution of every query; output checks are untimed), the failed
    queries with reasons and, when tracing, the per-layer metrics."""
    from data_and_analytics_etl_spark.queries import REGISTRY
    sc = spark.sparkContext
    pass_s, failures, layers = 0.0, [], {}
    for bench_id in order:
        probe = PROBES[bench_id]
        spark.catalog.clearCache()
        group = f"{tag}-{bench_id}"
        if trace:
            sc.setJobGroup(group, bench_id)
            persisted = sc._jsc.getPersistentRDDs().size()
        t0 = time.perf_counter()
        try:
            df = REGISTRY[probe].fn(spark, sf_dir)
            t1 = time.perf_counter()
            got = df.toArrow()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            failures.append(f"{bench_id}: {type(exc).__name__}: {exc}"[:300])
            continue
        t2 = time.perf_counter()
        pass_s += t2 - t0
        if trace:
            c = exec_counters(spark, group)
            # persistent RDDs this query left registered after its save
            layers[bench_id] = {
                "plan_build_s": t1 - t0, "execute_s": t2 - t1, **c,
                "persisted_rdds":
                    sc._jsc.getPersistentRDDs().size() - persisted}
        reason = check_output(probe, got, oracle_dir)
        if reason:
            failures.append(f"{bench_id}: {reason}")
    spark.catalog.clearCache()
    return {"pass_s": pass_s, "failures": failures, "layers": layers}


def layer_metrics(layers: dict, bench_ids: list[str]) -> dict[str, float]:
    """Per-layer metrics of one traced pass; every bench id of both
    query workloads is reported, 0 for queries this workload skips."""
    out = {"queries.plan_build_s": 0.0, "exec.execute_s": 0.0,
           "operators.persisted_rdds_leaked": 0}
    out.update({f"exec.{k}": 0 for k in EXEC_COUNTERS})
    for bench_id in bench_ids:
        q = layers.get(bench_id, {})
        out[f"query.{bench_id}.execute_s"] = q.get("execute_s", 0.0)
        out[f"query.{bench_id}.jobs"] = q.get("jobs", 0)
        if not q:
            continue
        out["queries.plan_build_s"] += q["plan_build_s"]
        out["exec.execute_s"] += q["execute_s"]
        out["operators.persisted_rdds_leaked"] += q["persisted_rdds"]
        for k in EXEC_COUNTERS:
            out[f"exec.{k}"] += q[k]
    return out
