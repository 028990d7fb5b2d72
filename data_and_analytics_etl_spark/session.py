"""SparkSession factory with the engine's scale posture baked in.

The conf profile is the 100 TB design stance (SURVEY §4.3 "100 TB
posture"): AQE on (skew-join splitting, partition coalescing, runtime
SMJ→broadcast), Arrow for any Python exchange, UTC session time,
size-capped output files (the reference's 16 MB Snowflake cap,
util.py:51-52, generalized as ``maxRecordsPerFile``/``maxPartitionBytes``).

On a real cluster only ``master`` and memory sizing change; every query in
this repo is declarative (DataFrame/SQL) so Catalyst re-plans physical
strategy per deployment.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

#: Runtime confs applied even to an externally-provided session (driver
#: harness hands us one) — everything here is settable post-startup.
RUNTIME_CONF: dict[str, str] = {
    # Determinism: all timestamp rendering pinned to UTC (SURVEY §7.4).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime partition coalescing, skew-join
    # splitting, and SMJ→broadcast conversion. Core of the scale posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for pandas UDFs / toPandas (10-100x over
    # row-at-a-time pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: engine contract is permissive casts + NULL on error,
    # matching the schemaless-JSON tolerance of the reference dataflow.
    "spark.sql.ansi.enabled": "false",
    # Shuffle width sized to the local test profile (runtime-settable,
    # so a driver-owned session gets it too — the Spark default of 200
    # made every stateful streaming probe pay 6x the task-launch
    # overhead for the same data). AQE coalesces below this at runtime;
    # a real cluster deployment overrides upward via get_spark().
    "spark.sql.shuffle.partitions": "32",
    # Historical testdata stored events.ts as TIMESTAMP(NANOS), which
    # Spark's reader rejects unless surfaced as int64 nanos; current
    # testdata is µs (NTZ). Keep the conf: it is a no-op on µs files and
    # catalog.normalize_event_timestamps handles every encoding the
    # driver has shipped (ns-long, µs-NTZ, µs-UTC).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Startup-only confs (must be set before the JVM context exists).
STARTUP_CONF: dict[str, str] = {
    # Broadcast threshold: generous for local test scale; AQE still
    # upgrades larger joins at runtime from observed sizes.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ~128 MB scan splits — the parquet-side analog of the reference's
    # adaptive batch sizing (util.py:59-85).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
    "spark.ui.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the settable-any-time profile to an existing session.

    A key the host harness refuses (a locked conf) is reported with
    ``warnings.warn`` and skipped; the remaining keys are still set.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            warnings.warn(f"runtime conf {k}={v} refused: {exc}",
                          RuntimeWarning, stacklevel=2)
    return spark


def get_spark(app_name: str = "data-and-analytics-etl-spark",
              cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine session with the full conf profile."""
    n = cpus or default_parallelism()
    b = SparkSession.builder.master(f"local[{n}]").appName(app_name)
    conf = dict(STARTUP_CONF)
    conf.update(RUNTIME_CONF)  # includes the 32-partition shuffle width
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    return apply_runtime_conf(spark)
