"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to an Elasticsearch cluster
(metastore/models.py:146); here the execution engine is Spark, so the
session carries the configuration that matters at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, plan re-opt)
- Arrow for any pandas-UDF exchange (vectorized, not per-row pickle)
- UTC session timezone so timestamp semantics are stable across the
  driver, executors, and external oracles
- shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number a ceiling, not a constant
- a local master lists files on the driver: snapshot reads pass exact
  file lists, which Spark lists as a job of one task per path past 32
  paths; locally that job makes the same stat calls in the same JVM,
  plus its scheduling. Clusters keep Spark's executor-side listing.

`get_spark` and `tune_runtime` apply one table, `runtime_confs`.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_POSITIVE = (r"[1-9][0-9]*", "a positive integer")
_MEMORY = (r"[1-9][0-9]*[kmgt]b?", "a JVM memory size with a unit, like 24g")
_ENV = {  # SPARK_GRAFT_* setting: (default, (pattern, expected))
    "SPARK_GRAFT_CPUS": ("32", _POSITIVE),
    "SPARK_GRAFT_SPLIT_MB": ("128", _POSITIVE),
    "SPARK_GRAFT_DRIVER_MEM": ("24g", _MEMORY),
    "SPARK_GRAFT_RAW_TABLES": ("0", (r"[01]", "unset, 0 (snapshot heads) or 1")),
}


def env_setting(name: str) -> str:
    """A setting's value (default when unset); a malformed one raises
    ValueError naming the variable instead of falling back silently."""
    default, (pattern, expected) = _ENV[name]
    raw = os.environ.get(name, default)
    if not re.fullmatch(pattern, raw.strip(), re.IGNORECASE):
        raise ValueError(f"{name}={raw!r}: expected {expected}")
    return raw.strip()


def runtime_confs(master: str) -> dict[str, str]:
    """The engine's runtime-settable SQL defaults on ``master``."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Spark's default is 200; AQE coalesces further at runtime
        "spark.sql.shuffle.partitions": str(max(int(env_setting("SPARK_GRAFT_CPUS")), 8)),
        # Broadcast anything under 64 MiB — dimension tables (region,
        # nation, supplier, part at catalog scale) should never shuffle.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # ANSI off: x/0 → NULL and bad casts → NULL, matching the
        # permissive semantics of the reference (and the DuckDB oracle).
        "spark.sql.ansi.enabled": "false",
        # Best-effort ONLY (legacy TIMESTAMP(NANOS) parquet as bigint):
        # metastore_spark.ts is schema-adaptive, as a host may reject it
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    if master.startswith("local"):  # see the module docstring
        confs["spark.sql.sources.parallelPartitionDiscovery.threshold"] = "2147483647"
    return confs


def get_spark(
    app_name: str = "metastore-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``$SPARK_MASTER``, else to
    ``local[$SPARK_GRAFT_CPUS]``; the local-only defaults follow it.
    """
    local = f"local[{env_setting('SPARK_GRAFT_CPUS')}]"
    effective_master = master or os.environ.get("SPARK_MASTER") or local
    builder = SparkSession.builder.appName(app_name).master(effective_master)
    confs = {
        # local mode: driver == executor JVM, and Spark's 1g default heap
        # OOMs once tens of queries accumulate cached frames/broadcasts.
        # Launch-only (ignored if a session exists, e.g. a host's).
        "spark.driver.memory": env_setting("SPARK_GRAFT_DRIVER_MEM"),
        # JVM unified-logging warnings (GCLocker retries) print to STDOUT
        # and would corrupt bench.py's one-JSON-line output.
        "spark.driver.extraJavaOptions": "-Xlog:disable",
        # 128 MiB scan splits balance task count and per-task overhead;
        # SPARK_GRAFT_SPLIT_MB overrides it for single-big-file fixtures
        # (a ~100 MB sf1 file otherwise scans as ONE partition).
        "spark.sql.files.maxPartitionBytes": str(int(env_setting("SPARK_GRAFT_SPLIT_MB")) << 20),
        "spark.ui.showConsoleProgress": "false",
        **runtime_confs(effective_master),
    }
    if shuffle_partitions:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if effective_master.startswith("local"):
        # one JVM runs every task PROCESS_LOCAL: waiting for locality only
        # delays dispatch (~60 ms/job measured); clusters keep Spark's 3s
        confs["spark.locality.wait"] = "0"
    for k, v in {**confs, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply `runtime_confs` to a host-built session (`__spark_entry__`)."""
    for k, v in runtime_confs(spark.sparkContext.master).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host — proceed with its value
    return spark
