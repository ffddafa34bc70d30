"""SparkSession factory.

One place configures everything the engine relies on:

- AQE on (runtime re-planning, skew-join splitting) — our complement to
  explicit salting for hot-conversation skew.
- Arrow execution on — the analytics operators' pandas UDFs (dedup,
  ANN) and driver-side pandas transfers move Arrow batches (no per-row
  Python anywhere in the engine; the CDC apply path runs none at all).
- ``spark.sql.shuffle.partitions`` sized to the core count, not the 200
  default: on local[N] a 200-partition shuffle of a small microbatch is
  pure overhead; on a real cluster this is set to ~2-3x total cores.
- Session timezone pinned to UTC so timestamp semantics are stable
  (the reference's Timestamp is DateTime<Utc>,
  /root/reference/src/types.rs:24).

Parallelism is a constructor argument because the scaling-efficiency
benchmark (BASELINE.md) runs the identical job at two parallelism levels
(local[8] vs local[32]) as the sandbox proxy for N vs 4N executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_rs_spark",
    parallelism: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: int N -> local[N]; "*" -> local[*]; None -> env
    SPARK_GRAFT_CPUS or local[*]. On a real cluster this function is a
    no-op passthrough to the spark-submit-provided session: if an active
    session exists with a non-local master it is returned untouched.
    """
    active = SparkSession.getActiveSession()
    if active is not None and not str(
        active.conf.get("spark.master", "local")
    ).startswith("local"):
        return active

    if parallelism is None:
        parallelism = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_MASTER lets the scaling harness point the SAME job at
    # a standalone cluster (spark://...) instead of local[N] — the
    # multi-JVM proxy for executor scale-out (separate heaps, separate
    # GCs). local[N] remains the default everywhere else.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{parallelism}]"
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(parallelism))
        except (TypeError, ValueError):
            shuffle_partitions = max(8, cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # int64-micros timestamps (the Iceberg physical type), NOT the
        # legacy INT96 default: INT96 columns carry no parquet min/max
        # statistics, which would blind the manifest's per-file
        # event-time stats (LakeTable ts_range file skipping) and every
        # reader's row-group pruning on ts predicates.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # CDC envelope scans are CPU-bound (JSON payload parse), not
        # IO-bound: smaller splits keep every core busy even when the
        # binlog arrives as few/small files. 128MB default packs a whole
        # microbatch into 1-2 tasks.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if not master.startswith("local"):
        builder = (
            builder
            # uniform storage (tmpfs/NVMe/object store) + small cached
            # winner sets: waiting 3s per locality level for a slot on
            # the caching executor serializes whole scheduling waves —
            # measured 2x on the CDC apply path (57.8s -> 28.3s at 4
            # executors, BENCH/BASELINE_CLUSTER.md). Run tasks where
            # slots are free.
            .config("spark.locality.wait", "0")
            .config(
                "spark.executor.memory",
                os.environ.get("SPARK_EXECUTOR_MEM", "3g"),
            )
            .config(
                "spark.executor.cores",
                os.environ.get("SPARK_EXECUTOR_CORES", "1"),
            )
            # grab every worker the leg started — the leg IS the fleet
            .config(
                "spark.cores.max",
                os.environ.get("SPARK_GRAFT_CORES_MAX", "1024"),
            )
            # executor python workers must import this package; on a
            # real cluster spark-submit --py-files ships it, on the
            # same-host standalone proxy the repo path is shared
            .config(
                "spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
                + os.pathsep
                + os.environ.get("PYTHONPATH", ""),
            )
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
