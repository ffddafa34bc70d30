"""Per-microbatch, per-partition lineage + throughput metrics.

Generalizes the reference's BatchProcessed{batch_number, rows_count}
event (/root/reference/src/types.rs:413-418) and PipelineMetrics
accumulation (/root/reference/src/pipeline/mod.rs:289-315) into a
queryable table: one row per (run, batch, bucket) with the event count
and LSN range applied, the bucket's resulting row count, plus
batch-level wall time and commit version. Reading it back answers
"which partition applied which LSN range in which commit" — the audit
trail for exactly-once claims.

Written DRIVER-SIDE with pyarrow: every number here is already on the
driver (the prescan's per-bucket stats, the merge's footer row counts),
so materializing the audit row costs zero Spark jobs — the apply hot
path stays a single full pass per microbatch.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

LINEAGE_SCHEMA = (
    "run_id string, batch_id long, bucket int, n_events long, "
    "min_lsn long, max_lsn long, n_rows long, table_version long, "
    "wall_ms long, committed_at timestamp"
)

_ARROW_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("batch_id", pa.int64()),
        ("bucket", pa.int32()),
        ("n_events", pa.int64()),
        ("min_lsn", pa.int64()),
        ("max_lsn", pa.int64()),
        ("n_rows", pa.int64()),
        ("table_version", pa.int64()),
        ("wall_ms", pa.int64()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
    ]
)


def write_lineage(
    lineage_dir: str,
    per_bucket: dict[int, dict[str, int]],
    rows_per_bucket: dict[int, int],
    run_id: str,
    batch_id: int,
    table_version: int,
    wall_ms: int,
) -> None:
    """Append one parquet file of per-bucket audit rows (driver-side).

    per_bucket: bucket -> {"n": events, "min_lsn": .., "max_lsn": ..}
    (the apply path's stats action); rows_per_bucket: bucket -> state
    rows after the commit (merge footer counts)."""
    os.makedirs(lineage_dir, exist_ok=True)
    now = int(time.time() * 1_000_000)
    buckets = sorted(per_bucket)
    table = pa.table(
        {
            "run_id": [run_id] * len(buckets),
            "batch_id": [batch_id] * len(buckets),
            "bucket": buckets,
            "n_events": [per_bucket[b]["n"] for b in buckets],
            "min_lsn": [per_bucket[b]["min_lsn"] for b in buckets],
            "max_lsn": [per_bucket[b]["max_lsn"] for b in buckets],
            "n_rows": [rows_per_bucket.get(b) for b in buckets],
            "table_version": [table_version] * len(buckets),
            "wall_ms": [wall_ms] * len(buckets),
            "committed_at": pa.array([now] * len(buckets), pa.timestamp("us", tz="UTC")),
        },
        schema=_ARROW_SCHEMA,
    )
    pq.write_table(
        table,
        os.path.join(lineage_dir, f"batch-{batch_id}-{uuid.uuid4().hex[:8]}.parquet"),
    )


def read_lineage(spark, lineage_dir: str) -> DataFrame:
    return spark.read.schema(LINEAGE_SCHEMA).parquet(
        os.path.join(lineage_dir, "*")
    )
