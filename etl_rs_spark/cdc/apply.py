"""The batch-apply core: prescan -> normalize -> LWW dedup -> MERGE.

This is the pure function at the center of the engine — the Spark
rendition of the reference's extract->transform->load pipeline body
(/root/reference/src/pipeline/mod.rs:89-212), shaped so it is equally
callable from a batch job and from Structured Streaming's foreachBatch.
Everything is declarative DataFrame work; the only driver-side data are
the prescan's O(num_buckets) stats rows and the commit metadata.

Per-microbatch execution shape (the scaling-efficiency budget):

1. **dedup job** — the ONLY full pass over the envelope: LWW dedup of
   the opaque envelope (payload rides as an unparsed string), carrying
   per-key event stats (count + LSN range) as three extra fixed-width
   aggregation buffers (operators/dedup.STATS_COLS). The winners —
   the batch's smallest representation — are persisted; the same
   action also collects the payload-key union from them.
2. **stats job** — a tiny aggregation over the CACHED winners: the
   table bucket is a pure function of the dedup key, so per-bucket
   event counts + LSN ranges (lineage, merge partition pruning, the
   skew-aware write plan) reduce to groupBy(bucket) over one row per
   key. No envelope re-read.
3. **write job** — from_json parse + Column-expression coercion
   (functions/coercion.py, JVM-side, no Python worker) on winners only
   (10-100x fewer rows than events) -> union with the touched
   buckets' current rows -> LWW merge agg -> skew-aware bucketed
   write.
4. driver bookkeeping — threaded footer reads, one manifest JSON, and
   a driver-side (pyarrow) lineage append. No further Spark jobs.

Round 1 ran two extra full recomputations per batch (a separate key
discovery scan and a bucket-stats pass that re-ran the dedup) — those
held N->4N scaling efficiency at 0.659; round 2 also folded the
remaining separate prescan pass into the dedup aggregation itself.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_rs_spark.cdc.lineage import write_lineage
from etl_rs_spark.cdc.normalize import (
    coerce_columns,
    normalize_events,
)
from etl_rs_spark.config import CdcConfig
from etl_rs_spark.errors import ConfigError
from etl_rs_spark.operators.dedup import STATS_COLS, lww_dedup
from etl_rs_spark.sinks.lake import LakeTable, bucket_expr


def _dlq_invalid_expr(cfg: CdcConfig):
    """True for envelope rows that cannot participate in the LWW merge:
    any null merge-key/order field, or a payload that is present but not
    a JSON object (json_object_keys -> NULL for malformed/non-object).
    Pure JVM Column exprs — rides the dedup scan for free."""
    bad = F.lit(False)
    for c in (*cfg.merge_keys, *cfg.order_cols):
        bad = bad | F.col(c).isNull()
    return bad | (
        F.col("payload").isNotNull()
        & F.json_object_keys(F.col("payload")).isNull()
    )


def _write_dead_letters(
    envelope: DataFrame, cfg: CdcConfig, run_id: str, batch_id: int
) -> None:
    """Quarantine the invalid rows (rare path — launched only when the
    observed invalid count is nonzero): original envelope columns plus
    a reason and the (run, batch) provenance, written as parquet to the
    batch's own ``dlq_batch=<run hash>-<batch id>`` directory. The write
    replaces that directory, so a retried or replayed batch leaves its
    dead letters once, not once per attempt. The run id (an absolute
    checkpoint path under StreamDriver) is hashed, so the directory name
    stays short however long the path is."""
    _adopt_flat_dead_letters(cfg.dead_letter_dir)
    run = hashlib.sha1(run_id.encode()).hexdigest()[:16]
    null_key = F.lit(False)
    for c in (*cfg.merge_keys, *cfg.order_cols):
        null_key = null_key | F.col(c).isNull()
    (
        envelope.where(_dlq_invalid_expr(cfg))
        .select(
            "*",
            F.when(null_key, F.lit("null_key_field"))
            .otherwise(F.lit("unparseable_payload"))
            .alias("dlq_reason"),
            F.lit(run_id).alias("dlq_run_id"),
            F.lit(batch_id).alias("dlq_batch_id"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(cfg.dead_letter_dir, f"dlq_batch={run}-{batch_id}"))
    )


def _adopt_flat_dead_letters(dlq_dir: str) -> None:
    """Move the parquet files an older append-only layout left at the
    queue's root into ``dlq_batch=legacy``. Next to ``dlq_batch=``
    directories, ``spark.read.parquet(dlq_dir)`` reads only those, so
    rows left at the root would silently drop out of the queue."""
    flat = glob.glob(os.path.join(glob.escape(dlq_dir), "*.parquet"))
    if flat:
        legacy = os.path.join(dlq_dir, "dlq_batch=legacy")
        os.makedirs(legacy, exist_ok=True)
        for path in flat:
            os.replace(path, os.path.join(legacy, os.path.basename(path)))


def apply_batch(
    table: LakeTable,
    envelope: DataFrame,
    batch_id: int,
    run_id: str,
    cfg: CdcConfig | None = None,
    coerce_spec: dict[str, str] | None = None,
    lineage_dir: str | None = None,
) -> dict[str, Any]:
    """Apply one microbatch of CDC envelope events to the table.

    Idempotent: re-applying the same (run_id, batch_id) is skipped by the
    table's commit log; re-applying the same *events* under any other id
    is absorbed by the LWW merge. Either way state converges — that is
    the exactly-once story under foreachBatch's at-least-once replay.
    """
    t0 = time.monotonic()
    # CPU baseline for the load-immune cost metric (apply_cpu_ms):
    # wall-clock swings with external host load, CPU spent does not
    from etl_rs_spark.cpu import spark_cpu_ms

    cpu0 = spark_cpu_ms(table.spark)
    cfg = cfg or CdcConfig()

    # exactly-once fast path: an already-committed (run_id, batch_id)
    # is skipped before any job is launched.
    snap = table.current()
    if snap.applied.get(run_id, -1) >= batch_id:
        return {
            "version": snap.version,
            "skipped": True,
            "reason": f"batch {batch_id} already applied for {run_id}",
            "batch_id": batch_id,
            "run_id": run_id,
            "apply_wall_ms": int((time.monotonic() - t0) * 1000),
        }

    # LWW-dedup the OPAQUE envelope first: winner selection needs only
    # the typed key/order columns, so the JSON payload rides the dedup
    # shuffle as an unparsed string and every payload-parsing step below
    # (key discovery, from_json, coercion) runs on one row
    # per key — typically 10-100x fewer rows than events. The winners
    # are persisted (they are the batch's smallest representation) so
    # key discovery, the per-bucket stats and the merge's write job all
    # share one dedup run. with_stats folds exact per-key event counts
    # and LSN ranges into the same aggregation — the envelope is read
    # exactly ONCE per microbatch.
    #
    # Schema-evolution consequence, by design: a payload key widens the
    # table when it appears on a WINNING event. A key carried only by
    # events that lose their batch's LWW race contributes no value to
    # state and does not widen the schema (it widens later, when a
    # winner first carries it) — state content is identical either way.
    #
    # Dead-letter gate: rows whose merge key/order fields are null or
    # whose payload is not a JSON object cannot participate in LWW and
    # would otherwise corrupt the null-key group / silently drop fields.
    # The invalid count is observed ON the dedup scan itself (no extra
    # pass); the quarantine write job only launches when it is nonzero.
    dlq_obs = None
    clean = envelope
    if cfg.dead_letter_dir:
        from pyspark.sql import Observation

        bad_expr = _dlq_invalid_expr(cfg)
        flagged = envelope.withColumn("__dlq_bad", bad_expr)
        dlq_obs = Observation(f"dlq-{run_id}-{batch_id}")
        flagged = flagged.observe(
            dlq_obs, F.sum(F.col("__dlq_bad").cast("long")).alias("n_bad")
        )
        clean = flagged.where(~F.col("__dlq_bad")).drop("__dlq_bad")

    # raw LSN span of the batch, observed ON the dedup scan (no extra
    # job): count + min/max over the pre-dedup envelope. Binlog LSNs
    # are unique, so span - count > 0 means the batch's own range has
    # holes — a lost/truncated binlog segment inside this batch.
    # Cross-batch coverage is folded by StreamDriver.lsn_coverage().
    lsn_obs = None
    if cfg.track_lsn_gaps:
        from pyspark.sql import Observation

        lsn_obs = Observation(f"lsn-{batch_id}-{uuid.uuid4().hex[:6]}")
        clean = clean.observe(
            lsn_obs,
            F.count(F.col("lsn")).alias("n_raw"),
            F.min(F.col("lsn")).alias("raw_lo"),
            F.max(F.col("lsn")).alias("raw_hi"),
        )

    raw_winners = lww_dedup(
        clean,
        keys=list(cfg.merge_keys),
        order_cols=list(cfg.order_cols),
        salt_buckets=cfg.salt_buckets,
        with_stats=True,
    ).persist()
    try:
        # ONE prescan action over the winners: per-bucket event stats
        # (exact counts + LSN ranges for lineage, merge pruning, the
        # skew-aware write plan) AND the distinct payload keys (schema
        # evolution), folded into the same ≤num_buckets-row aggregation
        # — this is also the action that materializes the winners cache
        # and executes the DLQ-observed scan. Pre-r4 this was two
        # sequential jobs (keys collect, then stats collect): one
        # driver-side action per microbatch saved at any batch rate.
        t_k = time.monotonic()
        stat_rows = (
            raw_winners.groupBy(
                bucket_expr(snap.bucket_col, snap.num_buckets).alias("__b")
            )
            .agg(
                F.sum(STATS_COLS[0]).alias("n"),
                F.count(F.lit(1)).alias("nw"),
                F.min(STATS_COLS[1]).alias("lo"),
                F.max(STATS_COLS[2]).alias("hi"),
                F.array_distinct(
                    F.flatten(
                        F.collect_set(
                            F.json_object_keys(
                                F.coalesce(F.col("payload"), F.lit("{}"))
                            )
                        )
                    )
                ).alias("ks"),
            )
            .collect()
        )
        keys = sorted({k for r in stat_rows for k in r["ks"]})
        dedup_keys_ms = int((time.monotonic() - t_k) * 1000)

        n_dlq = 0
        if dlq_obs is not None:
            try:
                # the prescan above executed the observed scan, so the
                # metric is available without any further action
                n_dlq = int(dlq_obs.get["n_bad"] or 0)
            except Exception:
                # Catalyst can optimize the observed scan away entirely
                # (e.g. the validity filter constant-folds to false when
                # a key column is statically null) — then no metrics row
                # exists and .get raises; fall back to an explicit count
                n_dlq = envelope.where(_dlq_invalid_expr(cfg)).count()
            if n_dlq:
                _write_dead_letters(
                    envelope, cfg, run_id=run_id, batch_id=batch_id
                )

        per_bucket = {
            r["__b"]: {"n": r["n"], "min_lsn": r["lo"], "max_lsn": r["hi"]}
            for r in stat_rows
        }
        # winner rows per bucket (exact, free in the same aggregation):
        # the merge's write plan sizes salt slots / range partitions
        # from these counts — the raw EVENT counts overestimate by the
        # dedup ratio (10-100x), which made write.target-file-rows plan
        # far more write partitions than there are rows to write
        winners_per_bucket = {r["__b"]: r["nw"] for r in stat_rows}
        n_events = sum(s["n"] for s in per_bucket.values())
        hi_lsn = max(
            (s["max_lsn"] for s in per_bucket.values() if s["max_lsn"] is not None),
            default=None,
        )
        if n_events == 0:
            return {
                "version": snap.version,
                "skipped": True,
                "reason": "empty batch",
                "batch_id": batch_id,
                "run_id": run_id,
                "dlq_rows": n_dlq,
                "apply_wall_ms": int((time.monotonic() - t0) * 1000),
            }

        winners = normalize_events(
            raw_winners.drop(*STATS_COLS), coerce_spec, keys=keys
        )
        winners = coerce_columns(winners, coerce_spec)
        # source->table column mapping (the operational pair of
        # LakeTable.rename_column): metadata-only rename on the winner
        # frame, so a renamed table keeps absorbing a source that still
        # emits the old payload key instead of re-widening with it
        if cfg.column_map:
            reserved = set(cfg.merge_keys) | set(cfg.order_cols) | {"op"}
            bad = reserved & set(cfg.column_map)
            if bad:
                raise ConfigError(
                    f"column_map cannot remap merge key/order/op "
                    f"columns: {sorted(bad)}"
                )
            winners = winners.withColumnsRenamed(
                {k: v for k, v in cfg.column_map.items() if k in winners.columns}
            )

        stats = table.merge(
            winners,
            run_id=run_id,
            batch_id=batch_id,
            batch_stats={
                "bucket_counts": winners_per_bucket,
                "hi_lsn": hi_lsn,
                # spec the prescan hashed under: lets the merge detect a
                # set_num_buckets committed since and recompute instead
                # of routing on stale bucket ids
                "spec_n": snap.num_buckets,
            },
            mode=cfg.merge_mode,
        )
    finally:
        raw_winners.unpersist()
    stats["batch_id"] = batch_id
    stats["run_id"] = run_id
    stats["n_events"] = n_events
    stats["dlq_rows"] = n_dlq
    # advisory binlog-integrity metric (the prescan collect executed
    # the observed scan, so this costs no job). missing_in_range > 0 =
    # holes inside the batch's own LSN range; at-least-once redelivery
    # can only UNDERstate it (duplicates shrink span - count), never
    # fake a hole.
    lsn_span = None
    if lsn_obs is not None:
        try:
            m = lsn_obs.get
            if m.get("raw_lo") is not None:
                span = int(m["raw_hi"]) - int(m["raw_lo"]) + 1
                lsn_span = {
                    "lo": int(m["raw_lo"]),
                    "hi": int(m["raw_hi"]),
                    "n_raw": int(m["n_raw"]),
                    "missing_in_range": max(span - int(m["n_raw"]), 0),
                }
        except Exception:
            lsn_span = None  # observed scan optimized away; advisory
    stats["lsn_span"] = lsn_span
    stats.setdefault("stage_ms", {})["dedup_keys"] = dedup_keys_ms
    wall_ms = int((time.monotonic() - t0) * 1000)
    stats["apply_wall_ms"] = wall_ms
    cpu1 = spark_cpu_ms(table.spark) if cpu0 is not None else None
    stats["apply_cpu_ms"] = (cpu1 - cpu0) if cpu1 is not None else None

    if lineage_dir is not None and not stats.get("skipped"):
        write_lineage(
            lineage_dir,
            per_bucket,
            stats.get("rows_per_bucket", {}),
            run_id=run_id,
            batch_id=batch_id,
            table_version=stats["version"],
            wall_ms=wall_ms,
        )
    return stats
