"""Dead letters are written once per batch, however often the batch
runs: a retried or replayed apply replaces its own (run, batch)
directory of the quarantine instead of appending to it."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_rs_spark.cdc.apply import apply_batch
from etl_rs_spark.config import CdcConfig
from etl_rs_spark.errors import LoadError
from etl_rs_spark.generator import gen_change_stream, to_envelope
from etl_rs_spark.retry import RetryConfig, with_retry
from etl_rs_spark.sinks.lake import LakeTable

DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
BAD_LSNS = (5, 6, 7)


def _bad_envelope(spark):
    """400 events; the rows at BAD_LSNS have a NULL key."""
    ev = gen_change_stream(
        spark, n_events=400, n_convs=20, turns_per_conv=8, seed=11
    )
    return to_envelope(ev).withColumn(
        "conv_id", F.when(~F.col("lsn").isin(*BAD_LSNS), F.col("conv_id"))
    )


def test_retried_batch_writes_dead_letters_once(spark, tmp_path, monkeypatch):
    env = _bad_envelope(spark)
    dlq = str(tmp_path / "dlq")
    cfg = CdcConfig(num_buckets=4, dead_letter_dir=dlq)
    table = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    # StreamDriver's run id is the absolute checkpoint path; a long one
    # must not become a path component past the 255-byte limit
    run_id = "/" + "/".join(["checkpoints-of-a-deep-deployment"] * 8)

    # the first commit attempt fails after the quarantine was written
    real_merge = table.merge
    attempts = []

    def flaky_merge(*args, **kwargs):
        attempts.append(1)
        if len(attempts) == 1:
            raise LoadError("injected commit failure")
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(table, "merge", flaky_merge)
    # as StreamDriver._foreach_batch runs each microbatch
    stats = with_retry(
        lambda: apply_batch(table, env, batch_id=0, run_id=run_id, cfg=cfg),
        RetryConfig(max_attempts=3, delay_ms=0),
    )
    assert len(attempts) == 2
    assert stats["dlq_rows"] == len(BAD_LSNS)
    assert all(len(name) < 64 for name in os.listdir(dlq))
    df = spark.read.parquet(dlq)
    # provenance is read as stored in the files, not inferred from a path
    assert dict(df.dtypes)["dlq_run_id"] == "string"
    assert dict(df.dtypes)["dlq_batch_id"] == "int"
    rows = df.collect()
    assert sorted(r.lsn for r in rows) == list(BAD_LSNS)
    assert {(r.dlq_run_id, r.dlq_batch_id) for r in rows} == {(run_id, 0)}

    # a later batch of the same run adds its own directory beside it
    apply_batch(
        table, env.withColumn("lsn", F.col("lsn") + 1000),
        batch_id=1, run_id=run_id, cfg=cfg,
    )
    rows = spark.read.parquet(dlq).collect()
    assert sorted((r.dlq_batch_id, r.lsn) for r in rows) == [
        (0, 5), (0, 6), (0, 7), (1, 1005), (1, 1006), (1, 1007)
    ]


def test_flat_dead_letters_stay_readable(spark, tmp_path):
    """Parquet files an older append-only layout left at the queue's
    root are moved beside the per-batch directories, not hidden by them."""
    env = _bad_envelope(spark)
    dlq = str(tmp_path / "dlq")
    old = env.where(F.col("conv_id").isNull()).select(
        "*",
        F.lit("null_key_field").alias("dlq_reason"),
        F.lit("old").alias("dlq_run_id"),
        F.lit(0).alias("dlq_batch_id"),
    )
    old.coalesce(1).write.mode("append").parquet(dlq)
    cfg = CdcConfig(num_buckets=4, dead_letter_dir=dlq)
    table = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    apply_batch(
        table, env.withColumn("lsn", F.col("lsn") + 1000),
        batch_id=0, run_id="r", cfg=cfg,
    )
    rows = spark.read.parquet(dlq).collect()
    assert sorted((r.dlq_run_id, r.lsn) for r in rows) == [
        ("old", 5), ("old", 6), ("old", 7), ("r", 1005), ("r", 1006), ("r", 1007)
    ]
