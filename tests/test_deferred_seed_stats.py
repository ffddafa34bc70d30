"""The seed merge into an empty table defers its stats job to the
write's parquet footers (merge runs ONE job over the batch). These
tests pin that the deferred path is indistinguishable from the
stats-job path: same state, same watermark, same affected buckets,
same empty-batch short-circuit — for copy-on-write AND merge-on-read.
"""

import pandas.testing as pdt
import pytest
from pyspark.sql import functions as F

from etl_rs_spark.sinks.lake import LakeTable

DDL = "k string, v long, ts timestamp"


def _batch(spark, n=500, with_deletes=True, null_lsn_every=0):
    ts = __import__("datetime").datetime(2024, 1, 1)
    df = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.col("id").alias("v"),
        F.lit(ts).alias("ts"),
        F.col("id").alias("lsn"),
        (
            F.when(F.col("id") % 7 == 0, F.lit("D")).otherwise(F.lit("U"))
            if with_deletes
            else F.lit("U")
        ).alias("op"),
    )
    if null_lsn_every:
        df = df.withColumn(
            "lsn",
            F.when(F.col("v") % null_lsn_every == 0, F.lit(None)).otherwise(
                F.col("lsn")
            ),
        )
    return df


def _mk(spark, tmp_path, name, props=None, **kw):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        DDL,
        key_cols=("k",),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=4,
        props=props or {},
        **kw,
    )


def _state(t):
    return (
        t.read()
        .select("k", "v")
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_deferred_seed_matches_stats_path(spark, tmp_path, mode):
    """Same batch seed-merged into an empty table via the deferred path
    (no target-file-rows) and via the stats path (target-file-rows set,
    large enough not to split) must agree on state, watermark and the
    affected-bucket report."""
    batch = _batch(spark, null_lsn_every=11)
    a = _mk(spark, tmp_path, f"a-{mode[0]}")
    b = _mk(
        spark,
        tmp_path,
        f"b-{mode[0]}",
        props={"write.target-file-rows": 1_000_000},
    )
    ra = a.merge(batch, run_id="r", batch_id=0, mode=mode)
    rb = b.merge(batch, run_id="r", batch_id=0, mode=mode)
    assert ra["skipped"] is False and rb["skipped"] is False
    assert ra["buckets_touched"] == rb["buckets_touched"]
    assert ra["watermark_lsn"] == rb["watermark_lsn"]
    assert (ra["folded_buckets"], ra["delta_buckets"]) == (
        rb["folded_buckets"],
        rb["delta_buckets"],
    )
    pdt.assert_frame_equal(_state(a), _state(b), check_dtype=False)
    # stats job really was skipped on the deferred side only
    assert "stats" not in ra["stage_ms"]
    assert "stats" in rb["stage_ms"]


def test_deferred_seed_empty_batch_skips(spark, tmp_path):
    t = _mk(spark, tmp_path, "empty")
    r = t.merge(_batch(spark).where(F.lit(False)), run_id="r", batch_id=0)
    assert r["skipped"] is True and r["reason"] == "empty batch"
    assert t.current().version == 0
    # no stray staging dirs left behind by the aborted write
    import glob
    import os

    assert not glob.glob(os.path.join(t.data_dir, "commit-*"))


def test_second_merge_uses_stats_path(spark, tmp_path):
    """Only the seed merge defers; once files exist the pruning stats
    job is back and replay stays idempotent across both."""
    t = _mk(spark, tmp_path, "two")
    r0 = t.merge(_batch(spark, 300), run_id="r", batch_id=0)
    assert "stats" not in r0["stage_ms"]
    ts2 = __import__("datetime").datetime(2024, 1, 2)
    upd = spark.range(50).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        (F.col("id") + 1000).alias("v"),
        F.lit(ts2).alias("ts"),
        (F.col("id") + 10_000).alias("lsn"),
        F.lit("U").alias("op"),
    )
    r1 = t.merge(upd, run_id="r", batch_id=1)
    assert "stats" in r1["stage_ms"]
    # exactly-once: replaying batch 1 is a no-op
    r2 = t.merge(upd, run_id="r", batch_id=1)
    assert r2["skipped"] is True
    got = _state(t)
    assert len(got) == 300 - len([i for i in range(300) if i % 7 == 0]) + len(
        [i for i in range(50) if i % 7 == 0]
    )
    assert got[got.k == "k1"].v.iloc[0] == 1001


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_deferred_watermark_covers_stats_less_footer(
    spark, tmp_path, monkeypatch, mode
):
    """A written file whose footer carries no _lsn stats (a stats-less
    row group) must not let the deferred watermark fall below the
    _lsn values stored in it; otherwise changes() re-emits seed rows."""
    from etl_rs_spark.sinks import lake

    real = lake._footer_stats

    def stats_less_top(path, *a, **kw):
        out = real(path, *a, **kw)
        if out["max_lsn"] == 499:  # the file holding the batch's top lsn
            out["min_lsn"] = out["max_lsn"] = None
        return out

    monkeypatch.setattr(lake, "_footer_stats", stats_less_top)
    t = _mk(spark, tmp_path, f"nostats-{mode[0]}")
    r = t.merge(_batch(spark), run_id="r", batch_id=0, mode=mode)
    assert "stats" not in r["stage_ms"]  # the deferred path ran
    assert any(f.get("max_lsn") is None for f in t.current().files)
    stored = t.read(include_meta=True).agg(F.max("_lsn")).first()[0]
    assert stored == 499
    assert r["watermark_lsn"] == t.current().watermark_lsn == 499
    assert t.changes(t.current().version).count() == 0
