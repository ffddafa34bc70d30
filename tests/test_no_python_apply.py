"""Plan guard: a full StreamDriver run executes no Python.

A drain exercises dedup, prescan, coercion, merge writes, dead-letter
quarantine, compaction, retention and lineage. Every SQL execution it
runs is read back from Spark's status store, and none may contain a node
that evaluates Python (a pandas or Python UDF, ``mapInPandas``). Nor
may the drain build a Python RDD (``parallelize``, ``df.rdd``). Either
would fork Python workers and move rows through them on every
microbatch.

A Python RDD cannot be told apart by its plan node: a DataFrame built
from one scans as ``Scan ExistingRDD``, and so does every microbatch
the foreachBatch sink hands to ``apply_batch`` (it wraps the stream's
JVM plan as an RDD). The guard therefore records Python RDD
construction on the driver instead.
"""

from __future__ import annotations

import pytest
from pyspark.rdd import RDD, PipelinedRDD
from pyspark.sql import functions as F

from etl_rs_spark.cdc.lineage import read_lineage
from etl_rs_spark.cdc.stream import StreamDriver
from etl_rs_spark.config import CdcConfig
from etl_rs_spark.generator import gen_change_stream, to_envelope, write_event_files
from etl_rs_spark.oracle import replay_envelope
from etl_rs_spark.sinks.lake import LakeTable
from tests.util import assert_state_equal, executed_plan_nodes

DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
PYTHON_NODES = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas"}
BAD_LSNS = (5, 6, 7)


def _recording(init, built: list):
    def wrapped(self, *args, **kwargs):
        built.append(type(self).__name__)
        init(self, *args, **kwargs)

    return wrapped


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_stream_driver_runs_no_python(spark, tmp_path, mode, monkeypatch):
    ev = gen_change_stream(
        spark, n_events=1200, n_convs=30, turns_per_conv=6, seed=3,
        hot_conv_frac=0.3, evolve_after_lsn=600,
    )
    # three null-key rows in the first file: that batch quarantines them
    env = to_envelope(ev).withColumn(
        "conv_id",
        F.when(~F.col("lsn").isin(*BAD_LSNS), F.col("conv_id")),
    )
    write_event_files(env, str(tmp_path / "binlog"), n_files=4)
    table = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    driver = StreamDriver(
        spark,
        table,
        str(tmp_path / "binlog"),
        str(tmp_path / "ckpt"),
        cfg=CdcConfig(
            num_buckets=4,
            merge_mode=mode,
            dead_letter_dir=str(tmp_path / "dlq"),
        ),
        max_files_per_trigger=1,
        lineage_dir=str(tmp_path / "lineage"),
        compact_every=2,
        retention_every=2,
        retention_keep_last=2,
    )
    python_rdds = []
    for cls in (RDD, PipelinedRDD):
        monkeypatch.setattr(cls, "__init__", _recording(cls.__init__, python_rdds))
    stats = []
    nodes = executed_plan_nodes(
        spark, lambda: stats.extend(driver.run_available_now())
    )

    # the drain exercised every stage the guard is meant to cover
    assert len(stats) == 4
    assert sum(s.get("dlq_rows", 0) for s in stats) == len(BAD_LSNS)
    # the last batch compacted, then retention kept the last two versions
    assert table.current().operation == "compact"
    assert len(table._versions()) == 2
    assert read_lineage(spark, str(tmp_path / "lineage")).count() > 0

    names = {name for name, _ in nodes}
    assert any(n.startswith("Scan parquet") for n in names), sorted(names)
    assert not names & PYTHON_NODES, sorted(names)
    assert python_rdds == []

    want = replay_envelope(env.where(F.col("conv_id").isNotNull()).toPandas())
    assert_state_equal(table.read().toPandas(), want)
