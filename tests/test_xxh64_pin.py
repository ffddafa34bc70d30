"""Pin the driver-side xxhash64 (functions/xxh64.py) bit-identical to
the JVM's F.xxhash64 over every supported key dtype — the contract that
lets LakeTable.lookup hash its probe keys without a Spark micro-job.
If Spark ever changed its hash, THIS fails before a lookup can go
quietly wrong."""
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_rs_spark.functions.xxh64 import (
    UnsupportedKeyType,
    bucket_of,
    spark_xxhash64,
)

_SPARK_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
}


def _cases():
    rnd = random.Random(42)
    cases = [
        ("", "string"),
        ("a", "string"),
        ("conv-000123", "string"),
        ("δοκιμή-unicode-☃ 🚀", "string"),
        ("x" * 7, "string"),
        ("x" * 8, "string"),
        ("x" * 31, "string"),
        ("x" * 32, "string"),
        ("x" * 100, "string"),
        (0, "int"),
        (1, "int"),
        (-1, "int"),
        (2**31 - 1, "int"),
        (-(2**31), "int"),
        (0, "bigint"),
        (-7, "bigint"),
        (2**63 - 1, "bigint"),
        (-(2**63), "bigint"),
        (5, "smallint"),
        (-5, "smallint"),
        (3, "tinyint"),
        (-3, "tinyint"),
    ]
    cases += [
        ("".join(rnd.choices("abcdefgh0123-", k=rnd.randint(1, 40))), "string")
        for _ in range(20)
    ]
    cases += [(rnd.randint(-(2**63), 2**63 - 1), "bigint") for _ in range(10)]
    cases += [(rnd.randint(-(2**31), 2**31 - 1), "int") for _ in range(10)]
    return cases


def test_xxh64_pinned_against_jvm(spark):
    mismatches = []
    for v, dt in _cases():
        df = spark.createDataFrame(
            [(v,)],
            T.StructType([T.StructField("v", _SPARK_TYPES[dt])]),
        )
        row = df.select(
            F.xxhash64("v").alias("h"),
            F.xxhash64(F.col("v"), F.lit(2)).alias("h2"),
            F.pmod(F.xxhash64("v"), F.lit(16)).cast("int").alias("b"),
        ).collect()[0]
        if (
            row.h != spark_xxhash64([v], [dt])
            or row.h2 != spark_xxhash64([v, 2], [dt, "int"])
            or row.b != bucket_of(v, dt, 16)
        ):
            mismatches.append((v, dt))
    assert not mismatches, mismatches


def test_xxh64_null_and_unsupported(spark):
    # NULL fields leave the running hash unchanged (Spark semantics)
    row = spark.createDataFrame([(None,)], "v string").select(
        F.xxhash64("v").alias("h")
    ).collect()[0]
    assert spark_xxhash64([None], ["string"]) == row.h == 42
    # unsupported dtypes raise so callers fall back to the Spark probe
    with pytest.raises(UnsupportedKeyType):
        spark_xxhash64([1.5], ["double"])
    with pytest.raises(UnsupportedKeyType):
        spark_xxhash64(["x"], ["int"])


def test_lookup_issues_exactly_one_spark_job(spark, tmp_path):
    """With driver-side probe hashing, a Spark-tier point lookup runs
    ONE job: the pruned scan. (The driver-local tier runs none;
    tests/test_local_lookup.py checks that.)"""
    import datetime as dt

    from tests.util import lookup_tier

    from etl_rs_spark.sinks.lake import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, ts timestamp",
        num_buckets=8,
    )
    src = spark.range(80).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(src, run_id="r", batch_id=0)
    sc = spark.sparkContext
    sc.setJobGroup("lookup-one-job", "point lookup", False)
    try:
        with lookup_tier("spark"):
            rows = t.lookup("c7").collect()
    finally:
        sc.setJobGroup(None, None, False)  # type: ignore[arg-type]
    assert [r.conv_id for r in rows] == ["c7"]
    jobs = sc.statusTracker().getJobIdsForGroup("lookup-one-job")
    assert len(jobs) == 1, jobs
