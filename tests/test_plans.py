"""Physical-plan guarantees: the optimizations the reference only claims
(SURVEY.md §4.1) must be REAL here and stay real — pushdown, pruning,
broadcast, codegen."""

import pytest
from pyspark.sql import functions as F

from etl_rs_spark import plans
from etl_rs_spark.operators import transforms as tr


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    spark.createDataFrame(
        [(i, f"name-{i}", float(i), i % 7) for i in range(1000)],
        "id long, name string, score double, grp int",
    ).write.parquet(p)
    return p


def test_filter_pushdown_reaches_scan(spark, store):
    df = tr.filter_rows(spark.read.parquet(store), F.col("id") > 990)
    plans.assert_filter_pushed(df, "GreaterThan(id,990)")


def test_column_pruning_reaches_scan(spark, store):
    df = tr.select_columns(spark.read.parquet(store), ["id", "name"])
    plans.assert_column_pruned(df, "score")


def test_small_join_broadcasts(spark, store):
    big = spark.read.parquet(store)
    dim = spark.createDataFrame([(g, f"g{g}") for g in range(7)], "grp int, label string")
    joined = big.join(F.broadcast(dim), "grp")
    plans.assert_broadcast_join(joined)


def test_transform_chain_stays_in_one_codegen_stage(spark, store):
    chain = tr.composite(
        lambda d: tr.filter_rows(d, "id > 10"),
        lambda d: tr.add_column(d, "bonus", F.col("score") * 2),
        lambda d: tr.rename_columns(d, {"name": "full_name"}),
        lambda d: tr.select_columns(d, ["id", "full_name", "bonus"]),
    )
    df = chain(spark.read.parquet(store))
    # whole chain fuses: exactly one WholeStageCodegen span, no shuffles
    assert plans.wholestage_codegen_spans(df) == 1
    assert "Exchange" not in plans.physical_plan(df)


def test_lww_dedup_is_partial_agg_not_window_sort(spark, store):
    from etl_rs_spark.operators.dedup import lww_dedup

    df = lww_dedup(
        spark.read.parquet(store).withColumnRenamed("grp", "conv_id")
        .withColumnRenamed("id", "lsn")
        .withColumn("turn_idx", F.lit(0))
        .withColumn("ts", F.timestamp_seconds(F.col("lsn"))),
        keys=["conv_id", "turn_idx"],
        order_cols=["ts", "lsn"],
    )
    plan = plans.physical_plan(df)
    # two-phase aggregate with a map-side partial before the exchange
    # (max(struct) compiles to SortAggregate — struct max isn't
    # hash-bufferable — but the partial still caps a hot key's shuffle
    # at one row per input partition); crucially NOT a Window sort over
    # all events.
    assert plans.has_partial_aggregation(df)
    assert "Window" not in plan
    assert plan.count("Exchange") == 1  # single shuffle


def test_merge_scan_is_bucket_pruned(spark, tmp_path):
    """A merge touching one bucket must read only that bucket's files."""
    from etl_rs_spark.sinks.lake import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, ts timestamp",
        num_buckets=8,
    )
    base = spark.range(80).select(
        F.format_string("c%d", F.col("id") % 8).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
    )
    t.append(base, lsn_col=None)
    files_before = {f["path"]: f for f in t.current().files}

    one_key = spark.createDataFrame(
        [("c0", 0, "U", __import__("datetime").datetime(2024, 1, 1), 99)],
        "conv_id string, turn_idx int, op string, ts timestamp, lsn long",
    )
    stats = t.merge(one_key)
    assert len(stats["buckets_touched"]) == 1
    # untouched buckets keep their exact old files
    after = {f["path"]: f for f in t.current().files}
    untouched_before = {
        p for p, f in files_before.items() if f["bucket"] not in stats["buckets_touched"]
    }
    assert untouched_before <= set(after)


def test_new_pair_entries_plan_no_nested_loop(spark):
    """The verified-pairs and capped-ngram entries must plan as pure
    equi-joins — a BroadcastNestedLoopJoin or CartesianProduct at 10^10
    docs is a different algorithm, not a slow one."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    for name in ("verified_pairs", "ngram_jaccard_capped"):
        df = entrymod.queries()[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_lookup_equality_filter_is_pushed(spark, tmp_path_factory):
    """A point lookup's residual key filter must land on the parquet
    scan as a pushed predicate (on top of the manifest-level bucket
    prune) — at 100 TB the row-group stats then skip within the
    bucket's files too."""
    from etl_rs_spark.sinks.lake import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path_factory.mktemp("lkp") / "t"),
        "conv_id string, turn_idx int, ts timestamp",
        num_buckets=4,
    )
    t.append(
        spark.range(40).select(
            F.format_string("c%d", F.col("id") % 8).alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        )
    )
    from tests.util import lookup_tier

    with lookup_tier("spark"):
        df = t.lookup(["c1", "c5"])
    got = plans.pushed_filters(df)
    assert "In(conv_id" in got, f"lookup filter not pushed: {got!r}"
