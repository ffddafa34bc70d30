"""One table-level ref map (Iceberg table refs): tags and branches share
one namespace in HEAD's ``refs``, survive rollback and fast-forward,
age out wherever they were created, and publishing goes through
ref-only commits."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.errors import LoadError
from etl_rs_spark.sinks.lake import LakeTable, Snapshot

DDL = "conv_id string, turn_idx int, ts timestamp"


def _df(spark, n=4, base=1700000000):
    return spark.range(n).select(
        F.format_string("c%d", F.col("id") % 4).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(base) + F.col("id")).alias("ts"),
    )


def test_fast_forward_publishes_through_ref_only_commits(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_branch("a")
    t.on_branch("a").append(_df(spark, 6, base=1800000000))
    t.create_branch("b")
    t.create_tag("cut")
    cut = t.tags()["cut"]
    r = t.fast_forward("a")
    assert r["published"] == "a"
    assert t.read().count() == 10
    assert t.tags() == {"cut": cut}
    assert set(t.branches()) == {"main", "a", "b"}
    assert t.fast_forward("a").get("noop") is True


def test_fast_forward_rejects_main_data_write_behind_ref_commits(
    spark, tmp_path
):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_branch("a")
    t.on_branch("a").append(_df(spark, 6, base=1800000000))
    t.create_tag("before")
    t.append(_df(spark, 2, base=1900000000))  # main's content moves
    t.create_tag("after")
    with pytest.raises(LoadError, match="not fast-forwardable"):
        t.fast_forward("a")
    assert t.read().count() == 6


def test_rollback_keeps_tags_and_their_max_age(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    v1 = t.current().version
    t.append(_df(spark, 2, base=1800000000))
    v2 = t.current().version
    t.create_tag("release", version=v2, max_age_ms=3_600_000)
    t.rollback(v1)
    assert t.read().count() == 4
    assert t.tags() == {"release": v2}
    assert t.current().refs["release"]["max_age_ms"] == 3_600_000


def test_tags_and_branches_share_one_namespace(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_branch("x")
    t.create_tag("cut")
    with pytest.raises(LoadError, match="branch 'x' already exists"):
        t.create_tag("x")
    with pytest.raises(LoadError, match="branch 'main' already exists"):
        t.create_tag("main")
    with pytest.raises(LoadError, match="tag 'cut' already exists"):
        t.create_tag("cut")
    with pytest.raises(LoadError, match="tag 'cut' already exists"):
        t.create_branch("cut")
    assert t.on_branch("x").tags() == t.tags() == {"cut": 2}


def test_branch_aged_tag_expires_from_main_handle(spark, tmp_path):
    """A tag taken on a branch with max_age_ms ages out when main runs
    expiry; main's permanent tag and the version it pins survive."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_tag("keep-forever")
    pinned = t.tags()["keep-forever"]
    t.create_branch("side")
    side = t.on_branch("side")
    side.append(_df(spark, 3, base=1800000000))
    side.create_tag("short", max_age_ms=1)
    time.sleep(0.05)
    for i in range(4):
        t.append(_df(spark, 1, base=1900000000 + i))
    t.expire_snapshots(keep_last=1)
    assert "short" not in side.tags()
    assert t.tags() == {"keep-forever": pinned}
    vfile = os.path.join(t.meta_dir, f"version-{pinned:08d}.json")
    assert os.path.exists(vfile)
    assert t.read(version=pinned).count() == 4


def test_retired_ref_format_raises(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    d = json.loads(t.current().to_json())
    split = {**d, "branches": {"main": d["version"]}}
    with pytest.raises(LoadError, match="retired"):
        Snapshot.from_json(json.dumps(split))
    bare = {**d, "refs": {"cut": 1}}
    with pytest.raises(LoadError, match="retired"):
        Snapshot.from_json(json.dumps(bare))
