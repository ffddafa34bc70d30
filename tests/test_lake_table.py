"""LakeTable unit behavior: DDL, append/overwrite, time travel, commit
atomicity, bucket pruning, manifest stats."""

import os

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.errors import LoadError
from etl_rs_spark.sinks.lake import LakeTable, bucket_expr
from tests.util import (
    assert_local_twin,
    count_manifest_loads,
    lookup_tier,
    spark_jobs_during,
)

DDL = "conv_id string, turn_idx int, ts timestamp"


def _df(spark, n=20, convs=4):
    return spark.range(n).select(
        F.format_string("c%d", F.col("id") % convs).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )


def test_create_load_exists(spark, tmp_path):
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, DDL, num_buckets=4)
    assert t.exists()
    with pytest.raises(LoadError):
        LakeTable.create(spark, p, DDL)
    assert LakeTable.create(spark, p, DDL, exist_ok=True).current().version == 0
    assert LakeTable.load(spark, p).current().version == 0
    with pytest.raises(LoadError):
        LakeTable.load(spark, str(tmp_path / "missing"))


def test_append_overwrite_timetravel(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.append(_df(spark, 10))
    assert t.read().count() == 10
    t.append(_df(spark, 5))
    assert t.read().count() == 15
    t.overwrite(_df(spark, 3))
    assert t.read().count() == 3
    # time travel to each version
    assert t.read(version=1).count() == 10
    assert t.read(version=2).count() == 15
    assert t.current().version == 3


def test_manifest_tracks_rows_and_buckets(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.append(_df(spark, 40))
    snap = t.current()
    assert sum(f["rows"] for f in snap.files) == 40
    assert {f["bucket"] for f in snap.files} <= {0, 1, 2, 3}


def test_bucket_pruned_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.append(_df(spark, 40))
    assignments = {
        r["conv_id"]: r["b"]
        for r in spark.createDataFrame(
            [(f"c{i}",) for i in range(4)], "conv_id string"
        )
        .select("conv_id", bucket_expr("conv_id", 4).alias("b"))
        .collect()
    }
    b = assignments["c0"]
    expect = {c for c, bb in assignments.items() if bb == b}
    pruned = t.read(buckets=[b])
    got = {r["conv_id"] for r in pruned.select("conv_id").distinct().collect()}
    assert got == expect  # exactly the convs hashing to that bucket
    assert "c0" in got


def test_commit_crash_leaves_old_head(spark, tmp_path):
    """Atomicity: a version file without a HEAD swing is invisible."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    v = t.current().version
    # simulate a crash between writing version file and swinging HEAD:
    # hand-craft an orphan version file
    orphan = t.current()
    orphan.version = v + 1
    with open(os.path.join(t.meta_dir, f"version-{v+1:08d}.json"), "w") as f:
        f.write(orphan.to_json())
    assert t.current().version == v  # HEAD untouched -> old snapshot rules
    assert t.read().count() == 4


def test_append_after_evolution_backfills(spark, tmp_path):
    """Merging a batch with an extra column widens; a later plain append
    without that column still works (null backfill via _normalize_rows)."""
    from etl_rs_spark.cdc.apply import apply_batch

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        num_buckets=2,
    )
    env = spark.createDataFrame(
        [(1, "I", "c1", 0, __import__("datetime").datetime(2024, 1, 1), '{"text": "hi", "lang": "en"}')],
        "lsn long, op string, conv_id string, turn_idx int, ts timestamp, payload string",
    )
    apply_batch(t, env, 0, "r")
    assert "lang" in t.current().schema().fieldNames()
    t.append(_df(spark, 3).select("conv_id", "turn_idx", "ts"))
    got = t.read()
    assert got.count() == 4
    assert got.where(F.col("lang").isNull()).count() == 3


@pytest.mark.parametrize("op", ["append", "overwrite"])
@pytest.mark.parametrize("value", ["bigint", "string"])
def test_bulk_write_casts_to_table_types(spark, tmp_path, op, value):
    """append/overwrite write their rows in the table's column types, as
    merge does: a frame whose ``value`` arrives as bigint or as digit
    strings commits files every later read, lookup and change feed can
    scan under the table's ``int``."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, value int, ts timestamp",
        num_buckets=2,
    )
    df = _df(spark, 6, convs=2).select(
        "*",
        (F.col("turn_idx") * 10).cast(value).alias("value"),
        (F.col("turn_idx") + 1).cast("long").alias("lsn"),
    )
    assert getattr(t, op)(df, lsn_col="lsn")["version"] == 1
    want = sorted((f"c{i % 2}", i, i * 10) for i in range(6))
    assert dict(t.read().dtypes)["value"] == "int"
    got = t.read().select("conv_id", "turn_idx", "value").collect()
    assert sorted(tuple(r) for r in got) == want
    for tier in ("spark", "local"):
        with lookup_tier(tier):
            hit = t.lookup("c0")
            assert dict(hit.dtypes)["value"] == "int"
            assert sorted(tuple(r) for r in hit.select(
                "conv_id", "turn_idx", "value"
            ).collect()) == [w for w in want if w[0] == "c0"]
    feed = t.changes(0)
    assert dict(feed.dtypes)["value"] == "int"
    assert sorted(
        tuple(r) for r in feed.select("conv_id", "turn_idx", "value").collect()
    ) == want


@pytest.mark.parametrize("op", ["append", "overwrite"])
def test_bulk_write_cast_failure_leaves_head(spark, tmp_path, op):
    """A value the table type cannot hold fails the write under ANSI
    casting; nothing commits, so HEAD and the state stay as they were."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, value int, ts timestamp",
        num_buckets=2,
    )
    t.append(_df(spark, 4).withColumn("value", F.lit(1)))
    bad = _df(spark, 4).withColumn("value", F.lit(1 << 40))
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        getattr(t, op)(bad)
    assert t.current().version == 1
    assert t.read().count() == 4


def test_compact_and_expire(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    for i in range(4):
        t.append(_df(spark, 6))
    assert t.read().count() == 24
    before_files = len(t.current().files)
    res = t.compact()
    assert res["files_after"] <= 2 < before_files
    assert t.read().count() == 24
    exp = t.expire_snapshots(keep_last=2)
    assert exp["expired_versions"] > 0
    assert t.read().count() == 24  # current snapshot intact


def test_expire_snapshots_distributed_matches_driver_path(
    spark, tmp_path
):
    """Expiry is one driver-side set difference over the manifest
    list: twin tables with identical history (appends → full compact)
    expire to identical stats and surviving file sets, the expiry runs
    no Spark job and loads no manifest twice, and both tables still
    read all rows. (The name predates the removal of the executor-side
    expiry this test once compared against.)"""
    import glob as _glob
    import os as _os

    tables = {}
    for mode in ("drv", "dist"):
        t = LakeTable.create(
            spark, str(tmp_path / mode), DDL, num_buckets=2
        )
        for i in range(4):
            t.append(_df(spark, 6))
        t.compact()
        tables[mode] = t

    def survivors(t):
        return {
            _os.path.relpath(p, t.data_dir)
            for p in _glob.glob(
                _os.path.join(t.data_dir, "**", "*.parquet"),
                recursive=True,
            )
        }

    exp_drv = tables["drv"].expire_snapshots(keep_last=1)
    got = []
    with count_manifest_loads() as loads:
        jobs = spark_jobs_during(
            spark,
            lambda: got.append(tables["dist"].expire_snapshots(keep_last=1)),
        )
    exp_dist = got[0]
    assert jobs == []
    assert loads and len(loads) == len(set(loads))
    assert exp_dist == exp_drv
    assert exp_dist["files_deleted"] > 0
    # identical histories delete identical file sets (paths differ only
    # by the table root; compare data-dir-relative basename sets sizes)
    assert len(survivors(tables["dist"])) == len(survivors(tables["drv"]))
    for t in tables.values():
        assert t.read().count() == 24
        # orphan sweep right after: nothing left to reclaim
        assert t.vacuum_orphans(older_than_s=0) == {
            "orphans_deleted": 0,
            "skipped_young": 0,
            "orphan_manifests_deleted": 0,
        }


def test_compact_drops_old_tombstones(spark, tmp_path):
    import datetime as dt

    from etl_rs_spark.cdc.apply import apply_batch

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        num_buckets=2,
    )

    def env(rows):
        return spark.createDataFrame(
            [
                (lsn, op, cid, ti, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s),
                 '{"text": "x"}' if op != "D" else "{}")
                for (lsn, op, cid, ti, s) in rows
            ],
            "lsn long, op string, conv_id string, turn_idx int, ts timestamp, payload string",
        )

    apply_batch(t, env([(1, "I", "c1", 0, 10), (2, "D", "c1", 0, 20), (3, "I", "c2", 0, 5)]), 0, "r")
    with_meta = t.read(include_meta=True)
    assert with_meta.where("_deleted").count() == 1  # tombstone persisted
    t.compact(tombstone_lsn_horizon=2)
    assert t.read(include_meta=True).where("_deleted").count() == 0
    assert t.read().count() == 1  # c2 only


def test_timestamp_time_travel(spark, tmp_path):
    """as-of-timestamp resolves to the latest snapshot committed at or
    before the instant (ref with_timestamp, src/extract/delta.rs:104-109
    — stored there, resolved here)."""
    import time as _time

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.append(_df(spark, 10))
    ts_v1 = t.current().committed_at_ms
    assert ts_v1 > 0
    _time.sleep(0.01)
    t.append(_df(spark, 5))
    ts_v2 = t.current().committed_at_ms
    assert ts_v2 > ts_v1

    assert t.version_as_of(ts_v1) == 1
    assert t.read(as_of_ms=ts_v1).count() == 10
    assert t.read(as_of_ms=ts_v2).count() == 15
    assert t.read(as_of_ms=ts_v2 + 10_000).count() == 15  # future -> head
    with pytest.raises(LoadError):
        t.version_as_of(ts_v1 - 1_000_000)  # before table creation

    from etl_rs_spark.sources import LakeSource

    src = LakeSource(path=str(tmp_path / "t"), timestamp_ms=ts_v1)
    assert src.extract(spark).count() == 10


def test_timestamp_time_travel_survives_expired_intermediates(
    spark, tmp_path
):
    """version_as_of bisects over the version files that actually EXIST,
    so snapshots expired out of the middle of the history cannot crash
    (or mis-resolve) timestamp time travel — the robustness the
    downward lineage walk already had, now shared by the search."""
    import time as _time

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    stamps = []
    for i in range(6):
        t.append(_df(spark, 5 * (i + 1)))
        stamps.append(t.current().committed_at_ms)
        _time.sleep(0.01)
    # pin an EARLY version with a tag so expiry leaves a hole in the
    # middle of the history (tagged v1 survives, v2..v4 expire)
    early = 1
    t.create_tag("early", early)
    t.expire_snapshots(keep_last=2)
    import glob as _glob
    import os as _os

    survivors = sorted(
        int(p.split("version-")[1].split(".")[0])
        for p in _glob.glob(_os.path.join(t.meta_dir, "version-*.json"))
    )
    assert early in survivors and 3 not in survivors
    # an instant inside the expired window resolves to the newest
    # SURVIVING snapshot at or before it (no FileNotFoundError)
    mid_ts = stamps[2]
    v = t.version_as_of(mid_ts)
    assert v in survivors and t.snapshot(v).committed_at_ms <= mid_ts
    # instants at/after the tip still resolve to the tip
    assert t.version_as_of(stamps[-1] + 10_000) == t.current().version
    # an instant before every survivor raises cleanly
    with pytest.raises(LoadError):
        t.version_as_of(stamps[0] - 1_000_000)


def test_manifest_stays_bounded_after_compaction(spark, tmp_path):
    """The manifest files list is the driver-side scaling risk: after
    compact() it must be O(num_buckets) regardless of how many commits
    accumulated."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    for i in range(12):
        t.append(_df(spark, 8, convs=4))
    assert len(t.current().files) > 12
    t.compact()
    snap = t.current()
    assert len(snap.files) <= snap.num_buckets
    assert t.read().count() == 12 * 8


def _manifest_files(t):
    import glob as _glob
    import os as _os

    return set(
        _glob.glob(_os.path.join(t.meta_dir, "manifests", "mf-*.json"))
    )


def test_commit_metadata_is_o_touched_buckets(spark, tmp_path):
    """The Iceberg manifest-list layout at work: a merge touching ONE
    bucket of a many-bucket table writes exactly one new bucket
    manifest and a snapshot JSON whose size is O(groups) summaries —
    never a re-serialization of every file entry in the table. This is
    the 100-TB metadata-plane contract (a commit on a 10^6-file table
    must not write 10^6 entries)."""
    import datetime as dt
    import json as _json

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, ts timestamp",
        num_buckets=32,
        props={"write.key-bloom.bits": 4096},  # blooms ride manifests
    )
    wide = spark.range(320).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(wide, run_id="r", batch_id=0)
    before = _manifest_files(t)
    assert len(before) >= 32  # one manifest per touched group

    # a single-conversation update touches exactly one bucket
    one = spark.createDataFrame(
        [("c7", 0, dt.datetime(2025, 1, 1), 10_000, "U")],
        "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
    )
    res = t.merge(one, run_id="r", batch_id=1)
    assert len(res["buckets_touched"]) == 1
    after = _manifest_files(t)
    new_manifests = after - before
    assert len(new_manifests) == 1  # O(touched buckets) manifest writes

    # the snapshot JSON itself carries no per-file entries (and in
    # particular no bloom bitmaps): it stays small and its size is
    # driven by the group summaries, not the table's file count
    snap = t.current()
    vpath = os.path.join(t.meta_dir, f"version-{snap.version:08d}.json")
    d = _json.loads(open(vpath).read())
    assert "files" not in d and len(d["manifest_list"]) >= 32
    assert "key_bloom" not in open(vpath).read()
    # hydration returns the full, correct file set
    assert t.read().count() == 320
    assert [r.ts for r in t.lookup("c7").collect()] == [
        dt.datetime(2025, 1, 1)
    ]

    # metadata-only commits (tag) write ZERO manifests and never
    # hydrate: pointer carry-over, Iceberg-style
    t.create_tag("pin")
    assert _manifest_files(t) == after


def test_merge_loads_only_touched_groups_manifests(
    spark, tmp_path
):
    """A merge on a sharded table never hydrates the full manifest set:
    driver-side metadata READS during the merge are O(touched groups)
    — here exactly one manifest load for a one-bucket batch on a
    32-group table — and the commit reuses every other group's
    manifest by pointer."""
    import datetime as dt

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, ts timestamp",
        num_buckets=32,
    )
    wide = spark.range(320).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(wide, run_id="r", batch_id=0)

    with count_manifest_loads() as loads:
        one = spark.createDataFrame(
            [("c7", 0, dt.datetime(2025, 1, 1), 10_000, "U")],
            "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
        )
        res = t.merge(one, run_id="r", batch_id=1)
    assert len(res["buckets_touched"]) == 1
    assert len(loads) == 1, loads  # only the touched group's manifest
    assert t.read().where("conv_id = 'c7'").collect()[0].ts == dt.datetime(
        2025, 1, 1
    )


def test_wm_history_segments_roll_and_attribution_survives(
    spark, tmp_path, monkeypatch
):
    """Per-snapshot watermark history stays O(1): with a tiny segment
    threshold, many merges roll history into immutable segment files,
    the inline tail stays bounded, and deep-window CDF attribution +
    expired-from recovery read through the segments."""
    monkeypatch.setattr(LakeTable, "_WM_SEGMENT_ROWS", 4)
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    for i in range(12):
        src = spark.createDataFrame(
            [("c1", i, __import__("datetime").datetime(2024, 1, 1 + i), i, "I")],
            "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
        )
        t.merge(src, run_id="r", batch_id=i)
    snap = t.current()
    assert len(snap.wm_history) <= 5  # tail bounded by threshold+1
    assert len(snap.wm_segments) >= 1
    full = t._full_wm_history(snap)
    assert [w for _, w in full] == [-1] + list(range(12))  # nothing lost

    # deep-window attribution spans segments: every upsert attributes
    # to the version that applied it
    feed = t.changes(1, with_version=True).toPandas()
    assert feed._commit_version.notna().all()
    assert len(feed) == 11  # turns 1..11 net-changed since version 1
    # expired FROM-version recovery also reads through segments
    t.expire_snapshots(keep_last=2)
    feed2 = t.changes(3).toPandas()
    assert set(feed2.turn_idx) == set(range(3, 12))


def test_expire_snapshots_collects_dead_manifests(spark, tmp_path):
    """Manifests referenced only by expired snapshots are deleted with
    them; shared (reused) manifests survive and the table reads
    correctly afterwards."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    for i in range(6):
        t.append(_df(spark, 4))
    before = _manifest_files(t)
    res = t.expire_snapshots(keep_last=2)
    assert res["manifests_deleted"] >= 1
    after = _manifest_files(t)
    assert after < before
    assert t.read().count() == 24  # appended rows all still readable
    # every surviving snapshot still hydrates
    for v in sorted(
        int(p.split("version-")[1].split(".")[0])
        for p in __import__("glob").glob(
            os.path.join(t.meta_dir, "version-*.json")
        )
    ):
        assert t.snapshot(v).files is not None


def test_append_is_group_edit_on_sharded_table(
    spark, tmp_path
):
    """A blind append on a sharded table never hydrates the full file
    list: only the groups RECEIVING files load their prior manifest
    (one here), every other group's manifest is reused by pointer, and
    exactly one new manifest is written — append-only ingest stays
    O(appended buckets) in the metadata plane."""

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=32)
    wide = spark.range(320).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(wide, run_id="r", batch_id=0)
    before = _manifest_files(t)

    with count_manifest_loads() as loads:
        one = spark.createDataFrame(
            [("c7", 99)], "conv_id string, turn_idx int"
        ).withColumn("ts", F.timestamp_seconds(F.lit(1700099999)))
        t.append(one)
    assert len(loads) == 1, loads  # only the receiving group's manifest
    assert len(_manifest_files(t) - before) == 1
    assert t.read().count() == 321
    assert t.lookup("c7").count() == 2  # old merged row + appended row


def test_targeted_compact_loads_only_selected_groups(
    spark, tmp_path
):
    """compact(buckets=[b]) on a sharded table loads exactly the
    selected groups' manifests (here 1 of 32), folds that bucket's
    small files into one, and reuses every other group's manifest by
    pointer — the StreamDriver's periodic maintenance never pays an
    O(table-files) metadata read."""
    from etl_rs_spark.functions.xxh64 import bucket_of

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=32)
    wide = spark.range(320).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(wide, run_id="r", batch_id=0)
    b = bucket_of("c7", "string", 32)

    def files_in(bucket):
        return sum(
            m["n_files"]
            for m in t.current().manifest_list
            if m["bucket"] == bucket
        )

    base_n = files_in(b)
    # two appends stack small files into c7's bucket
    for k in range(2):
        t.append(
            spark.createDataFrame(
                [("c7", 100 + k)], "conv_id string, turn_idx int"
            ).withColumn("ts", F.timestamp_seconds(F.lit(1700099999)))
        )
    n_in_group = files_in(b)
    assert n_in_group == base_n + 2

    with count_manifest_loads() as loads:
        res = t.compact(buckets=[b])
    assert res["files_before"] == n_in_group and res["files_after"] == 1
    assert len(loads) == 1, loads  # only the selected group's manifest
    assert t.read().count() == 322
    assert t.lookup("c7").count() == 3


def test_set_num_buckets_lazy_zero_manifest_io(spark, tmp_path):
    """Spec evolution on a sharded table is a PURE metadata commit:
    zero manifests read (the live-spec check uses manifest-list
    summaries) and zero manifests written (hydration stamps each
    entry's spec from its manifest's group, so old manifests need no
    rewrite). Reads, bucket-restricted reads and lookups stay row-exact
    across the mixed-spec window."""

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    wide = spark.range(60).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(wide, run_id="r", batch_id=0)
    before = _manifest_files(t)

    with count_manifest_loads() as loads:
        t.set_num_buckets(8)
    assert loads == []  # zero manifest reads
    assert _manifest_files(t) == before  # zero manifest writes
    snap = t.current()
    assert snap.num_buckets == 8
    # hydration stamps the old spec from each manifest's group
    assert all(f["spec_n"] == 4 for f in snap.files)
    assert t.read().count() == 60
    for B in (0, 5, 7):
        got = t.read(buckets=[B]).count()
        want = t.read().where(bucket_expr("conv_id", 8) == B).count()
        assert got == want, (B, got, want)
    assert t.lookup("c3").count() == 1
    # a post-evolution merge still routes and reads correctly
    import datetime as dt

    t.merge(
        spark.createDataFrame(
            [("c3", 0, dt.datetime(2025, 1, 1), 10_000, "U")],
            "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
        ),
        run_id="r",
        batch_id=1,
    )
    assert t.lookup("c3").first().ts == dt.datetime(2025, 1, 1)
    assert t.read().count() == 60


def test_inspect_files_is_distributed_on_sharded_table(
    spark, tmp_path
):
    """The files metadata table on a sharded snapshot is served by a
    DISTRIBUTED read of the manifest files (Iceberg's files table):
    zero driver-side manifest loads, no file-list hydration — and its
    rows match an independently-built expectation from the hydrated
    list, across mixed write specs, blooms, and a post-evolution
    append."""
    from etl_rs_spark.sinks.lake import _file_spec

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        DDL,
        num_buckets=4,
        props={"write.key-bloom.bits": 4096},
    )
    wide = spark.range(40).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(wide, run_id="r", batch_id=0)
    t.set_num_buckets(8)  # old-spec groups stay, new spec for writes
    t.append(
        spark.createDataFrame(
            [("c7", 99)], "conv_id string, turn_idx int"
        ).withColumn("ts", F.timestamp_seconds(F.lit(1700099999)))
    )

    with count_manifest_loads() as loads:
        got = {
            (
                r.path, r.bucket, r.rows, r.min_lsn, r.max_lsn,
                r.min_key, r.max_key, r.kind, r.spec_n, r.epoch,
                r.has_key_bloom,
            )
            for r in t.inspect_files().collect()
        }
    assert loads == []  # executors parsed the manifests, not the driver
    snap = t.current()
    want = {
        (
            f["path"], int(f["bucket"]), int(f.get("rows", 0)),
            f.get("min_lsn"), f.get("max_lsn"),
            None if f.get("min_key") is None else str(f["min_key"]),
            None if f.get("max_key") is None else str(f["max_key"]),
            f.get("kind", "base"), _file_spec(f, snap),
            int(f.get("epoch", 0)), bool(f.get("key_bloom")),
        )
        for f in snap.files
    }
    assert got == want
    assert {r[8] for r in got} == {4, 8}  # both specs visible
    assert all(r[10] for r in got)  # blooms ride every manifest entry


def test_changes_on_sharded_mor_loads_only_changed_groups(
    spark, tmp_path
):
    """An incremental changes() window on a sharded merge-on-read table
    prunes at the MANIFEST level even when unresolved deltas exist:
    delta coverage and dirty buckets come from the summary line, groups
    wholly at or below the from-watermark are never loaded, and only
    the dirty group's manifest is read for the LWW resolve — O(changed
    groups), never the table's full file list. Feed stays net-exact."""

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        DDL,
        num_buckets=32,
        props={"write.merge.mode": "merge-on-read", "write.delta.max-files": 8},
    )
    wide = spark.range(320).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(wide, run_id="r", batch_id=0)
    v1 = t.current().version
    one = spark.createDataFrame(
        [("c7", 0, 10_000, "U")],
        "conv_id string, turn_idx int, lsn long, op string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1700099999)))
    t.merge(one, run_id="r", batch_id=1)
    assert any(m.get("deltas") for m in t.current().manifest_list)

    with count_manifest_loads() as loads:
        feed = t.changes(v1).toPandas()
    # only the dirty group's manifest (the one holding c7's delta);
    # the other 31 groups sit below the watermark and are never loaded
    assert len(set(loads)) == 1, loads
    assert list(feed.conv_id) == ["c7"]
    assert list(feed._change_type) == ["upsert"]
    assert int(feed._lsn.iloc[0]) == 10_000


def test_applied_log_capped_with_lww_backstop(spark, tmp_path):
    """The exactly-once (run_id -> batch) log is bounded by
    write.applied.max-runs; an evicted run's replayed batch re-merges
    but every event loses/ties under LWW, so state is unchanged."""
    import datetime as dt

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        DDL,
        num_buckets=2,
        props={"write.applied.max-runs": 2},
    )
    ts = dt.datetime(2024, 1, 1)
    for i, run in enumerate(["run_a", "run_b", "run_c"]):
        src = spark.createDataFrame(
            [(f"c{i}", 0, ts, i, "I")],
            "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
        )
        t.merge(src, run_id=run, batch_id=0)
    snap = t.current()
    assert len(snap.applied) == 2 and "run_a" not in snap.applied
    state_before = sorted(
        (r.conv_id, r.turn_idx) for r in t.read().collect()
    )
    # replay the evicted run's batch: re-merges, LWW makes it a no-op
    replay = spark.createDataFrame(
        [("c0", 0, ts, 0, "I")],
        "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
    )
    t.merge(replay, run_id="run_a", batch_id=0)
    assert (
        sorted((r.conv_id, r.turn_idx) for r in t.read().collect())
        == state_before
    )


def test_row_count_and_manifest_fed_dedup_cap(spark, tmp_path):
    """row_count comes from manifest-list summaries with ZERO Spark
    jobs (asserted via a job group), and the table-level dedup entry
    feeds it into the hot-gram cap so corpus-scale dedup never runs a
    count job either."""
    import datetime as dt

    from etl_rs_spark.operators.dedup import auto_doc_freq_cap

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, text string, ts timestamp",
        num_buckets=4,
    )
    src = spark.range(60).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.concat(
            F.lit("the quick brown fox jumps over doc "), F.col("id")
        ).alias("text"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(src, run_id="r", batch_id=0)

    sc = spark.sparkContext
    sc.setJobGroup("rowcount-zero-jobs", "manifest row count", False)
    n = t.row_count()
    sc.setJobGroup(None, None, False)  # type: ignore[arg-type]
    assert n == 60
    assert sc.statusTracker().getJobIdsForGroup("rowcount-zero-jobs") == []
    assert auto_doc_freq_cap(n) == 16  # sqrt(60) < 16 floor

    # the table-level dedup entry wires the manifest count through:
    # every doc shares the 6-word stop phrase, so with the cap the
    # shared grams are dropped and no pair crosses the threshold
    pairs = t.ngram_dedup_pairs("conv_id", "text", n=3, threshold=0.5)
    assert pairs.count() == 0


def test_vacuum_orphans_removes_only_unreferenced(spark, tmp_path):
    """Files from a crashed (uncommitted) write are deleted; every
    file referenced by any retained snapshot survives and the table
    still reads correctly."""
    import glob as _glob
    import os as _os

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "k string, v int",
        key_cols=("k",),
        order_cols=("v",),
        bucket_col="k",
        num_buckets=2,
    )
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    t.append(spark.createDataFrame([("c", 3)], "k string, v int"))
    before = set(_glob.glob(_os.path.join(t.data_dir, "**", "*.parquet"), recursive=True))
    # simulate a crashed writer: a data file present on disk, in no manifest
    orphan = _os.path.join(t.data_dir, "orphan-000.parquet")
    spark.createDataFrame([("x", 9)], "k string, v int").toPandas().to_parquet(orphan)
    # default age threshold protects a possibly in-flight writer's
    # fresh files: the young orphan is skipped, not deleted
    stats = t.vacuum_orphans()
    assert stats["orphans_deleted"] == 0 and stats["skipped_young"] == 1
    assert _os.path.exists(orphan)
    stats = t.vacuum_orphans(older_than_s=0)
    assert stats["orphans_deleted"] == 1
    assert not _os.path.exists(orphan)
    after = set(_glob.glob(_os.path.join(t.data_dir, "**", "*.parquet"), recursive=True))
    assert after == before
    assert t.read().count() == 3


def test_vacuum_orphans_distributed(spark, tmp_path):
    """Vacuum (Iceberg's remove_orphan_files) runs no Spark job and
    loads each manifest at most once: the data directory is listed on
    the driver and matched by path suffix against every retained
    manifest. Old orphans (deep and root-level) go, young ones and
    every live file stay, the table reads exactly as before — across a
    spec evolution. (The name predates the removal of the
    executor-side vacuum this test once exercised.)"""
    import glob as _glob
    import os as _os

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    wide = spark.range(50).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(wide, run_id="r", batch_id=0)
    t.set_num_buckets(8)
    t.append(
        spark.createDataFrame(
            [("c3", 77)], "conv_id string, turn_idx int"
        ).withColumn("ts", F.timestamp_seconds(F.lit(1700099999)))
    )
    live_before = set(
        _glob.glob(
            _os.path.join(t.data_dir, "**", "*.parquet"), recursive=True
        )
    )
    rows_before = t.read().count()
    # crashed-writer residue: one deep orphan (aged), one root-level
    # orphan (aged), one young deep orphan
    crash_dir = _os.path.join(t.data_dir, "commit-99999999-deadbeef", "__b=0")
    _os.makedirs(crash_dir)
    pdf = spark.createDataFrame([("x", 9)], "k string, v int").toPandas()
    old_deep = _os.path.join(crash_dir, "part-orphan-a.snappy.parquet")
    old_root = _os.path.join(t.data_dir, "orphan-root.parquet")
    young = _os.path.join(crash_dir, "part-orphan-b.snappy.parquet")
    for p in (old_deep, old_root, young):
        pdf.to_parquet(p)
    stale = 1, 1  # atime, mtime far in the past
    _os.utime(old_deep, stale)
    _os.utime(old_root, stale)

    got = []
    with count_manifest_loads() as loads:
        jobs = spark_jobs_during(spark, lambda: got.append(t.vacuum_orphans()))
    stats = got[0]
    assert jobs == []
    assert loads and len(loads) == len(set(loads))
    assert stats["orphans_deleted"] == 2
    assert stats["skipped_young"] == 1
    assert not _os.path.exists(old_deep) and not _os.path.exists(old_root)
    assert _os.path.exists(young)
    after = set(
        _glob.glob(
            _os.path.join(t.data_dir, "**", "*.parquet"), recursive=True
        )
    )
    assert after == live_before | {young}
    assert t.read().count() == rows_before
    # and once the in-flight grace elapses, the young orphan goes too
    stats = t.vacuum_orphans(older_than_s=0)
    assert stats["orphans_deleted"] == 1
    assert after - {young} == set(
        _glob.glob(
            _os.path.join(t.data_dir, "**", "*.parquet"), recursive=True
        )
    )


def _rows_from(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.format_string("c%d", F.col("id") % 4).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )


def _parquet_under(d):
    import glob as _glob

    return set(_glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


@pytest.mark.parametrize("via", ["real", "link"])
def test_retention_keeps_files_written_through_another_root_spelling(
    spark, tmp_path, via
):
    """One table written through two handles whose roots differ only by
    a symlink: each handle's manifest entries spell the root its own
    way. Vacuum and, after a compaction, expiry run from either handle
    delete no live file, and the table reads as before."""
    (tmp_path / "x").mkdir()
    os.symlink(tmp_path / "x", tmp_path / "y")
    handles = {
        "real": LakeTable.create(
            spark, str(tmp_path / "x" / "t"), DDL, num_buckets=2
        )
    }
    handles["link"] = LakeTable.load(spark, str(tmp_path / "y" / "t"))
    handles["real"].append(_rows_from(spark, 0, 6))
    handles["link"].append(_rows_from(spark, 6, 12))
    t = handles[via]
    rows = sorted(t.read().collect())
    assert len(rows) == 12

    def live_files_exist():
        return all(os.path.exists(f["path"]) for f in t.current().files)

    assert t.vacuum_orphans(older_than_s=0)["orphans_deleted"] == 0
    assert live_files_exist()
    assert sorted(t.read().collect()) == rows
    t.compact()
    assert t.expire_snapshots(keep_last=1)["files_deleted"] > 0
    assert t.vacuum_orphans(older_than_s=0)["orphans_deleted"] == 0
    assert live_files_exist()
    assert sorted(t.read().collect()) == rows


def test_retention_honours_every_reference_kind(spark, tmp_path):
    """One table carrying every reference retention must honour — a
    tag on main, a branch tip, add_files imports inside and outside the
    table root — plus deep, root-level and young crashed-writer orphans.
    Expiry deletes exactly the files that only expired snapshots list
    (never an import); vacuum deletes exactly the aged unreferenced
    files. Each runs no Spark job and loads no manifest twice, and
    main, the branch and the tag read as before."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_rows_from(spark, 0, 6))
    t.create_tag("v1")

    def imported(i, d):
        os.makedirs(d)
        p = os.path.join(d, "part-0.parquet")
        pq.write_table(
            pa.table(
                {
                    "conv_id": [f"e{i}"],
                    "turn_idx": pa.array([500 + i], pa.int32()),
                    "ts": pa.array([1700000000 * 10**6], pa.timestamp("us")),
                }
            ),
            p,
        )
        t.add_files([p])
        return p

    # the import under the root stays listed by the branch tip; the one
    # outside is listed only by main snapshots the expiry drops
    imports = [imported(0, os.path.join(t.data_dir, "imported"))]
    t.create_branch("dev")
    dev = t.on_branch("dev")
    dev.append(_rows_from(spark, 100, 104))
    imports.append(imported(1, str(tmp_path / "ext")))
    for lo in (6, 12, 18):
        t.append(_rows_from(spark, lo, lo + 6))
    t.compact()
    tag_v = t.tags()["v1"]
    want = {
        "main": sorted(t.read().collect()),
        "dev": sorted(dev.read().collect()),
        "tag": sorted(t.read(version=tag_v).collect()),
    }
    meta = t.meta_dir
    listed = {
        v: {f["path"] for f in t.snapshot(v).files}
        for v in (
            int(n[len("version-") : -len(".json")])
            for n in os.listdir(meta)
            if n.startswith("version-")
        )
    }
    # crashed-writer residue: deep and root-level orphans aged past the
    # grace, one young deep orphan
    crash = os.path.join(t.data_dir, "commit-99999999-deadbeef", "__b=0")
    os.makedirs(crash)
    old_deep, young = (os.path.join(crash, f"part-{n}.parquet") for n in "ab")
    old_root = os.path.join(t.data_dir, "orphan-root.parquet")
    for p in (old_deep, young, old_root):
        pq.write_table(pa.table({"k": ["x"]}), p)
    os.utime(old_deep, (1, 1))
    os.utime(old_root, (1, 1))

    def run(action):
        got = []
        with count_manifest_loads() as loads:
            jobs = spark_jobs_during(spark, lambda: got.append(action()))
        assert jobs == []
        assert loads and len(loads) == len(set(loads))
        return got[0]

    before = _parquet_under(t.data_dir)
    exp = run(lambda: t.expire_snapshots(keep_last=1))
    kept = {
        v
        for v in listed
        if os.path.exists(os.path.join(meta, f"version-{v:08d}.json"))
    }
    assert tag_v in kept and t.branches()["dev"] in kept
    assert exp["expired_versions"] == len(listed) - len(kept) > 0
    only_expired = set().union(
        *(listed[v] for v in listed if v not in kept)
    ) - set().union(*(listed[v] for v in kept)) - set(imports)
    assert only_expired
    after = _parquet_under(t.data_dir)
    assert after == before - only_expired
    assert exp["files_deleted"] == len(only_expired)
    assert all(os.path.exists(p) for p in imports)

    vac = run(lambda: t.vacuum_orphans(older_than_s=3600))
    assert vac == {
        "orphans_deleted": 2,
        "skipped_young": 1,
        "orphan_manifests_deleted": 0,
    }
    assert _parquet_under(t.data_dir) == after - {old_deep, old_root}
    assert all(os.path.exists(p) for p in imports)
    assert sorted(t.read().collect()) == want["main"]
    assert sorted(dev.read().collect()) == want["dev"]
    assert sorted(t.read(version=tag_v).collect()) == want["tag"]


@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_bulk_write_with_lsn_raises_watermark(spark, tmp_path, mode):
    """append/overwrite with ``lsn_col`` raise ``watermark_lsn`` to the
    max stored ``_lsn``, so the change feed from the write's own
    version does not emit its rows again."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    rows = _df(spark, 6).withColumn("lsn", F.col("turn_idx").cast("long") + 1)
    getattr(t, mode)(rows, lsn_col="lsn")
    assert t.current().watermark_lsn == 6
    assert t.changes(0).count() == 6
    assert t.changes(1).count() == 0


def test_changes_feed_net_semantics(spark, tmp_path):
    """changes(v) returns exactly the keys whose state changed after v:
    updates/inserts as upsert with final state, deletes as delete; keys
    untouched since v (or re-sent with losing events) never appear."""
    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig
    from etl_rs_spark.generator import gen_change_stream, to_envelope

    cfg = CdcConfig(num_buckets=4)
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=4)
    ev = to_envelope(
        gen_change_stream(spark, n_events=600, n_convs=30, turns_per_conv=6, seed=3)
    )
    apply_batch(t, ev.where(F.col("lsn") < 400), batch_id=0, run_id="r", cfg=cfg)
    v1 = t.current().version
    apply_batch(t, ev.where(F.col("lsn") >= 400), batch_id=1, run_id="r", cfg=cfg)

    feed = t.changes(v1).toPandas()
    assert len(feed) > 0
    # every feed row's lsn is beyond v1's watermark
    assert (feed._lsn > t.snapshot(v1).watermark_lsn).all()

    # reconstruct: state(v1) + feed == state(current), key-wise
    import pandas as pd

    old = t.read(version=v1).toPandas()
    new = t.read().toPandas()
    key = ["conv_id", "turn_idx"]
    up = feed[feed._change_type == "upsert"].drop(columns=["_change_type", "_lsn"])
    dl = feed[feed._change_type == "delete"][key]
    rebuilt = (
        pd.concat([old.merge(feed[key].drop_duplicates(), on=key, how="left", indicator=True)
                      .query("_merge == 'left_only'").drop(columns="_merge"),
                   up], ignore_index=True)
    )
    a = rebuilt.sort_values(key).reset_index(drop=True)[sorted(rebuilt.columns)]
    b = new.sort_values(key).reset_index(drop=True)[sorted(new.columns)]
    import pandas.testing as pdt

    pdt.assert_frame_equal(a, b, check_dtype=False)
    # deleted keys are absent from the new state
    assert new.merge(dl, on=key, how="inner").empty


def test_concurrent_appends_all_survive_with_retry(spark, tmp_path):
    """True-concurrency smoke for the atomic slot claim: four threads
    race appends; losers see a conflict error, retry from a re-read
    HEAD, and every row lands exactly once."""
    import threading

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "k string, v int",
        key_cols=("k",),
        order_cols=("v",),
        bucket_col="k",
        num_buckets=2,
    )
    errors: list[Exception] = []

    def writer(i: int):
        df = spark.createDataFrame([(f"w{i}", i)], "k string, v int")
        for _ in range(20):  # retry loop on conflict
            try:
                t.append(df)
                return
            except LoadError:
                continue
        errors.append(RuntimeError(f"writer {i} starved"))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(f"w{i}", i) for i in range(4)}
    # versions are a contiguous chain with no clobbered slots
    assert t.current().version == 4


def test_changes_with_commit_version(spark, tmp_path):
    """with_version=True attributes each feed row to the snapshot whose
    merge applied its winning event (Delta CDF's _commit_version)."""
    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig

    cfg = CdcConfig(num_buckets=4)
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=4)
    ts = __import__("datetime").datetime(2024, 1, 1)

    def env(rows):
        return spark.createDataFrame(
            rows,
            "lsn long, op string, conv_id string, turn_idx int, ts timestamp, payload string",
        )

    apply_batch(t, env([(1, "U", "a", 0, ts, '{"text":"x"}')]), 0, "r", cfg=cfg)
    v1 = t.current().version
    apply_batch(t, env([(10, "U", "b", 0, ts, '{"text":"y"}')]), 1, "r", cfg=cfg)
    v2 = t.current().version
    apply_batch(t, env([(20, "U", "c", 0, ts, '{"text":"z"}')]), 2, "r", cfg=cfg)
    v3 = t.current().version

    feed = t.changes(0, with_version=True).toPandas()
    by_conv = feed.set_index("conv_id")["_commit_version"].to_dict()
    assert by_conv == {"a": v1, "b": v2, "c": v3}
    # window starting mid-stream attributes only in-window versions
    feed2 = t.changes(v1, with_version=True).toPandas()
    assert set(feed2.conv_id) == {"b", "c"}
    assert feed2.set_index("conv_id")["_commit_version"].to_dict() == {
        "b": v2,
        "c": v3,
    }

    # O(1) driver metadata reads: attribution rides the to-snapshot's
    # embedded wm_history, never per-version snapshot() calls
    reads = {"n": 0}
    real = t.snapshot

    def counting(v):
        reads["n"] += 1
        return real(v)

    t.snapshot = counting
    try:
        t.changes(0, with_version=True).collect()
    finally:
        t.snapshot = real
    assert reads["n"] <= 2  # from-snapshot (+ optional to-snapshot) only

    # expire_snapshots removing INTERMEDIATE version files must not
    # break attribution (the old per-version walk raised FileNotFound);
    # and an expired FROM version resolves via history too
    removed = os.path.join(t.meta_dir, f"version-{v2:08d}.json")
    os.remove(removed)
    feed3 = t.changes(0, with_version=True).toPandas()
    assert feed3.set_index("conv_id")["_commit_version"].to_dict() == {
        "a": v1, "b": v2, "c": v3,
    }
    os.remove(os.path.join(t.meta_dir, f"version-{v1:08d}.json"))
    feed4 = t.changes(v1, with_version=True).toPandas()
    assert feed4.set_index("conv_id")["_commit_version"].to_dict() == {
        "b": v2, "c": v3,
    }


def test_commit_conflict_detected(spark, tmp_path):
    """A commit whose snapshot was derived from a stale HEAD (its
    target version is at or behind the published one) must raise
    instead of silently losing the winner's update. Exercised on
    _commit directly: the public write paths re-read HEAD, so the
    guard protects the read->publish race window inside them."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))  # publishes version 1
    stale = t.current()  # pretend a slow writer derived v1 from v0 too
    with pytest.raises(LoadError, match="conflict"):
        t._commit(stale)
    assert t.current().version == 1
    assert t.read().count() == 4  # the winner's data is intact


def test_commit_crash_residue_recovers(spark, tmp_path):
    """A STALE version file without a HEAD swing (crashed writer) must
    not block the slot: the next commit recycles it and publishes."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    v = t.current().version
    orphan = t.current()
    orphan.version = v + 1
    # age the residue past the claim-staleness window via its EMBEDDED
    # commit stamp — arbitration reads the claim's own committed_at_ms,
    # not filesystem mtime (mtime is coarse/skewed on shared stores)
    old_ms = int((__import__("time").time() - t.STALE_CLAIM_S - 10) * 1000)
    orphan.committed_at_ms = old_ms
    vpath = os.path.join(t.meta_dir, f"version-{v+1:08d}.json")
    with open(vpath, "w") as f:
        f.write(orphan.to_json())
    # mtime says "fresh" — content-based arbitration must recycle anyway
    now = __import__("time").time()
    os.utime(vpath, (now, now))
    t.append(_df(spark, 2))  # claims v+1 over the stale residue
    assert t.current().version == v + 1
    assert t.read().count() == 6


def test_commit_recoverer_race_exactly_one_winner(spark, tmp_path):
    """Recoverer B saw a stale residue, but recoverer A recycled the
    slot while B waited for the recycle lock (fresh claim at vpath
    now). B must lose at the IN-LOCK re-verification — it must NOT
    unlink A's fresh claim (the unlink-then-link race the flock
    closes). Simulated by interposing on _claim_age_s: stale on B's
    pre-lock check, fresh once B holds the lock."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    v = t.current().version

    # A's freshly recycled claim occupies the slot; HEAD not yet swung
    a = t.current()
    a.version = v + 1
    a.committed_at_ms = int(__import__("time").time() * 1000)
    vpath = os.path.join(t.meta_dir, f"version-{v+1:08d}.json")
    with open(vpath, "w") as f:
        f.write(a.to_json())
    a_bytes = open(vpath).read()

    b = t.current()
    b.version = v + 1
    vtmp = os.path.join(t.meta_dir, ".version.loser")
    with open(vtmp, "w") as f:
        f.write(b.to_json())

    real_age = t._claim_age_s
    calls = {"n": 0}

    def staggered_age(path):
        calls["n"] += 1
        # B's pre-lock read happened before A recycled: report stale
        return float("inf") if calls["n"] == 1 else real_age(path)

    t._claim_age_s = staggered_age
    try:
        with pytest.raises(LoadError, match="re-claimed"):
            t._claim_slot(vtmp, vpath, b.version)
    finally:
        t._claim_age_s = real_age
        os.remove(vtmp)
    assert calls["n"] >= 2  # the in-lock re-verification actually ran
    assert open(vpath).read() == a_bytes  # A's fresh claim untouched


def test_commit_corrupt_claim_counts_as_stale(spark, tmp_path):
    """A torn/unreadable claim can only be crashed residue (the write
    path fsyncs the full manifest before linking), so it must be
    recyclable regardless of mtime."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    v = t.current().version
    vpath = os.path.join(t.meta_dir, f"version-{v+1:08d}.json")
    with open(vpath, "w") as f:
        f.write('{"version": ')  # torn JSON, fresh mtime
    t.append(_df(spark, 2))
    assert t.current().version == v + 1
    assert t.read().count() == 6


def test_commit_slot_claim_is_atomic(spark, tmp_path):
    """Two-writer interleaving: writer B passes the HEAD fast-path
    check, but writer A has already claimed the version slot (file
    created, HEAD not yet swung). B must lose at the claim — NOT
    os.replace A's manifest — and after A publishes, exactly A's commit
    survives."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    snap = t.current()

    # writer A: mid-commit — slot claimed (fresh file), HEAD not swung
    a = t.current()
    a.version = snap.version + 1
    # a LIVE claim carries a recent embedded stamp (content-based age)
    a.committed_at_ms = int(__import__("time").time() * 1000)
    vpath = os.path.join(t.meta_dir, f"version-{a.version:08d}.json")
    with open(vpath, "w") as f:
        f.write(a.to_json())
    a_bytes = open(vpath).read()

    # writer B: derived the same target version from the same HEAD;
    # the old HEAD check alone would let it clobber A's claim
    b = t.current()
    b.version = snap.version + 1
    with pytest.raises(LoadError, match="conflict"):
        t._commit(b)
    assert open(vpath).read() == a_bytes  # A's manifest untouched
    assert t.current().version == snap.version  # HEAD untouched

    # writer A completes its publish: exactly one commit survives
    head_tmp = os.path.join(t.meta_dir, ".HEAD.finish")
    with open(head_tmp, "w") as f:
        f.write(str(a.version))
    os.replace(head_tmp, os.path.join(t.meta_dir, "HEAD"))
    assert t.current().version == a.version

    # and a retry by B now fails on the fast path too
    with pytest.raises(LoadError, match="conflict"):
        t._commit(b)


def test_write_props_target_file_rows_and_compression(spark, tmp_path):
    """write.target-file-rows splits a bucket's output into ~volume/
    target files; write.compression picks the parquet codec. Both ride
    the snapshot props so every later write honors them."""
    import pyarrow.parquet as pq

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "k string, v long, ts timestamp",
        key_cols=("k",),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=2,
        props={"write.target-file-rows": 500, "write.compression": "zstd"},
    )
    ts = __import__("datetime").datetime(2024, 1, 1)
    rows = spark.range(4000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.col("id").alias("v"),
        F.lit(ts).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("U").alias("op"),
    )
    t.merge(rows, run_id="r", batch_id=0)
    snap = t.current()
    per_bucket: dict[int, int] = {}
    for f in snap.files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    # ~2000 rows/bucket at target 500 -> ~4 files each; allow hash slack
    for b, nf in per_bucket.items():
        assert nf >= 2, f"bucket {b} not split: {nf} file(s)"
    total_rows = sum(f["rows"] for f in snap.files)
    assert total_rows == 4000
    biggest = max(f["rows"] for f in snap.files)
    assert biggest <= 3 * 500, f"file exceeds target badly: {biggest} rows"
    # codec actually applied
    codecs = {
        pq.ParquetFile(f["path"]).metadata.row_group(0).column(0).compression
        for f in snap.files
        if f["rows"] > 0
    }
    assert codecs == {"ZSTD"}, codecs
    assert t.read().count() == 4000

    # an untuned table is unchanged: one file per touched bucket on a
    # small unskewed merge
    t2 = LakeTable.create(
        spark, str(tmp_path / "t2"), "k string, v long, ts timestamp",
        key_cols=("k",), order_cols=("ts", "lsn"), bucket_col="k", num_buckets=2,
    )
    t2.merge(rows.limit(100), run_id="r", batch_id=0)
    codecs2 = {
        pq.ParquetFile(f["path"]).metadata.row_group(0).column(0).compression
        for f in t2.current().files
        if f["rows"] > 0
    }
    assert "ZSTD" not in codecs2


def test_changes_feed_prunes_untouched_files(spark, tmp_path):
    """After a merge touching 1 of the table's buckets, changes(v)
    must open ONLY the files rewritten by that merge — the manifest's
    per-file max_lsn excludes every below-watermark file from the
    scan."""
    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig

    cfg = CdcConfig(num_buckets=8)
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=8)
    ts = __import__("datetime").datetime(2024, 1, 1)
    wide = spark.createDataFrame(
        [(i, "U", f"c{i}", 0, ts, '{"text": "x"}') for i in range(64)],
        "lsn long, op string, conv_id string, turn_idx int, ts timestamp, payload string",
    )
    apply_batch(t, wide, batch_id=0, run_id="r", cfg=cfg)
    v1 = t.current().version
    narrow = spark.createDataFrame(
        [(100, "U", "c0", 0, ts, '{"text": "y"}')],
        "lsn long, op string, conv_id string, turn_idx int, ts timestamp, payload string",
    )
    apply_batch(t, narrow, batch_id=1, run_id="r", cfg=cfg)

    new_files = {
        os.path.abspath(f["path"])
        for f in t.current().files
        if f.get("max_lsn") is not None and f["max_lsn"] > t.snapshot(v1).watermark_lsn
    }
    total_files = len(t.current().files)
    feed = t.changes(v1)
    opened = {os.path.abspath(p.replace("file:", "")) for p in feed.inputFiles()}
    assert opened, "feed scanned no files"
    assert opened <= new_files, f"feed opened pruned files: {opened - new_files}"
    assert len(opened) < total_files  # strictly fewer than the snapshot
    rows = feed.collect()
    assert {r.conv_id for r in rows} == {"c0"}
    # manifest carries per-file lsn ranges for every merged file
    assert all(
        f.get("max_lsn") is not None and f.get("min_lsn") is not None
        for f in t.current().files
    )


def test_merge_promotes_column_types_in_place(spark, tmp_path):
    """An existing column arriving with an Iceberg-promotable wider type
    (int->long, float->double, decimal precision growth) widens the
    table column in place; files written before the promotion are read
    back through the widened schema (Spark 4 widening parquet read,
    SPARK-40876) with values intact, and a later narrow-typed batch
    does not narrow the schema back."""
    ts = __import__("datetime").datetime(2024, 1, 1)
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "k string, score int, ratio float, amt decimal(10,2), ts timestamp",
        key_cols=("k",),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=2,
    )
    first = spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.col("id").cast("int").alias("score"),
        (F.col("id") / 2).cast("float").alias("ratio"),
        F.col("id").cast("decimal(10,2)").alias("amt"),
        F.lit(ts).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    stats = t.merge(first, run_id="r", batch_id=0)
    assert stats["schema_promoted"] == {}

    second = spark.createDataFrame(
        [("k1", 2**40, 0.25, __import__("decimal").Decimal("123.45"), ts, 100, "U"),
         ("knew", 7, 1.5, __import__("decimal").Decimal("1.00"), ts, 101, "I")],
        "k string, score long, ratio double, amt decimal(12,2), ts timestamp, lsn long, op string",
    )
    stats = t.merge(second, run_id="r", batch_id=1)
    assert stats["schema_promoted"] == {
        "score": "bigint", "ratio": "double", "amt": "decimal(12,2)",
    }
    sch = {f.name: f.dataType.simpleString() for f in t.current().schema().fields}
    assert sch["score"] == "bigint"
    assert sch["ratio"] == "double"
    assert sch["amt"] == "decimal(12,2)"

    got = {r["k"]: (r["score"], r["ratio"], r["amt"]) for r in t.read().collect()}
    assert len(got) == 11
    assert got["k1"][0] == 2**40 and got["k1"][1] == 0.25
    assert str(got["k1"][2]) == "123.45"
    # pre-promotion rows (possibly in untouched buckets/files) read back
    # through the widened schema, values intact
    assert got["k2"][0] == 2 and got["k2"][1] == 1.0
    assert str(got["k2"][2]) == "2.00"

    third = spark.createDataFrame(
        [("k3", 3, 9.0, ts, 102, "U")],
        "k string, score int, ratio float, ts timestamp, lsn long, op string",
    )
    stats = t.merge(third, run_id="r", batch_id=2)
    assert stats["schema_promoted"] == {}
    sch = {f.name: f.dataType.simpleString() for f in t.current().schema().fields}
    assert sch["score"] == "bigint" and sch["ratio"] == "double"
    assert t.read().where(F.col("k") == "k3").collect()[0]["score"] == 3


def test_bucket_column_promotion_rejected(spark, tmp_path):
    """Promoting the BUCKET column's type in place is rejected: Spark's
    xxhash64 hashes int and long differently, so a promoted bucket
    column would route keys away from their pre-promotion files and
    make manifest key blooms / min-max bounds silently false-negative
    (lookup() dropping rows). The merge must fail loudly instead; a
    pre-promotion key stays retrievable afterwards."""
    ts = __import__("datetime").datetime(2024, 1, 1)
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "k int, v string, ts timestamp",
        key_cols=("k",),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=4,
        props={"write.key-bloom.bits": 4096},
    )
    first = spark.range(20).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.lit(ts).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(first, run_id="r", batch_id=0)

    widened = spark.createDataFrame(
        [(2**40, "wide", ts, 100, "I")],
        "k long, v string, ts timestamp, lsn long, op string",
    )
    with pytest.raises(LoadError, match="bucket column"):
        t.merge(widened, run_id="r", batch_id=1)
    # schema unchanged, pre-promotion keys still found via the pruned
    # (bounds + bloom) lookup path
    sch = {f.name: f.dataType.simpleString() for f in t.current().schema().fields}
    assert sch["k"] == "int"
    assert [r["v"] for r in t.lookup(7).collect()] == ["v7"]
    # the documented migration path — cast the key to the table type
    # upstream — works (key value back in int range)
    ok = spark.createDataFrame(
        [(777, "wide", ts, 100, "I")],
        "k int, v string, ts timestamp, lsn long, op string",
    )
    assert t.merge(ok, run_id="r", batch_id=1)["skipped"] is False
    assert [r["v"] for r in t.lookup(777).collect()] == ["wide"]


def test_changes_across_promotion_window(spark, tmp_path):
    """A CDF window spanning a type promotion reads every in-window file
    through the TO-snapshot's (widened) schema — including untouched
    buckets' pre-promotion files when the watermark forces them open —
    and surfaces the post-promotion values at the widened type."""
    ts = __import__("datetime").datetime(2024, 1, 1)
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "k string, score int, ts timestamp",
        key_cols=("k",),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=4,
    )
    first = spark.range(20).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.col("id").cast("int").alias("score"),
        F.lit(ts).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(first, run_id="r", batch_id=0)
    second = spark.createDataFrame(
        [("k1", 2**40, ts, 100, "U")],
        "k string, score long, ts timestamp, lsn long, op string",
    )
    t.merge(second, run_id="r", batch_id=1)

    # window spanning creation -> promotion: opens pre-promotion files
    feed_all = t.changes(0)
    assert dict(feed_all.dtypes)["score"] == "bigint"
    got = {r["k"]: r["score"] for r in feed_all.collect()}
    assert len(got) == 20 and got["k1"] == 2**40 and got["k2"] == 2

    # increment window: only the promoted batch
    feed = t.changes(1)
    rows = feed.collect()
    assert [(r["k"], r["score"], r["_change_type"]) for r in rows] == [
        ("k1", 2**40, "upsert")
    ]


def test_lookup_prunes_to_key_buckets(spark, tmp_path):
    """lookup(values) returns exactly the matching rows while scanning
    ONLY the files of the buckets those values hash into — O(k/N) of
    the table for a k-key lookup, the Iceberg bucket-partition prune."""
    t = _bucketed_table(spark, tmp_path)
    keys = ["c3", "c17"]
    got = t.lookup(keys).orderBy("conv_id", "turn_idx").collect()
    want = (
        t.read()
        .where(F.col("conv_id").isin(keys))
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert got == want and len(got) == 20

    snap = t.current()
    wanted = set(t._buckets_for(keys, snap))
    assert len(wanted) <= 2
    allowed = {
        os.path.basename(f["path"])
        for f in snap.files
        if f["bucket"] in wanted
    }
    with lookup_tier("spark"):
        touched = {os.path.basename(p) for p in t.lookup(keys).inputFiles()}
    assert touched and touched <= allowed
    # the prune is real: untouched buckets exist and were not scanned
    assert len(allowed) < len(snap.files)


def _bucketed_table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=8)
    t.append(_df(spark, 400, convs=40))
    return t


def test_lookup_prunes_to_key_buckets_local(spark, tmp_path):
    """Local-tier twin: the driver reads the files the Spark plan
    scans and returns the same rows, with no Spark job."""
    t = _bucketed_table(spark, tmp_path)
    assert len(assert_local_twin(spark, t, ["c3", "c17"])) > 0


def test_lookup_scalar_missing_and_time_travel(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.append(_df(spark, 20, convs=4))  # version 1
    t.overwrite(_df(spark, 8, convs=2))  # version 2
    assert t.lookup("c3").count() == 0  # overwritten away
    assert t.lookup("c1").count() == 4
    assert t.lookup("c3", version=1).count() == 5  # time travel
    assert t.lookup("nope").count() == 0
    assert t.lookup([]).count() == 0


def test_lookup_resolves_mor_delta_buckets(spark, tmp_path):
    """A lookup landing on a bucket with unresolved delta files gets the
    per-key LWW winner (and honors tombstones), same as read()."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, text string, ts timestamp",
        num_buckets=4,
        props={"write.merge.mode": "merge-on-read", "write.delta.max-files": 8},
    )

    def w(rows):
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, lsn long, op string, text string"
        ).select(
            "conv_id",
            "turn_idx",
            F.timestamp_seconds(F.lit(1700000000) + F.col("lsn")).alias("ts"),
            "lsn",
            "op",
            "text",
        )

    t.merge(w([("a", 0, 1, "I", "v1"), ("b", 0, 2, "I", "bee")]), run_id="r", batch_id=0)
    t.merge(w([("a", 0, 3, "U", "v2"), ("b", 0, 4, "D", None)]), run_id="r", batch_id=1)
    assert any(f.get("kind") == "delta" for f in t.current().files)
    rows = {r["conv_id"]: r["text"] for r in t.lookup(["a", "b"]).collect()}
    assert rows == {"a": "v2"}


def test_tags_pin_versions_against_expiry(spark, tmp_path):
    """create_tag pins a snapshot (and its files) through
    expire_snapshots — Iceberg refs semantics: retention trims untagged
    history, the tagged training-cut version stays reproducible until
    the tag is dropped."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 10))  # v1: files only v1 references after...
    v1_files = [f["path"] for f in t.current().files]
    t.overwrite(_df(spark, 6))  # ...v2 replaces them
    t.create_tag("train-cut", 1)  # v3, metadata-only
    for _ in range(4):
        t.append(_df(spark, 3))  # v4..v7
    assert t.tags() == {"train-cut": 1}
    t.expire_snapshots(keep_last=2)
    # the tagged version survives outside the keep-last window,
    # with its data files intact and readable
    assert t.read(version=1).count() == 10
    assert all(os.path.exists(p) for p in v1_files)
    with pytest.raises(LoadError):
        t.create_tag("train-cut")  # duplicate
    with pytest.raises(LoadError):
        t.create_tag("dangling", 99)  # must name a live version
    t.drop_tag("train-cut")
    with pytest.raises(LoadError):
        t.drop_tag("train-cut")  # already gone
    t.expire_snapshots(keep_last=2)
    # unpinned, the old version and its exclusive files are reclaimed
    assert not os.path.exists(
        os.path.join(t.meta_dir, "version-00000001.json")
    )
    assert not any(os.path.exists(p) for p in v1_files)
    # current state never disturbed
    assert t.read().count() == 6 + 4 * 3


def test_lookup_skips_files_by_key_bounds(spark, tmp_path):
    """Inside a single bucket, lookup opens only the files whose
    manifest key bounds (min_key/max_key — Iceberg's per-file
    lower/upper bounds) can hold the sought key: a hot bucket that
    accumulated many commits is read O(files holding the key), not
    O(bucket files)."""
    t = _three_group_table(spark, tmp_path)
    snap = t.current()
    assert len(snap.files) == 3
    assert all(
        f.get("min_key") is not None and f.get("max_key") is not None
        for f in snap.files
    )
    with lookup_tier("spark"):
        got = t.lookup("b05")
    assert got.count() == 1
    touched = {os.path.basename(p) for p in got.inputFiles()}
    holders = {
        os.path.basename(f["path"])
        for f in snap.files
        if f["min_key"] <= "b05" <= f["max_key"]
    }
    assert len(holders) == 1 and touched == holders
    # multi-key lookup unions the per-key file sets, nothing more
    with lookup_tier("spark"):
        two = t.lookup(["a01", "c09"])
        assert two.count() == 2
        assert len({os.path.basename(p) for p in two.inputFiles()}) == 2
        # a key outside every file's bounds opens nothing at all
        assert t.lookup("zz").count() == 0
        assert t.lookup("zz").inputFiles() == []


def _three_group_table(spark, tmp_path):
    """One bucket, three appends of disjoint key ranges a*, b*, c*."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=1)
    for grp in ("a", "b", "c"):
        df = spark.range(10).select(
            F.format_string(grp + "%02d", F.col("id")).alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        )
        t.append(df)
    return t


def test_lookup_skips_files_by_key_bounds_local(spark, tmp_path):
    """Local-tier twin: the same key-bound prune decides which files
    the driver opens — one, two, or none."""
    t = _three_group_table(spark, tmp_path)
    assert len(assert_local_twin(spark, t, "b05")) == 1
    assert len(assert_local_twin(spark, t, ["a01", "c09"])) == 2
    assert assert_local_twin(spark, t, "zz") == []


def test_range_distribution_gives_disjoint_key_bounds(spark, tmp_path):
    """write.distribution-mode=range (Iceberg range distribution)
    range-partitions a bucket's output by key, so its files carry
    tight DISJOINT key bounds and lookup opens a small subset — the
    discrimination hash+LSN-salted splits (every file spans the whole
    key range) cannot provide."""
    t = _range_layout_table(spark, tmp_path)
    snap = t.current()
    assert len(snap.files) >= 4  # target-file-rows honored in range mode
    ordered = sorted(snap.files, key=lambda f: f["min_key"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["max_key"] <= b["min_key"]  # disjoint key intervals
    with lookup_tier("spark"):
        got = t.lookup("c07")
    assert got.count() == 5
    assert len(got.inputFiles()) < len(snap.files)
    assert t.read().count() == 400


def _range_layout_table(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        DDL,
        num_buckets=1,
        props={
            "write.distribution-mode": "range",
            "write.target-file-rows": 50,
        },
    )
    src = spark.range(400).select(
        F.format_string("c%02d", F.col("id") % 80).alias("conv_id"),
        (F.col("id") / 80).cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(src, run_id="r", batch_id=0)
    return t


def test_range_distribution_gives_disjoint_key_bounds_local(spark, tmp_path):
    """Local-tier twin of the range-layout prune."""
    t = _range_layout_table(spark, tmp_path)
    opened = assert_local_twin(spark, t, "c07")
    assert 0 < len(opened) < len(t.current().files)


def test_key_bloom_prunes_hash_layout_files(spark, tmp_path):
    """write.key-bloom.bits: under the default HASH distribution,
    every append/merge leaves files spanning the whole key range, so
    min/max bounds can't discriminate between a bucket's files — the
    manifest bloom must. Three appends of DISJOINT key sets into one
    bucket: a lookup for a key from the second append must open fewer
    files than the bucket holds (bloom-skipped without being opened)
    and return exactly the right rows."""
    t = _bloom_table(spark, tmp_path)
    snap = t.current()
    assert len(snap.files) == 3
    assert all(
        f.get("key_bloom") and f.get("kb_bits") == 4096 for f in snap.files
    )
    with lookup_tier("spark"):
        got = t.lookup("c1005")
        assert got.count() == 1
        opened = got.inputFiles()
        assert len(opened) == 1  # blooms skipped the two foreign files
        # correctness guard: a key present in EVERY append is found in all
        t2 = t.lookup("c0999")  # absent everywhere
        assert t2.count() == 0
        assert len(t2.inputFiles()) == 0  # pure metadata miss: no file opened
    assert t.read().count() == 90


def _bloom_table(spark, tmp_path):
    """One bucket, key blooms on, three appends of disjoint key sets."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        DDL,
        num_buckets=1,
        props={"write.key-bloom.bits": 4096},
    )

    def batch(lo):
        return spark.range(lo, lo + 30).select(
            F.format_string("c%03d", F.col("id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        )

    for lo in (0, 1000, 2000):
        t.append(batch(lo))
    return t


def test_key_bloom_prunes_hash_layout_files_local(spark, tmp_path):
    """Local-tier twin: the manifest bloom decides which files the
    driver opens."""
    t = _bloom_table(spark, tmp_path)
    assert len(assert_local_twin(spark, t, "c1005")) == 1
    assert assert_local_twin(spark, t, "c0999") == []


def test_key_bloom_survives_compaction_and_merge(spark, tmp_path):
    """Blooms are recomputed by every write path (merge + compact both
    route through _write_files), and a bloom-pruned lookup still sees
    LWW resolution and tombstones correctly."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        DDL,
        num_buckets=2,
        props={"write.key-bloom.bits": 1024},
    )
    src = spark.range(40).select(
        F.format_string("c%02d", F.col("id") % 20).alias("conv_id"),
        (F.col("id") / 20).cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(src, run_id="r", batch_id=0)
    # delete one conversation's turn, then compact
    d = spark.createDataFrame(
        [("c07", 0, __import__("datetime").datetime(2024, 1, 1), 100, "D")],
        "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
    )
    t.merge(d, run_id="r", batch_id=1)
    t.compact()
    assert all(f.get("key_bloom") for f in t.current().files)
    assert t.lookup("c07").count() == 1  # turn 1 survives, turn 0 deleted
    assert t.lookup("c08").count() == 2


def test_key_bloom_never_false_negative(spark, tmp_path):
    """The bloom may keep a file it could skip, never skip a file it
    must keep: every one of 200 present keys must be found through the
    bloom-pruned lookup path, including keys sharing files and keys
    landing in every bucket."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        DDL,
        num_buckets=4,
        props={"write.key-bloom.bits": 2048},
    )
    for lo in (0, 50, 100, 150):  # four appends -> multi-file buckets
        t.append(
            spark.range(lo, lo + 50).select(
                F.sha1(F.col("id").cast("string")).alias("conv_id"),
                F.lit(0).alias("turn_idx"),
                F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias(
                    "ts"
                ),
            )
        )
    keys = [r.conv_id for r in t.read().select("conv_id").collect()]
    assert len(keys) == 200
    found = t.lookup(keys).count()
    assert found == 200  # no present key may be bloom-skipped
    # batched lookups across files also exact
    some = keys[::7]
    assert t.lookup(some).count() == len(some)


def test_parquet_native_bloom_filter_property(spark, tmp_path):
    """write.parquet.bloom-filter-enabled.column.<col> (Iceberg table
    property) plants parquet-native bloom filters: same data written
    with the property on is strictly larger on disk (the serialized
    bloom bitsets), and reads stay identical."""
    src = spark.range(5000).select(
        F.format_string("c%04d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )

    def size(props):
        t = LakeTable.create(
            spark,
            str(tmp_path / f"t{len(props)}"),
            DDL,
            num_buckets=1,
            props=props,
        )
        t.append(src)
        assert t.read().count() == 5000
        return sum(os.path.getsize(f["path"]) for f in t.current().files)

    plain = size({})
    with_bloom = size(
        {
            "write.parquet.bloom-filter-enabled.column.conv_id": "true",
            "write.parquet.bloom-filter-ndv.column.conv_id": "5000",
        }
    )
    assert with_bloom > plain + 1000  # the bloom bitset is in the file


def test_delete_where_tombstones_through_merge(spark, tmp_path):
    """DELETE FROM ... WHERE rides the merge: matching rows are gone
    from reads, appear as deletes in the CDF, survive replay of
    already-watermarked events, and lose to genuinely newer events."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    src = _df(spark, 12).withColumn("op", F.lit("I")).withColumn(
        "lsn", F.col("turn_idx").cast("long")
    )
    t.merge(src, run_id="r", batch_id=0)
    wm = t.current().watermark_lsn
    res = t.delete_where("conv_id = 'c1'")
    assert res["dml"] == "delete"
    assert t.read().where("conv_id = 'c1'").count() == 0
    assert t.read().count() == 9
    # CDF shows the deletes
    feed = t.changes(res["version"] - 1).toPandas()
    assert set(feed[feed._change_type == "delete"].conv_id) == {"c1"}
    # replaying an old (below-watermark (ts, lsn)) event cannot resurrect
    old = src.where("conv_id = 'c1' and turn_idx = 1")
    t.merge(old)
    assert t.read().where("conv_id = 'c1'").count() == 0
    # a genuinely newer event wins over the tombstone
    new = spark.createDataFrame(
        [("c1", 1, __import__("datetime").datetime(2025, 1, 1), wm + 50, "U")],
        "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
    )
    t.merge(new)
    assert t.read().where("conv_id = 'c1'").count() == 1


def test_dml_lsn_tie_loses_to_genuine_stream_event(spark, tmp_path):
    """delete_where/update_where borrow lsn = watermark + 1, an LSN the
    SOURCE can still legitimately produce. A genuine binlog event later
    arriving with exactly that (ts, lsn) must WIN over the stored DML
    row — not tie on (ts, lsn) and get dropped as idempotent replay.
    The hidden sub-LSN tier (stream=1 > DML=0) breaks the tie; true
    replays of the same stream event still tie and no-op."""
    import datetime as dt

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    ts0 = dt.datetime(2024, 6, 1, 12, 0, 0)  # coarse shared timestamp
    src = spark.createDataFrame(
        [("c1", 1, ts0, 10, "I"), ("c2", 1, ts0, 9, "I")],
        "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
    )
    t.merge(src, run_id="r", batch_id=0)
    wm = t.current().watermark_lsn
    assert wm == 10

    # DML tombstones (c1,1) at (stored ts0, lsn wm+1 = 11)
    t.delete_where("conv_id = 'c1'")
    assert t.read().where("conv_id = 'c1'").count() == 0

    # the source now genuinely emits lsn 11 for the same key at the
    # SAME coarse ts — exact (ts, lsn) collision with the DML row
    ev = spark.createDataFrame(
        [("c1", 1, ts0, 11, "I")],
        "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
    )
    t.merge(ev)
    assert t.read().where("conv_id = 'c1'").count() == 1  # event won

    # replaying that SAME event is still an idempotent no-op
    v = t.current().version
    t.merge(ev)
    assert t.read().where("conv_id = 'c1'").count() == 1
    # ...and the update_where flavor behaves the same way
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "t2"),
        "conv_id string, turn_idx int, text string, ts timestamp",
        num_buckets=4,
    )
    src2 = spark.createDataFrame(
        [("c1", 1, "orig", ts0, 10, "I")],
        "conv_id string, turn_idx int, text string, ts timestamp,"
        " lsn long, op string",
    )
    t2.merge(src2, run_id="r", batch_id=0)
    t2.update_where({"text": "'redacted'"}, "conv_id = 'c1'")
    assert t2.read().collect()[0].text == "redacted"
    ev2 = spark.createDataFrame(
        [("c1", 1, "fresh", ts0, 11, "U")],
        "conv_id string, turn_idx int, text string, ts timestamp,"
        " lsn long, op string",
    )
    t2.merge(ev2)
    assert t2.read().collect()[0].text == "fresh"


def test_update_where_rewrites_matching_rows(spark, tmp_path):
    ddl = "conv_id string, turn_idx int, text string, ts timestamp"
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=4)
    src = spark.range(10).select(
        F.format_string("c%d", F.col("id") % 5).alias("conv_id"),
        (F.col("id") / 5).cast("int").alias("turn_idx"),
        F.lit("orig").alias("text"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t.merge(src, run_id="r", batch_id=0)
    res = t.update_where({"text": "upper(concat(text, '-', conv_id))"},
                         "conv_id in ('c1','c2')")
    assert res["dml"] == "update"
    got = {
        (r.conv_id, r.turn_idx): r.text for r in t.read().collect()
    }
    assert got[("c1", 0)] == "ORIG-C1" and got[("c2", 1)] == "ORIG-C2"
    assert got[("c0", 0)] == "orig"
    # assignments may widen the schema additively
    t.update_where({"flag": F.lit("redacted")}, "conv_id = 'c3'")
    rows = t.read().where("conv_id = 'c3'").collect()
    assert all(r.flag == "redacted" for r in rows)
    assert t.read().where("conv_id = 'c0'").collect()[0].flag is None
    # key/order columns are not assignable
    with pytest.raises(LoadError, match="key/order"):
        t.update_where({"conv_id": F.lit("x")})


def test_dml_on_branch_stays_isolated(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 8))
    t.create_branch("fix")
    b = t.on_branch("fix")
    b.delete_where("conv_id = 'c0'")
    assert b.read().where("conv_id = 'c0'").count() == 0
    assert t.read().where("conv_id = 'c0'").count() == 2
    t.fast_forward("fix")
    assert t.read().where("conv_id = 'c0'").count() == 0


def test_analyze_stats_carry_with_staleness(spark, tmp_path):
    """analyze() commits column stats into metadata; later writes carry
    them forward with the analyzed_version staleness marker so a reader
    can tell the numbers predate the newest data."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 12, convs=3))
    st = t.analyze(exact=True)
    assert st["row_count"] == 12
    assert st["columns"]["conv_id"]["ndv"] == 3
    assert st["columns"]["turn_idx"]["min"] == 0
    av = st["analyzed_version"]
    t.append(_df(spark, 6, convs=6))
    cur = t.current()
    assert cur.stats["analyzed_version"] == av  # stale but visible
    assert cur.version > av + 1
    st2 = t.analyze()  # approx NDV path
    assert st2["row_count"] == 18
    assert abs(st2["columns"]["conv_id"]["ndv"] - 6) <= 1


def test_key_bounds_never_hide_tombstones(spark, tmp_path):
    """A merge-on-read delete's delta file carries the real key in its
    bounds, so a bounds-pruned lookup still sees the tombstone and the
    deleted key stays deleted."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, text string, ts timestamp",
        num_buckets=1,
        props={"write.merge.mode": "merge-on-read", "write.delta.max-files": 8},
    )

    def w(rows):
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, lsn long, op string, text string"
        ).select(
            "conv_id",
            "turn_idx",
            F.timestamp_seconds(F.lit(1700000000) + F.col("lsn")).alias("ts"),
            "lsn",
            "op",
            "text",
        )

    t.merge(w([("k1", 0, 1, "I", "v1"), ("k2", 0, 2, "I", "v")]), run_id="r", batch_id=0)
    t.merge(w([("k1", 0, 3, "D", None)]), run_id="r", batch_id=1)
    delta = [f for f in t.current().files if f.get("kind") == "delta"]
    assert delta and all(f.get("min_key") == "k1" for f in delta)
    assert t.lookup("k1").count() == 0
    assert {r["conv_id"] for r in t.lookup(["k1", "k2"]).collect()} == {"k2"}


# --------------------------------------------------- schema evolution --
EVO_DDL = "conv_id string, turn_idx int, text string, score int, ts timestamp"


def _evo_rows(spark, n, text="t", score=1, text_col="text"):
    return spark.range(n).select(
        F.format_string("c%d", F.col("id") % 10).alias("conv_id"),
        (F.col("id") / 10).cast("int").alias("turn_idx"),
        F.lit(text).alias(text_col),
        F.lit(score).cast("int").alias("score"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )


def test_rename_column_is_metadata_only(spark, tmp_path):
    """Rename relabels by field id: no files rewritten, old files read
    under the new name, time travel shows the old name."""
    t = LakeTable.create(spark, str(tmp_path / "t"), EVO_DDL, num_buckets=4)
    t.append(_evo_rows(spark, 40))
    files_before = [f["path"] for f in t.current().files]
    r = t.rename_column("text", "body")
    assert r["renamed"] == {"text": "body"}
    assert [f["path"] for f in t.current().files] == files_before
    df = t.read()
    assert "body" in df.columns and "text" not in df.columns
    assert df.where(F.col("body") == "t").count() == 40
    assert "text" in t.read(version=1).columns  # time travel pre-rename
    # mixed-epoch read: files written after the rename carry new name
    t.append(_evo_rows(spark, 10, text="new", text_col="body"))
    assert t.read().where(F.col("body") == "new").count() == 10
    assert t.read().count() == 50
    with pytest.raises(LoadError):
        t.rename_column("nope", "x")
    with pytest.raises(LoadError):
        t.rename_column("body", "score")


def test_drop_then_readd_does_not_resurrect(spark, tmp_path):
    """Iceberg non-resurrection: a re-added name gets a fresh field id,
    so data written under the retired id stays invisible."""
    t = LakeTable.create(spark, str(tmp_path / "t"), EVO_DDL, num_buckets=4)
    t.append(_evo_rows(spark, 40, score=5))
    t.drop_column("score")
    assert "score" not in t.read().columns
    t.add_column("score", "int")
    assert t.read().where(F.col("score").isNull()).count() == 40
    t.append(_evo_rows(spark, 5, score=99))
    assert t.read().where(F.col("score") == 99).count() == 5
    assert t.read().where(F.col("score").isNull()).count() == 40
    with pytest.raises(LoadError):
        t.drop_column("conv_id")  # key/bucket col
    with pytest.raises(LoadError):
        t.drop_column("ts")  # order col


def test_merge_and_cdf_after_rename(spark, tmp_path):
    """LWW merge and the change feed operate under the renamed schema;
    pre-rename files' values fold correctly by field id."""
    t = LakeTable.create(spark, str(tmp_path / "t"), EVO_DDL, num_buckets=4)
    t.append(_evo_rows(spark, 40))
    t.rename_column("text", "body")
    m = spark.createDataFrame(
        [("c1", 0, 100, "U", "merged", 7)],
        "conv_id string, turn_idx int, lsn long, op string, body string, score int",
    ).select(
        "conv_id", "turn_idx",
        F.timestamp_seconds(F.lit(1800000000)).alias("ts"),
        "lsn", "op", "body", "score",
    )
    t.merge(m, run_id="r", batch_id=0)
    got = t.read().where(
        (F.col("conv_id") == "c1") & (F.col("turn_idx") == 0)
    ).collect()
    assert len(got) == 1 and got[0]["body"] == "merged"
    ch = t.changes(0)
    assert "body" in ch.columns and "text" not in ch.columns
    assert ch.where(F.col("body") == "merged").count() == 1


def test_compaction_physically_drops_retired_columns(spark, tmp_path):
    """Compaction rewrites buckets at the current epoch: retired
    physical columns disappear from disk, state is unchanged."""
    import pyarrow.parquet as pq

    t = LakeTable.create(spark, str(tmp_path / "t"), EVO_DDL, num_buckets=4)
    t.append(_evo_rows(spark, 40))
    t.rename_column("text", "body")
    t.drop_column("score")

    def state():
        return sorted(
            t.read().collect(),
            key=lambda r: (r["conv_id"], r["turn_idx"], str(r["ts"])),
        )

    before = state()
    t.compact()
    snap = t.current()
    assert all(int(f.get("epoch", 0)) == snap.epoch for f in snap.files)
    phys = set(pq.read_schema(snap.files[0]["path"]).names)
    assert "body" in phys and "text" not in phys and "score" not in phys
    assert state() == before


def test_rename_bucket_column_keeps_pruning(spark, tmp_path):
    """Renaming the bucket column re-points key/bucket metadata; lookup
    still prunes (hashing is on values, not names)."""
    t = _renamed_bucket_table(spark, tmp_path)
    snap = t.current()
    assert snap.bucket_col == "conversation"
    assert "conversation" in snap.key_cols
    with lookup_tier("spark"):
        lk = t.lookup(["c1"])
    assert lk.count() == t.read().where(F.col("conversation") == "c1").count() > 0
    wanted = set(t._buckets_for(["c1"], snap))
    allowed = {
        os.path.basename(f["path"])
        for f in snap.files
        if f["bucket"] in wanted
    }
    touched = {os.path.basename(p) for p in lk.inputFiles()}
    assert touched and touched <= allowed


def _renamed_bucket_table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), EVO_DDL, num_buckets=8)
    t.append(_evo_rows(spark, 40))
    t.rename_column("conv_id", "conversation")
    return t


def test_rename_bucket_column_keeps_pruning_local(spark, tmp_path):
    """Local-tier twin: the driver reads the pre-rename files under
    their physical bucket column name."""
    t = _renamed_bucket_table(spark, tmp_path)
    assert len(assert_local_twin(spark, t, ["c1"])) > 0


def test_retired_inline_files_format_fails_loud(spark, tmp_path):
    """A version file carrying an inline ``files`` array (the retired
    pre-manifest format) is refused with LoadError instead of being
    skipped as an unknown key, which would read the table as empty.
    Field ids are still synthesized from schema order at create."""
    import json as _json

    from etl_rs_spark.sinks.lake import Snapshot

    t = LakeTable.create(spark, str(tmp_path / "t"), EVO_DDL, num_buckets=4)
    t.append(_evo_rows(spark, 20))
    snap = t.current()
    assert snap.field_ids == {
        "conv_id": 1, "turn_idx": 2, "text": 3, "score": 4, "ts": 5
    }
    vpath = os.path.join(t.meta_dir, f"version-{snap.version:08d}.json")
    d = _json.loads(open(vpath).read())
    d["files"] = list(snap.files)
    d.pop("manifest_list")
    with open(vpath, "w") as fh:
        fh.write(_json.dumps(d))
    with pytest.raises(LoadError, match="inline 'files'"):
        Snapshot.from_json(open(vpath).read())
    with pytest.raises(LoadError, match="inline 'files'"):
        LakeTable.load(spark, str(tmp_path / "t"))


# ------------------------------------------------ bucket-spec evolution --
SPEC_DDL = "conv_id string, turn_idx int, text string, ts timestamp"


def _spec_batch(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, lsn long, op string, text string"
    ).select(
        "conv_id", "turn_idx",
        F.timestamp_seconds(F.lit(1700000000) + F.col("lsn")).alias("ts"),
        "lsn", "op", "text",
    )


def test_bucket_spec_evolution_grow_metadata_only(spark, tmp_path):
    """set_num_buckets is a metadata-only commit; mixed-spec reads,
    bucket-restricted reads and lookups stay row-exact (modulo-nesting
    of pmod(xxhash64, N) under divisibility)."""
    from etl_rs_spark.sinks.lake import _file_spec

    t = LakeTable.create(spark, str(tmp_path / "t"), SPEC_DDL, num_buckets=4)
    b0 = [
        (f"c{i}", j, i * 10 + j, "I", f"v0-{i}-{j}")
        for i in range(12)
        for j in range(3)
    ]
    t.merge(_spec_batch(spark, b0), run_id="r", batch_id=0)
    paths_before = [f["path"] for f in t.current().files]
    t.set_num_buckets(8)
    snap = t.current()
    assert snap.num_buckets == 8
    assert [f["path"] for f in snap.files] == paths_before  # no rewrite
    assert all(f["spec_n"] == 4 for f in snap.files)
    assert t.read().count() == 36
    for B in (0, 3, 7):
        got = t.read(buckets=[B]).count()
        want = t.read().where(bucket_expr("conv_id", 8) == B).count()
        assert got == want, (B, got, want)
    assert t.lookup("c3").count() == 3
    with pytest.raises(LoadError):
        t.set_num_buckets(6)  # not a multiple/divisor of a live spec


def test_bucket_spec_migration_by_merge_and_compact(spark, tmp_path):
    """Old-spec files migrate incrementally: a merge folding a bucket
    they overlap rewrites them whole under the new spec; compact()
    finishes the tail. State is LWW-correct throughout."""
    from etl_rs_spark.sinks.lake import _file_spec

    t = LakeTable.create(spark, str(tmp_path / "t"), SPEC_DDL, num_buckets=4)
    b0 = [
        (f"c{i}", j, i * 10 + j, "I", f"v0-{i}-{j}")
        for i in range(12)
        for j in range(3)
    ]
    t.merge(_spec_batch(spark, b0), run_id="r", batch_id=0)
    t.set_num_buckets(8)
    t.merge(
        _spec_batch(
            spark, [("c3", 0, 1000, "U", "v1"), ("c99", 0, 1001, "I", "new")]
        ),
        run_id="r",
        batch_id=1,
    )
    rows = {(x["conv_id"], x["turn_idx"]): x["text"] for x in t.read().collect()}
    assert rows[("c3", 0)] == "v1" and rows[("c99", 0)] == "new"
    assert len(rows) == 37
    t.compact()
    snap = t.current()
    assert all(_file_spec(f, snap) == 8 for f in snap.files)
    assert t.read().count() == 37
    # shrink back down; deletes still route correctly
    t.set_num_buckets(4)
    t.merge(_spec_batch(spark, [("c5", 1, 2000, "D", None)]), run_id="r", batch_id=2)
    assert t.read().count() == 36
    assert t.lookup("c3").first()["text"] == "v1"


def test_bucket_spec_evolution_with_mor_deltas(spark, tmp_path):
    """Delta files written before the evolution still resolve per-key
    LWW after it (dirty-set expansion to current-spec ids), in read,
    lookup and the change feed."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        SPEC_DDL,
        num_buckets=4,
        props={"write.merge.mode": "merge-on-read", "write.delta.max-files": 8},
    )
    t.merge(
        _spec_batch(spark, [("a", 0, 1, "I", "v1"), ("b", 0, 2, "I", "b1")]),
        run_id="r", batch_id=0,
    )
    t.merge(_spec_batch(spark, [("a", 0, 3, "U", "v2")]), run_id="r", batch_id=1)
    assert any(f.get("kind") == "delta" for f in t.current().files)
    t.set_num_buckets(8)
    got = {x["conv_id"]: x["text"] for x in t.read().collect()}
    assert got == {"a": "v2", "b": "b1"}
    t.merge(_spec_batch(spark, [("b", 0, 4, "U", "b2")]), run_id="r", batch_id=2)
    got = {x["conv_id"]: x["text"] for x in t.read().collect()}
    assert got == {"a": "v2", "b": "b2"}
    assert t.lookup("a").first()["text"] == "v2"
    ch = {x["conv_id"]: x["_change_type"] for x in t.changes(0).collect()}
    assert ch == {"a": "upsert", "b": "upsert"}


def test_merge_rejects_stale_spec_batch_stats(spark, tmp_path):
    """A set_num_buckets committed between a caller's prescan and the
    merge must not route the fold/delta split on stale bucket ids: the
    merge detects the spec mismatch via batch_stats['spec_n'] and
    recomputes — no rows lost."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SPEC_DDL, num_buckets=4)
    b = _spec_batch(
        spark, [(f"c{i}", 0, i + 1, "I", f"v{i}") for i in range(20)]
    )
    # stats computed under the OLD spec (what apply_batch's prescan
    # would have produced just before the DDL landed)
    stale_counts = {
        r["__b"]: r["n"]
        for r in b.groupBy(bucket_expr("conv_id", 4).alias("__b"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    t.set_num_buckets(8)  # racing DDL
    t.merge(
        b,
        run_id="r",
        batch_id=0,
        batch_stats={"bucket_counts": stale_counts, "hi_lsn": 20, "spec_n": 4},
    )
    assert t.read().count() == 20  # nothing dropped
    assert t.current().watermark_lsn == 20


def _cdc_env(spark, rows):
    """(lsn, op, conv_id, ts) rows as a CDC envelope frame."""
    return spark.createDataFrame(
        [
            (lsn, op, cid, 0, ts, '{"text": "x%d"}' % lsn)
            for lsn, op, cid, ts in rows
        ],
        "lsn long, op string, conv_id string, turn_idx int, "
        "ts timestamp, payload string",
    )


def test_ts_range_read_prunes_old_era_files(spark, tmp_path):
    """Event-time data skipping: a recent-window read must never open
    files whose manifest max_ts lies wholly below the window — the
    dominant access pattern on a years-deep transcript store."""
    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig

    cfg = CdcConfig(num_buckets=8)
    ddl = "conv_id string, turn_idx int, text string, ts timestamp"
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=8)
    era1 = __import__("datetime").datetime(2024, 1, 1)
    era2 = __import__("datetime").datetime(2024, 6, 1)
    apply_batch(
        t,
        _cdc_env(spark, [(i, "U", f"c{i}", era1) for i in range(64)]),
        batch_id=0,
        run_id="r",
        cfg=cfg,
    )
    apply_batch(
        t,
        _cdc_env(spark, [(100, "U", "c0", era2)]),
        batch_id=1,
        run_id="r",
        cfg=cfg,
    )
    snap = t.current()
    # every merged file carries event-time stats
    assert all(
        f.get("min_ts") is not None and f.get("max_ts") is not None
        for f in snap.files
    )
    lo = __import__("datetime").datetime(2024, 3, 1)
    lo_us = int(lo.replace(tzinfo=__import__("datetime").timezone.utc).timestamp()) * 10**6
    keep = {
        os.path.abspath(f["path"])
        for f in snap.files
        if f["max_ts"] >= lo_us
    }
    win = t.read(ts_range=(lo, None))
    opened = {os.path.abspath(p.replace("file:", "")) for p in win.inputFiles()}
    assert opened, "windowed read scanned no files"
    assert opened <= keep, f"opened pruned files: {opened - keep}"
    assert len(opened) < len(snap.files)
    # value-exact vs the unpruned filter
    full = t.read().where(F.col("ts") >= F.lit(lo)).collect()
    assert sorted(map(tuple, win.collect())) == sorted(map(tuple, full))
    assert {r["conv_id"] for r in full} == {"c0"}


def test_ts_range_above_window_supersession_is_exact(spark, tmp_path):
    """A newer out-of-window event (here a delete) must still suppress
    an in-window row: files ABOVE the window are never pruned, only
    files wholly below the lower bound are."""
    import datetime as dt

    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig

    cfg = CdcConfig(num_buckets=4)
    ddl = "conv_id string, turn_idx int, text string, ts timestamp"
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=4)
    era1, era2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    apply_batch(
        t,
        _cdc_env(spark, [(1, "U", "a", era1), (2, "U", "b", era1)]),
        batch_id=0,
        run_id="r",
        cfg=cfg,
    )
    apply_batch(
        t,
        _cdc_env(spark, [(3, "D", "a", era2)]),
        batch_id=1,
        run_id="r",
        cfg=cfg,
    )
    got = t.read(
        ts_range=(dt.datetime(2023, 12, 1), dt.datetime(2024, 2, 1))
    ).collect()
    # 'a' was deleted by a newer (out-of-window) tombstone; only 'b' lives
    assert {r["conv_id"] for r in got} == {"b"}
    # ISO-string bounds behave identically
    got2 = t.read(ts_range=("2023-12-01", "2024-02-01")).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, got))


def test_rollback_restores_state_and_replays_exactly_once(spark, tmp_path):
    """rollback(v) is a metadata-only undo: table state, watermark and
    the exactly-once applied-batch log all return to v, so the undone
    batches re-apply cleanly from a pre-rollback checkpoint instead of
    being skipped — the bad-deploy recovery story."""
    import datetime as dt

    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig

    cfg = CdcConfig(num_buckets=4)
    ddl = "conv_id string, turn_idx int, text string, ts timestamp"
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=4)
    ts = dt.datetime(2024, 1, 1)
    b0 = _cdc_env(spark, [(1, "U", "a", ts), (2, "U", "b", ts)])
    b1 = _cdc_env(spark, [(3, "U", "c", ts), (4, "D", "a", ts)])
    b2 = _cdc_env(spark, [(5, "U", "poison", ts)])
    apply_batch(t, b0, batch_id=0, run_id="r", cfg=cfg)
    v_good = t.current().version
    apply_batch(t, b1, batch_id=1, run_id="r", cfg=cfg)
    v_b1 = t.current().version
    apply_batch(t, b2, batch_id=2, run_id="r", cfg=cfg)
    v_bad = t.current().version
    state_b1 = sorted(map(tuple, t.read(version=v_b1).collect()))

    out = t.rollback(v_b1)
    assert out["restored"] == v_b1 and out["version"] == v_bad + 1
    assert sorted(map(tuple, t.read().collect())) == state_b1
    snap = t.current()
    assert snap.watermark_lsn == t.snapshot(v_b1).watermark_lsn
    # the applied log forgot batch 2 -> replaying it is NOT a no-op
    assert snap.applied == t.snapshot(v_b1).applied
    # undone snapshots stay time-travelable until expiry
    assert {r["conv_id"] for r in t.read(version=v_bad).collect()} >= {
        "poison"
    }
    # replay the undone batch: state converges to the pre-rollback final
    apply_batch(t, b2, batch_id=2, run_id="r", cfg=cfg)
    assert sorted(map(tuple, t.read().collect())) == sorted(
        map(tuple, t.read(version=v_bad).collect())
    )
    # guards
    with pytest.raises(LoadError):
        t.rollback(t.current().version)
    # rollback to the very first merge still works and is itself undoable
    t.rollback(v_good)
    assert {r["conv_id"] for r in t.read().collect()} == {"a", "b"}


def test_write_sort_order_sorts_within_files(spark, tmp_path):
    """write.sort-order=keys (default): every written file's rows are
    key-sorted, so parquet row-group stats on the keys are tight and a
    pushed key-equality predicate skips row groups inside big buckets
    (Iceberg WRITE ORDERED BY). Disable with write.sort-order=none."""
    import datetime as dt

    import pyarrow.parquet as pq

    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig
    from etl_rs_spark.sinks.lake import _sort_order

    cfg = CdcConfig(num_buckets=2)
    ddl = "conv_id string, turn_idx int, text string, ts timestamp"
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    # shuffled key order in the source
    rows = [(i, "U", f"c{(i * 37) % 50}", 0, ts, '{"text": "x"}') for i in range(200)]
    env = spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, "
        "ts timestamp, payload string",
    )
    apply_batch(t, env, batch_id=0, run_id="r", cfg=cfg)
    assert _sort_order(t.current()) == ["conv_id", "turn_idx"]
    for f in t.current().files:
        tb = pq.read_table(f["path"], columns=["conv_id", "turn_idx"])
        got = list(zip(tb["conv_id"].to_pylist(), tb["turn_idx"].to_pylist()))
        assert got == sorted(got), f"unsorted rows in {f['path']}"
    # opt-out is honored
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "t2"),
        ddl,
        num_buckets=2,
        props={"write.sort-order": "none"},
    )
    assert _sort_order(t2.current()) == []
    t3 = LakeTable.create(
        spark,
        str(tmp_path / "t3"),
        ddl,
        num_buckets=2,
        props={"write.sort-order": "conv_id"},
    )
    assert _sort_order(t3.current()) == ["conv_id"]


def test_inspect_manifests_and_partitions(spark, tmp_path):
    """Iceberg's t.manifests / t.partitions metadata tables: served
    entirely from the snapshot's manifest-list summaries — zero
    manifest files opened — and exact against the per-file view,
    including delta chains and a mid-life bucket-spec evolution."""

    ddl = "conv_id string, turn_idx int, text string, ts timestamp"

    def _w(rows):
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, lsn long, op string, text string",
        ).select(
            "conv_id",
            "turn_idx",
            F.timestamp_seconds(F.lit(1700000000) + F.col("lsn")).alias("ts"),
            "lsn",
            "op",
            "text",
        )

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        ddl,
        num_buckets=4,
        props={"write.merge.mode": "merge-on-read"},
    )
    t.merge(_w([(f"c{i}", i, i, "U", f"v{i}") for i in range(12)]),
            run_id="r", batch_id=0)
    t.merge(_w([(f"c{i}", i, 100 + i, "U", f"w{i}") for i in range(12)]),
            run_id="r", batch_id=1)
    t.set_num_buckets(8)  # metadata-only: old groups stay under spec 4
    t.merge(_w([("cX", 99, 200, "U", "x")]), run_id="r", batch_id=2)

    with count_manifest_loads() as loads:
        mf = t.inspect_manifests().collect()
        parts = {
            (r["spec_n"], r["bucket"]): r
            for r in t.inspect_partitions().collect()
        }
    assert loads == []  # summaries only, no manifest hydration

    # exact against the per-file view (distributed manifest read)
    files = t.inspect_files().collect()
    assert sum(m["rows"] for m in mf) == sum(f["rows"] for f in files)
    assert sum(m["n_files"] for m in mf) == len(files)
    assert sum(m["delta_files"] for m in mf) == sum(
        1 for f in files if f["kind"] == "delta"
    )
    # both specs visible until compaction migrates the old groups
    assert {m["spec_n"] for m in mf} == {4, 8}
    assert {s for s, _ in parts} == {4, 8}
    # partitions == manifests aggregated by (spec, bucket)
    for (s, b), r in parts.items():
        grp = [m for m in mf if (m["spec_n"], m["bucket"]) == (s, b)]
        assert r["n_files"] == sum(m["n_files"] for m in grp)
        assert r["rows"] == sum(m["rows"] for m in grp)
        assert r["delta_files"] == sum(m["delta_files"] for m in grp)
        assert r["max_lsn"] == max(m["max_lsn"] for m in grp)
    # the unresolved delta chains are visible per partition (the signal
    # an operator uses to target compact(buckets=...))
    assert any(r["delta_files"] > 0 for r in parts.values())
    # time travel: the pre-evolution version shows only spec 4
    v1 = t.inspect_partitions(version=2).collect()
    assert {r["spec_n"] for r in v1} == {4}
    # full compaction migrates everything to the current spec
    t.compact()
    assert {
        r["spec_n"] for r in t.inspect_partitions().collect()
    } == {8}


def test_snapshot_operation_stamps(spark, tmp_path):
    """Every commit records what produced it (Iceberg snapshot-summary
    operation role), visible in inspect_snapshots; the stamp is
    per-commit, never inherited."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 6))
    winners = _df(spark, 4).select(
        "conv_id", "turn_idx", "ts",
        F.col("turn_idx").cast("long").alias("lsn"),
        F.lit("U").alias("op"),
    )
    t.merge(winners, run_id="r", batch_id=0)
    t.compact()
    t.create_tag("pin")
    t.set_properties({"write.compression": "zstd"})
    t.delete_where("turn_idx = 0")
    t.rollback(3)
    ops = {
        r["version"]: r["operation"]
        for r in t.inspect_snapshots().collect()
    }
    assert ops[0] == "create"
    assert ops[1] == "append"
    assert ops[2] == "merge"
    assert ops[3] == "compact"
    assert ops[4] == "tag"
    assert ops[5] == "properties"
    assert ops[6] == "delete"
    assert ops[7] == "rollback"


def test_fast_forward_stamp_without_epoch_requalifies(spark, tmp_path):
    """A publish stamp that records no branch epoch (two elements) is
    not trusted as a same-life repeat publish: the fast-forward falls
    back to the fork-point check, which rejects a main that moved
    since the fork, instead of failing on the missing element."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_branch("stage")
    b = t.on_branch("stage")
    b.append(_df(spark, 2))
    t.fast_forward("stage")
    cur = t.current()
    assert len(cur.ff_source) == 3
    t._commit(cur.child(ff_source=cur.ff_source[:2], operation="fast-forward"))
    b.append(_df(spark, 2))
    with pytest.raises(LoadError, match="not fast-forwardable"):
        t.fast_forward("stage")
    assert t.read().count() == 6
