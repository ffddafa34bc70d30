"""Branch refs + write-audit-publish (Iceberg branching semantics):
isolation, fast-forward publish, divergence rejection, ref-gated
expiry, cross-branch commit rebase, and the CDC stream-on-branch flow.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.cdc.stream import StreamDriver
from etl_rs_spark.config import CdcConfig
from etl_rs_spark.errors import LoadError
from etl_rs_spark.generator import (
    gen_change_stream,
    to_envelope,
    write_event_files,
)
from etl_rs_spark.oracle import replay
from etl_rs_spark.sinks.lake import LakeTable, Snapshot
from tests.util import assert_state_equal

DDL = "conv_id string, turn_idx int, ts timestamp"


def _df(spark, n=8, convs=4, base=1700000000):
    return spark.range(n).select(
        F.format_string("c%d", F.col("id") % convs).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(base) + F.col("id")).alias("ts"),
    )


def test_branch_isolation_and_listing(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.append(_df(spark, 4))
    assert t.branches() == {"main": 1}
    r = t.create_branch("audit")
    assert r["branch"] == "audit" and "audit" in t.branches()
    b = t.on_branch("audit")
    b.append(_df(spark, 8))
    # branch sees fork state + its own writes; main sees neither
    assert b.read().count() == 12
    assert t.read().count() == 4
    # main advances after the fork: invisible to the branch
    t.append(_df(spark, 2, base=1800000000))
    assert t.read().count() == 6
    assert b.read().count() == 12
    with pytest.raises(LoadError):
        t.on_branch("nope")
    with pytest.raises(LoadError):
        t.create_branch("audit")  # duplicate
    with pytest.raises(LoadError):
        t.create_branch("main")


def test_fast_forward_publish_and_repeat_cycles(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.append(_df(spark, 4))
    t.create_branch("stage")
    b = t.on_branch("stage")
    b.append(_df(spark, 6, base=1800000000))
    r = t.fast_forward("stage")
    assert r["published"] == "stage"
    assert t.read().count() == 10
    # second WAP cycle off the SAME long-lived branch (ff_source path)
    b.append(_df(spark, 3, base=1900000000))
    t.fast_forward("stage")
    assert t.read().count() == 13
    # idempotent no-op when tips already agree
    assert t.fast_forward("stage").get("noop") is True


def test_fast_forward_rejected_after_divergence(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.append(_df(spark, 4))
    t.create_branch("stage")
    b = t.on_branch("stage")
    b.append(_df(spark, 6, base=1800000000))
    t.append(_df(spark, 2, base=1900000000))  # main diverges
    with pytest.raises(LoadError, match="not fast-forwardable"):
        t.fast_forward("stage")
    # main keeps its own state; the branch keeps its own
    assert t.read().count() == 6
    assert b.read().count() == 10


def test_fast_forward_moves_cdc_bookkeeping(spark, tmp_path):
    """Publishing a branch moves the applied-batch log and LSN
    watermark with the data, so a stream that applied on the branch
    stays exactly-once after the publish."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    t.create_branch("stage")
    b = t.on_branch("stage")
    w = _df(spark, 6).withColumn("op", F.lit("U")).withColumn(
        "lsn", F.col("turn_idx").cast("long")
    )
    b.merge(w, run_id="r1", batch_id=0)
    t.fast_forward("stage")
    cur = t.current()
    assert cur.applied == {"r1": 0}
    assert cur.watermark_lsn == 5
    # replaying the same batch against MAIN is now a no-op
    res = t.merge(w, run_id="r1", batch_id=0)
    assert res.get("skipped") is True


def test_drop_branch_and_expiry_reclaims(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_branch("tmp")
    b = t.on_branch("tmp")
    b.append(_df(spark, 20, base=1800000000))
    branch_files = {
        f["path"] for f in b.current().files
    } - {f["path"] for f in t.current().files}
    assert branch_files
    with pytest.raises(LoadError):
        b.drop_branch("tmp")  # not from the branch's own handle
    with pytest.raises(LoadError):
        t.drop_branch("main")
    t.drop_branch("tmp")
    assert "tmp" not in t.branches()
    with pytest.raises(LoadError):
        t.on_branch("tmp")
    # with the ref gone, expiry + vacuum reclaim branch-only files
    t.append(_df(spark, 2, base=1900000000))
    t.expire_snapshots(keep_last=1)
    t.vacuum_orphans(older_than_s=0)
    assert not any(os.path.exists(p) for p in branch_files)
    assert t.read().count() == 6


def test_expiry_protects_branch_tips_and_their_tags(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_branch("keepme")
    b = t.on_branch("keepme")
    b.append(_df(spark, 6, base=1800000000))
    tip = t.branches()["keepme"]
    b.create_tag("pin")  # tag created ON the branch
    pinned = b.tags()["pin"]
    for i in range(8):  # push both far outside the keep-last window
        t.append(_df(spark, 1, base=1900000000 + i))
    t.expire_snapshots(keep_last=2)
    assert b.read(version=tip).count() == 10  # tip snapshot survives
    assert b.read(version=pinned).count() == 10  # per-branch tag survives
    assert b.read().count() == 10


def test_cross_branch_commit_rebases_not_conflicts(spark, tmp_path):
    """A commit whose branch tip is unchanged must succeed even when
    OTHER branches advanced the global version sequence underneath it
    (slot rebase); a same-branch advance must still conflict."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_branch("b1")
    b = t.on_branch("b1")
    # writer derives its snapshot from b1's tip...
    child = b.current().child()
    # ...then main advances the GLOBAL slot twice
    t.append(_df(spark, 2, base=1800000000))
    t.append(_df(spark, 2, base=1900000000))
    b._commit(child)  # must rebase onto a fresh slot, not conflict
    assert t.branches()["b1"] == child.version
    assert child.version > t.branches()["main"] - 2
    # same-branch advance is still a real conflict
    stale = b.current().child()
    b.append(_df(spark, 1, base=1950000000))
    with pytest.raises(LoadError, match="conflict"):
        b._commit(stale)


def test_branch_rollback_and_time_travel(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    t.create_branch("x")
    b = t.on_branch("x")
    b.append(_df(spark, 6, base=1800000000))
    v_good = b.current().version
    b.append(_df(spark, 5, base=1900000000))
    assert b.read().count() == 15
    b.rollback(v_good)
    assert b.read().count() == 10
    assert t.read().count() == 4  # main untouched throughout
    # as-of-timestamp time travel resolves within the branch lineage
    ts_good = b.current().committed_at_ms
    assert b.version_as_of(ts_good) == b.current().version


def test_rollback_rejects_non_ancestor_targets(spark, tmp_path):
    """Version slots are global across branches, so rollback must check
    LINEAGE, not just `target < tip`: main must never adopt an
    interleaved unpublished branch commit (that would bypass the WAP
    audit), and a dropped-then-recreated branch must never resurrect
    its previous incarnation's state. Pre-fork parent history remains
    a legal target for a branch handle."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    v_main = t.current().version
    t.create_branch("wip")
    b = t.on_branch("wip")
    b.append(_df(spark, 6, base=1800000000))
    v_branch = b.current().version
    t.append(_df(spark, 3, base=1900000000))

    # main -> interleaved branch commit: rejected, state untouched
    with pytest.raises(LoadError, match="not an ancestor"):
        t.rollback(v_branch)
    assert t.read().count() == 7

    # branch -> pre-fork main history: legal ancestor
    b.rollback(v_main)
    assert b.read().count() == 4

    # recreated branch name must not roll into its previous life
    t.drop_branch("wip")
    t.create_branch("wip")
    b2 = t.on_branch("wip")
    b2.append(_df(spark, 2, base=1950000000))
    with pytest.raises(LoadError, match="not an ancestor"):
        b2.rollback(v_branch)
    # ...and as-of-timestamp time travel skips the old incarnation too
    ts_old_tip = b2.snapshot(v_branch).committed_at_ms
    v = b2.version_as_of(ts_old_tip)
    assert v != v_branch
    assert b2.snapshot(v).branch == "main"


def test_fast_forward_rejects_recreated_branch_incarnation(spark, tmp_path):
    """The repeated-WAP ancestor path rides the ff_source stamp on the
    target tip; a branch name dropped and RECREATED BEHIND that tip
    (from another branch handle, so the target tip stays the stale ff
    commit) must not qualify — its new incarnation does not contain the
    published state. Each ref creation gets a unique epoch (the creating
    commit's slot) and fast_forward requires the stamped epoch to still
    be the branch's current one; repeated WAP off one long-lived branch
    keeps its epoch and still publishes."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    v_early = t.current().version
    t.create_branch("aux")
    t.create_branch("wip")
    b = t.on_branch("wip")
    b.append(_df(spark, 3, base=1800000000))
    t.fast_forward("wip")
    assert t.read().count() == 7

    aux = t.on_branch("aux")
    aux.drop_branch("wip")
    aux.create_branch("wip", version=v_early)  # born behind main's tip
    b2 = t.on_branch("wip")
    b2.append(_df(spark, 2, base=1900000000))
    with pytest.raises(LoadError, match="not fast-forwardable"):
        t.fast_forward("wip")
    assert t.read().count() == 7  # published state untouched

    # same long-lived branch: second publish still fast-forwards
    b.append(_df(spark, 2, base=1950000000))
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), DDL, num_buckets=2)
    t2.append(_df(spark, 1))
    t2.create_branch("ingest")
    g = t2.on_branch("ingest")
    g.append(_df(spark, 2, base=1800000000))
    t2.fast_forward("ingest")
    g.append(_df(spark, 2, base=1900000000))
    t2.fast_forward("ingest")
    assert t2.read().count() == 5


def test_manifest_forward_compat_ignores_unknown_keys(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(_df(spark, 4))
    snap = t.current()
    d = json.loads(snap.to_json())
    d["some_future_metadata_field"] = {"x": 1}
    restored = Snapshot.from_json(json.dumps(d))
    assert restored.version == snap.version
    assert restored.manifest_list == snap.manifest_list
    # hydration goes through the table (which knows meta_dir); a bare
    # from_json consumer touching .files of a sharded snapshot fails
    # loud instead of silently reading an empty table
    import pytest as _pytest

    from etl_rs_spark.errors import LoadError as _LE

    with _pytest.raises(_LE, match="sharded snapshot"):
        _ = restored.files
    t._attach_files_loader(restored)
    assert restored.files == snap.files


def test_change_data_feed_on_branch(spark, tmp_path):
    """changes() on a branch handle feeds the branch's own commits —
    the audit half of WAP: a consumer can diff exactly what a staged
    ingest would publish before fast-forwarding it."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    w = _df(spark, 4).withColumn("op", F.lit("U")).withColumn(
        "lsn", F.col("turn_idx").cast("long")
    )
    t.merge(w, run_id="r", batch_id=0)
    v0 = t.current().version
    t.create_branch("stage")
    b = t.on_branch("stage")
    w2 = spark.createDataFrame(
        [("zz", 9, __import__("datetime").datetime(2025, 1, 1), 100, "U")],
        "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
    )
    b.merge(w2, run_id="r", batch_id=1)
    feed = b.changes(v0).toPandas()
    assert set(feed.conv_id) == {"zz"}  # branch CDF: only staged changes
    assert t.changes(v0).count() == 0  # main CDF: still quiet


def test_concurrent_writers_on_two_branches_all_survive(spark, tmp_path):
    """True-concurrency check for the global-slot + per-branch-parent
    commit protocol: threads race appends onto main AND a branch at
    once. Cross-branch slot races must REBASE (not conflict); true
    same-branch races conflict and succeed on retry. Every row lands
    exactly once on exactly its own branch."""
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
    t.create_branch("side")
    b = t.on_branch("side")
    errors: list[Exception] = []

    def writer(handle, tag, i):
        df = spark.createDataFrame([(f"{tag}{i}", i)], "k string, v int")
        for _ in range(30):
            try:
                handle.append(df)
                return
            except LoadError:
                continue
        errors.append(RuntimeError(f"{tag}{i} starved"))

    threads = [
        threading.Thread(target=writer, args=(t, "m", i)) for i in range(3)
    ] + [
        threading.Thread(target=writer, args=(b, "s", i)) for i in range(3)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    main_keys = {r.k for r in t.read().collect()}
    side_keys = {r.k for r in b.read().collect()}
    assert main_keys == {"m0", "m1", "m2"}
    assert side_keys == {"s0", "s1", "s2"}  # forked pre-append: only its own
    # every version slot was claimed exactly once (no torn metadata)
    vs = [r.version for r in t.inspect_snapshots().collect()]
    assert vs == sorted(set(vs))


def test_stream_on_branch_then_publish_equals_oracle(spark, tmp_path):
    """The WAP ingest flow end to end: the CDC stream applies onto a
    branch (main stays frozen for consumers), the audited branch is
    fast-forwarded, and main's published state equals the replay
    oracle."""
    ev = gen_change_stream(
        spark, n_events=1500, n_convs=12, turns_per_conv=6, seed=23
    ).cache()
    binlog = str(tmp_path / "binlog")
    write_event_files(to_envelope(ev), binlog, n_files=3)
    t = LakeTable.create(
        spark,
        str(tmp_path / "table"),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
        num_buckets=4,
    )
    t.create_branch("ingest")
    drv = StreamDriver(
        spark,
        t.on_branch("ingest"),
        binlog,
        str(tmp_path / "ckpt"),
        cfg=CdcConfig(num_buckets=4),
    )
    drv.run_available_now()
    assert t.read().count() == 0  # consumers saw nothing mid-ingest
    t.fast_forward("ingest")
    assert_state_equal(
        t.read().toPandas(), replay(ev.toPandas())
    )


def test_aged_branch_and_tag_expire_main_contract_holds(spark, tmp_path):
    """Iceberg max-ref-age-ms: a branch/tag created with max_age_ms
    stops pinning snapshots once its target snapshot ages out —
    expire_snapshots drops the ref, the branch's private snapshots and
    files rejoin the retention pool and are deleted — while an un-aged
    ref and main's keep_last contract are untouched."""
    import glob as _glob
    import os as _os

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.merge(
        _df(spark, 6)
        .withColumn("op", F.lit("I"))
        .withColumn("lsn", F.col("turn_idx").cast("long")),
        run_id="r",
        batch_id=0,
    )
    # an audit branch with a tiny retention, plus staged private work
    t.create_branch("audit", max_age_ms=1)
    b = t.on_branch("audit")
    b.merge(
        spark.createDataFrame(
            [("zz", 9, __import__("datetime").datetime(2025, 1, 1), 100, "U")],
            "conv_id string, turn_idx int, ts timestamp, lsn long, op string",
        ),
        run_id="r",
        batch_id=1,
    )
    branch_tip = t.branches()["audit"]
    # a permanent tag and an aged tag
    t.create_tag("forever")
    t.create_tag("ephemeral", max_age_ms=1)
    import time as _time

    _time.sleep(0.05)  # both aged refs are now past their 1 ms budget
    # advance main so keep_last has something newer to keep
    for i in range(3):
        t.append(_df(spark, 2))

    res = t.expire_snapshots(keep_last=2)
    assert "audit" not in t.branches()
    assert "ephemeral" not in t.tags() and "forever" in t.tags()
    # the aged branch's private snapshot is no longer pinned: its
    # version file is gone (the ref no longer protects it)
    survivors = {
        int(p.split("version-")[1].split(".")[0])
        for p in _glob.glob(_os.path.join(t.meta_dir, "version-*.json"))
    }
    assert branch_tip not in survivors
    # main still reads correctly and the permanent tag's pin holds
    assert t.read().count() >= 6
    assert t.tags()["forever"] in survivors
    # retention metadata for dropped refs is purged
    assert not {"audit", "ephemeral"} & t.current().refs.keys()
