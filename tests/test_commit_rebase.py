"""Commit retry-with-validation (Iceberg's optimistic-concurrency
rebase): a same-branch slot race whose winners touched DISJOINT
manifest groups is resolved inside _commit by splicing the loser's
already-written group manifests onto the new tip — streaming ingest
and background maintenance commit concurrently without redoing data
work. Overlapping footprints, DDL, and rollbacks stay REAL conflicts.

The reference has no concurrent-writer story at all (its DeltaLoader
materializes and writes single-threaded, /root/reference/src/load/delta.rs);
this is the Iceberg commit-protocol behavior the north rule's
exactly-once contract needs at fleet scale.
"""

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.errors import LoadError
from etl_rs_spark.sinks.lake import LakeTable, bucket_expr

DDL = "conv_id string, turn_idx int, text string, ts timestamp"


def _w(spark, rows):
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


def _bucket_of(spark, conv_id, n=4):
    return (
        spark.createDataFrame([(conv_id,)], "conv_id string")
        .select(bucket_expr("conv_id", n).alias("b"))
        .collect()[0]["b"]
    )


def _two_convs_in_distinct_buckets(spark, n=4):
    seen = {}
    for i in range(32):
        c = f"c{i}"
        b = _bucket_of(spark, c, n)
        for c2, b2 in seen.items():
            if b2 != b:
                return (c2, b2), (c, b)
        seen[c] = b
    raise AssertionError("no two buckets found")


def _race(monkeypatch, t, competitor):
    """Arrange for ``competitor()`` to commit between the subject
    table's snapshot read and its slot claim — the textbook optimistic
    concurrency race, made deterministic."""
    orig = t._claim_slot
    fired = {"done": False}

    def inject(vtmp, vpath, version):
        if not fired["done"]:
            fired["done"] = True
            competitor()
        return orig(vtmp, vpath, version)

    monkeypatch.setattr(t, "_claim_slot", inject)
    return fired


def test_merge_rebases_over_disjoint_compact(spark, tmp_path, monkeypatch):
    """A maintenance compact of OTHER buckets winning the slot race
    does not force the stream to redo its merge: the merge commit
    rebases, and BOTH effects land."""
    p = str(tmp_path / "t")
    (ca, _), (cb, bb) = _two_convs_in_distinct_buckets(spark)
    t = LakeTable.create(spark, p, DDL, num_buckets=4)
    t.merge(_w(spark, [(ca, 0, 1, "U", "a0"), (cb, 0, 2, "U", "b0")]),
            run_id="r", batch_id=0)
    t.merge(_w(spark, [(cb, 1, 3, "U", "b1")]), run_id="r", batch_id=1)
    t2 = LakeTable.load(spark, p)
    v0 = t.current().version

    fired = _race(monkeypatch, t, lambda: t2.compact(buckets=[bb]))
    stats = t.merge(
        _w(spark, [(ca, 1, 10, "U", "a1")]), run_id="r", batch_id=2
    )
    assert fired["done"]
    # both commits landed: compact took v0+1, the rebased merge v0+2
    assert not stats["skipped"]
    assert stats["rebased"] is True
    assert stats["version"] == v0 + 2
    # compact's effect survives: bucket bb is one compacted file
    mf = {
        (m["spec_n"], m["bucket"]): m
        for m in t.inspect_manifests().collect()
    }
    assert mf[(4, bb)]["n_files"] == 1
    # merge's effect survives: the new row is there, LWW state exact
    rows = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read().collect()
    }
    assert rows == {
        (ca, 0): "a0", (ca, 1): "a1", (cb, 0): "b0", (cb, 1): "b1"
    }
    # exactly-once log and watermark carried through the rebase
    snap = t.current()
    assert snap.applied["r"] == 2
    assert snap.watermark_lsn == 10
    assert snap.wm_history[-1] == [snap.version, 10]


def test_two_streams_on_disjoint_buckets_both_commit(
    spark, tmp_path, monkeypatch
):
    """Two independent runs merging different key spaces: the loser
    rebases instead of redoing its merge; both replay logs survive."""
    p = str(tmp_path / "t")
    (ca, _), (cb, _) = _two_convs_in_distinct_buckets(spark)
    t = LakeTable.create(spark, p, DDL, num_buckets=4)
    t2 = LakeTable.load(spark, p)

    _race(
        monkeypatch,
        t,
        lambda: t2.merge(
            _w(spark, [(cb, 0, 5, "U", "b0")]), run_id="r2", batch_id=0
        ),
    )
    t.merge(_w(spark, [(ca, 0, 7, "U", "a0")]), run_id="r1", batch_id=0)
    snap = t.current()
    assert snap.applied == {"r2": 0, "r1": 0}
    assert snap.watermark_lsn == 7
    rows = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert rows == {ca: "a0", cb: "b0"}
    # the lower-LSN winner's advance is in the history too
    assert [v for _, v in snap.wm_history[-2:]] == [5, 7]


def test_slot_shift_by_other_branch_keeps_wm_history(
    spark, tmp_path, monkeypatch
):
    """A main-branch merge whose slot is taken by a concurrent commit on
    ANOTHER branch lands in the next slot without a rebase; its
    watermark-history entry names the slot it actually took, so
    changes(with_version=True) attributes its rows to that version."""
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, DDL, num_buckets=4)
    t.merge(_w(spark, [("c1", 0, 1, "U", "v0")]), run_id="r", batch_id=0)
    t.create_branch("side")
    v0 = t.current().version
    side = LakeTable.load(spark, p).on_branch("side")
    fired = _race(
        monkeypatch, t, lambda: side.append(_w(spark, [("c9", 0, 50, "U", "s")]))
    )
    stats = t.merge(_w(spark, [("c2", 0, 7, "U", "v1")]), run_id="r", batch_id=1)
    assert fired["done"]
    assert stats["rebased"] is False
    assert stats["version"] == v0 + 2  # v0+1 went to the branch commit
    snap = t.current()
    assert snap.version == v0 + 2
    assert snap.wm_history[-1] == [v0 + 2, 7]
    feed = t.changes(v0, with_version=True).toPandas()
    assert feed.set_index("conv_id")["_commit_version"].to_dict() == {
        "c2": v0 + 2
    }


def test_rebase_keeps_concurrent_tag(spark, tmp_path, monkeypatch):
    """A metadata-only competitor (create_tag) has an empty data
    footprint: the merge rebases over it and the tag survives."""
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, DDL, num_buckets=4)
    t.merge(_w(spark, [("c1", 0, 1, "U", "v0")]), run_id="r", batch_id=0)
    t2 = LakeTable.load(spark, p)
    _race(monkeypatch, t, lambda: t2.create_tag("audit"))
    t.merge(_w(spark, [("c1", 1, 2, "U", "v1")]), run_id="r", batch_id=1)
    assert "audit" in t.current().refs
    assert t.read().count() == 2


def test_same_bucket_race_is_a_real_conflict(spark, tmp_path, monkeypatch):
    """Overlapping data footprint: the competitor compacted the very
    bucket the merge rewrote — rebasing would lose one side, so the
    merge must raise and let its caller re-read and redo."""
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, DDL, num_buckets=4)
    t.merge(_w(spark, [("c1", 0, 1, "U", "v0")]), run_id="r", batch_id=0)
    ba = _bucket_of(spark, "c1")
    t2 = LakeTable.load(spark, p)
    _race(monkeypatch, t, lambda: t2.compact(buckets=[ba]))
    with pytest.raises(LoadError, match="concurrent commit conflict"):
        t.merge(
            _w(spark, [("c1", 1, 2, "U", "v1")]), run_id="r", batch_id=1
        )
    # the winner's effect is intact; the loser wrote nothing visible
    assert {r["turn_idx"] for r in t.read().collect()} == {0}


def test_rollback_race_is_a_real_conflict(spark, tmp_path, monkeypatch):
    """A rollback regresses the watermark and the exactly-once log ON
    PURPOSE (undone batches must replay); rebasing a merge over it
    would resurrect the state it undid — refused even when the data
    footprints are disjoint."""
    p = str(tmp_path / "t")
    (ca, _), (cb, _) = _two_convs_in_distinct_buckets(spark)
    t = LakeTable.create(spark, p, DDL, num_buckets=4)
    t.merge(_w(spark, [(ca, 0, 1, "U", "v0")]), run_id="r", batch_id=0)
    v_good = t.current().version
    t.merge(_w(spark, [(ca, 1, 2, "U", "v1")]), run_id="r", batch_id=1)
    t2 = LakeTable.load(spark, p)
    # the raced merge touches ONLY cb's (so far empty) bucket: groups
    # are disjoint from everything the rollback restores — the refusal
    # must come from the watermark/replay-log regression gates
    _race(monkeypatch, t, lambda: t2.rollback(v_good))
    with pytest.raises(LoadError, match="concurrent commit conflict"):
        t.merge(
            _w(spark, [(cb, 0, 9, "U", "x")]), run_id="r", batch_id=2
        )
    assert t.current().watermark_lsn == 1  # rollback's state rules


def test_concurrent_widening_is_a_real_conflict(
    spark, tmp_path, monkeypatch
):
    """A competitor whose merge WIDENED the schema changes structural
    metadata: conservative hard conflict even on disjoint buckets."""
    p = str(tmp_path / "t")
    (ca, _), (cb, _) = _two_convs_in_distinct_buckets(spark)
    t = LakeTable.create(spark, p, DDL, num_buckets=4)
    t2 = LakeTable.load(spark, p)
    wide = _w(spark, [(cb, 0, 5, "U", "b0")]).withColumn(
        "lang", F.lit("en")
    )
    _race(
        monkeypatch,
        t,
        lambda: t2.merge(wide, run_id="r2", batch_id=0),
    )
    with pytest.raises(LoadError, match="concurrent commit conflict"):
        t.merge(
            _w(spark, [(ca, 0, 7, "U", "a0")]), run_id="r1", batch_id=0
        )
    assert "lang" in t.current().schema().fieldNames()


def test_stream_rebases_over_concurrent_admin_compact(
    spark, tmp_path, monkeypatch
):
    """End-to-end: a StreamDriver microbatch whose commit loses the
    slot race to a concurrent admin compact of OTHER buckets lands via
    the metadata rebase — no merge redo (the with_retry fallback never
    fires), both effects visible, final state exact."""
    from etl_rs_spark.cdc.stream import StreamDriver
    from etl_rs_spark.generator import to_envelope, write_event_files

    (ca, _), (cb, bb) = _two_convs_in_distinct_buckets(spark)
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), ddl, num_buckets=4)

    def _events(rows):
        # rows: (lsn, conv, turn, text) — dense LSNs from 0 per file set
        df = spark.createDataFrame(
            rows, "lsn long, conv_id string, turn_idx int, text string"
        ).select(
            "lsn",
            F.lit("U").alias("op"),
            "conv_id",
            "turn_idx",
            F.timestamp_seconds(F.lit(1700000000) + F.col("lsn")).alias(
                "ts"
            ),
            "text",
        )
        return to_envelope(df)

    binlog = str(tmp_path / "binlog")
    write_event_files(
        _events(
            [(0, ca, 0, "a0"), (1, cb, 0, "b0"), (2, cb, 1, "b1")]
        ),
        binlog,
        n_files=1,
    )
    ckpt = str(tmp_path / "ckpt")
    StreamDriver(spark, t, binlog, ckpt).run_available_now()

    # phase 2: new file touches ONLY ca's bucket; a concurrent admin
    # compact of cb's bucket wins the slot race mid-commit
    import glob as _glob
    import shutil as _shutil

    extra = str(tmp_path / "extra")
    write_event_files(
        _events([(3, ca, 1, "a1")]), extra, n_files=1
    )
    for f in _glob.glob(extra + "/*"):
        # fresh filename: phase-1 already produced a batch-00000
        _shutil.copy(
            f, binlog + "/extra-" + f.rsplit("/", 1)[1]
        )
    admin = LakeTable.load(spark, str(tmp_path / "t"))
    fired = _race(monkeypatch, t, lambda: admin.compact(buckets=[bb]))
    d2 = StreamDriver(spark, t, binlog, ckpt)
    stats = d2.run_available_now()
    assert fired["done"]
    applied = [s for s in stats if not s.get("skipped")]
    assert len(applied) == 1
    assert applied[0]["rebased"] is True
    rows = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read().collect()
    }
    assert rows == {
        (ca, 0): "a0", (ca, 1): "a1", (cb, 0): "b0", (cb, 1): "b1"
    }
    # the compact's effect survived the race
    mf = {
        (m["spec_n"], m["bucket"]): m
        for m in t.inspect_manifests().collect()
    }
    assert mf[(4, bb)]["n_files"] == 1
