"""Every data commit is a manifest-group edit: for each write operation,
on a fresh table and on one with several committed groups, exactly the
groups the operation touches get a new manifest pointer, every other
group keeps its manifest file, and the snapshot's ``files`` view is the
union of its manifests."""

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_rs_spark.functions.xxh64 import bucket_of
from etl_rs_spark.sinks.lake import LakeTable, _load_manifest
from tests.util import count_manifest_loads, manifest_pointer_diff

DDL = "conv_id string, turn_idx int, text string, ts timestamp"
N = 4
CONVS = [f"c{i}" for i in range(8)]


def _g(conv, n=N):
    return f"s{n}-b{bucket_of(conv, 'string', n)}"


def _events(spark, rows):
    """rows: (conv_id, turn_idx, lsn, op, text)."""
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


def _plain(spark, rows):
    """rows: (conv_id, turn_idx) appended without an lsn column."""
    return spark.createDataFrame(rows, "conv_id string, turn_idx int").select(
        "conv_id",
        "turn_idx",
        F.lit("p").alias("text"),
        F.timestamp_seconds(F.lit(1700090000) + F.col("turn_idx")).alias("ts"),
    )


def _state(t, version=None):
    return sorted(
        (r.conv_id, r.turn_idx, r.text) for r in t.read(version=version).collect()
    )


def op_append(spark, t, tmp):
    t.append(_plain(spark, [("c1", 50), ("c2", 51)]))
    return {_g("c1"), _g("c2")}


def op_add_files(spark, t, tmp):
    p = str(tmp / "import.parquet")
    pq.write_table(
        pa.table(
            {
                "conv_id": ["c1", "c9"],
                "turn_idx": pa.array([60, 61], pa.int32()),
                "ts": [dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)],
            }
        ),
        p,
    )
    t.add_files([p])
    return {"s1-b0"}


def op_merge_cow(spark, t, tmp):
    t.merge(_events(spark, [("c1", 0, 100, "U", "x")]), run_id="r", batch_id=9)
    return {_g("c1")}


def op_merge_mor(spark, t, tmp):
    t.merge(
        _events(spark, [("c1", 0, 100, "U", "x")]),
        run_id="r",
        batch_id=9,
        mode="merge-on-read",
    )
    return {_g("c1")}


def op_compact_targeted(spark, t, tmp):
    before = {m["group"] for m in t.current().manifest_list}
    t.compact(buckets=[bucket_of("c1", "string", N)])
    return {_g("c1")} & before


def op_compact_full(spark, t, tmp):
    before = {m["group"] for m in t.current().manifest_list}
    t.compact()
    return before


def op_overwrite(spark, t, tmp):
    before = {m["group"] for m in t.current().manifest_list}
    t.overwrite(_plain(spark, [("c1", 70)]))
    return before | {_g("c1")}


def op_set_num_buckets(spark, t, tmp):
    t.set_num_buckets(2 * N)
    return set()


def op_delete_where(spark, t, tmp):
    before = {m["group"] for m in t.current().manifest_list}
    t.delete_where("conv_id = 'c1'")
    return {_g("c1")} & before


def op_rollback(spark, t, tmp):
    cur = t.current().version
    target = cur - 1
    t.rollback(target)
    return manifest_pointer_diff(t, target, cur)


# (operation, reads the same table state after, loads no manifest)
OPS = [
    (op_append, False, False),
    (op_add_files, False, False),
    (op_merge_cow, False, False),
    (op_merge_mor, False, False),
    (op_compact_targeted, True, False),
    (op_compact_full, True, False),
    (op_overwrite, False, True),
    (op_set_num_buckets, True, True),
    (op_delete_where, False, False),
    (op_rollback, False, False),
]


@pytest.mark.parametrize("grown", [False, True], ids=["fresh", "grown"])
@pytest.mark.parametrize(
    "op,same_read,zero_loads", OPS, ids=[o[0].__name__[3:] for o in OPS]
)
def test_write_footprint_is_exact_group_edit(
    spark, tmp_path, op, same_read, zero_loads, grown
):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=N)
    if grown:
        t.merge(
            _events(spark, [(c, 0, i, "I", c) for i, c in enumerate(CONVS)]),
            run_id="r",
            batch_id=0,
        )
        t.merge(_events(spark, [("c1", 1, 20, "I", "y")]), run_id="r", batch_id=1)
        assert len(t.current().manifest_list) >= 2
    elif op is op_rollback:
        # a fresh table's first write, rolled back to the empty table
        t.append(_plain(spark, [("c1", 1)]))
    before = t.current()
    read_before = _state(t) if same_read else None
    with count_manifest_loads() as loads:
        want = op(spark, t, tmp_path)
    after = t.current()
    assert manifest_pointer_diff(t, before.version, after.version) == want
    if zero_loads:
        assert loads == []
    bm = {m["group"]: m["path"] for m in before.manifest_list}
    am = {m["group"]: m["path"] for m in after.manifest_list}
    assert all(bm[g] == am[g] for g in bm.keys() & am.keys() - want)
    union = [e for m in after.manifest_list for e in _load_manifest(t.meta_dir, m["path"])]
    assert sorted(f["path"] for f in after.files) == sorted(e["path"] for e in union)
    assert sum(m["n_files"] for m in after.manifest_list) == len(after.files)
    if same_read:
        assert _state(t) == read_before
    if op is op_rollback:
        assert after.manifest_list == t.snapshot(before.version - 1).manifest_list
        assert _state(t) == _state(t, version=before.version - 1)

