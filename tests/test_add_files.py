"""add_files: metadata-only import of existing parquet (Iceberg's
add_files/migrate procedure). The reference has no import path at all —
its extractors copy data through the engine; at 100 TB onboarding must
register files in place."""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_rs_spark.errors import LoadError
from etl_rs_spark.sinks.lake import LakeTable
from tests.util import count_manifest_loads, spark_jobs_during

DDL = "conv_id string, turn_idx int, text string, ts timestamp"


def _write_corpus(d, rows, cols=("conv_id", "turn_idx", "text", "ts"), n_files=2):
    os.makedirs(d, exist_ok=True)
    out = []
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            continue
        tbl = pa.table(
            {c: [r[j] for r in chunk] for j, c in enumerate(cols)}
        )
        if "turn_idx" in tbl.column_names:
            ti = tbl.column_names.index("turn_idx")
            tbl = tbl.set_column(
                ti, "turn_idx", tbl.column("turn_idx").cast(pa.int32())
            )
        p = os.path.join(d, f"part-{i}.parquet")
        pq.write_table(tbl, p)
        out.append(p)
    return out


def _rows(n, conv="c", start_ts=1735689600):
    return [
        (
            f"{conv}{i % 7}",
            i,
            f"text-{i}",
            dt.datetime.fromtimestamp(start_ts + i, dt.timezone.utc).replace(
                tzinfo=None
            ),
        )
        for i in range(n)
    ]


def test_add_files_metadata_only_commit(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=8)
    corpus = _rows(40)
    files = _write_corpus(str(tmp_path / "corpus"), corpus, n_files=3)
    mtimes = {p: os.path.getmtime(p) for p in files}
    res = t.add_files([str(tmp_path / "corpus")])
    assert res["files_added"] == 3 and res["rows_added"] == 40
    # data files untouched (no copy, no rewrite)
    assert {p: os.path.getmtime(p) for p in files} == mtimes
    got = {
        (r.conv_id, r.turn_idx): r.text for r in t.read().collect()
    }
    assert got == {(r[0], r[1]): r[2] for r in corpus}
    # exactly one new manifest group (s1-b0) on the sharded table
    groups = {m["group"] for m in t.current().manifest_list}
    assert "s1-b0" in groups


def test_add_files_lww_against_stream(spark, tmp_path):
    """Imported rows take _lsn=-1: they lose to stream events at equal
    or later ts, but a strictly later imported ts still wins (LWW is
    event-time first)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    base = dt.datetime(2025, 1, 2)
    src = spark.createDataFrame(
        [
            ("c0", 0, "stream-old", dt.datetime(2025, 1, 1), 10, "U"),
            ("c1", 0, "stream-new", dt.datetime(2025, 1, 3), 11, "U"),
        ],
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "lsn long, op string",
    )
    t.merge(src, run_id="r", batch_id=0)
    _write_corpus(
        str(tmp_path / "c"),
        [("c0", 0, "import", base), ("c1", 0, "import", base)],
        n_files=1,
    )
    t.add_files([str(tmp_path / "c")])
    got = {r.conv_id: r.text for r in t.read().collect()}
    # c0: import ts (Jan 2) > stream ts (Jan 1) -> import wins
    # c1: stream ts (Jan 3) > import ts (Jan 2) -> stream wins
    assert got == {"c0": "import", "c1": "stream-new"}


def test_add_files_missing_optional_and_promotable(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx long, text string, ts timestamp",
        num_buckets=4,
    )
    # turn_idx written as int32 (promotable to the table's long);
    # `text` column absent entirely (null-filled at scan)
    tbl = pa.table(
        {
            "conv_id": ["a", "b"],
            "turn_idx": pa.array([1, 2], type=pa.int32()),
            "ts": [dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)],
        }
    )
    os.makedirs(str(tmp_path / "c"))
    pq.write_table(tbl, str(tmp_path / "c" / "f.parquet"))
    t.add_files([str(tmp_path / "c" / "f.parquet")])
    got = {(r.conv_id, r.turn_idx, r.text) for r in t.read().collect()}
    assert got == {("a", 1, None), ("b", 2, None)}


def test_add_files_validation_errors(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    # missing the key column
    pq.write_table(
        pa.table({"turn_idx": [1], "ts": [dt.datetime(2025, 1, 1)]}),
        str(tmp_path / "nokey.parquet"),
    )
    with pytest.raises(LoadError, match="required column"):
        t.add_files([str(tmp_path / "nokey.parquet")])
    # extra column not in the table schema
    pq.write_table(
        pa.table(
            {
                "conv_id": ["a"],
                "turn_idx": pa.array([1], type=pa.int32()),
                "ts": [dt.datetime(2025, 1, 1)],
                "rogue": [1],
            }
        ),
        str(tmp_path / "extra.parquet"),
    )
    with pytest.raises(LoadError, match="not in the table schema"):
        t.add_files([str(tmp_path / "extra.parquet")])
    # engine-managed column present
    pq.write_table(
        pa.table(
            {
                "conv_id": ["a"],
                "turn_idx": pa.array([1], type=pa.int32()),
                "ts": [dt.datetime(2025, 1, 1)],
                "_lsn": [5],
            }
        ),
        str(tmp_path / "reserved.parquet"),
    )
    with pytest.raises(LoadError, match="engine-managed"):
        t.add_files([str(tmp_path / "reserved.parquet")])
    # non-promotable type
    pq.write_table(
        pa.table(
            {
                "conv_id": ["a"],
                "turn_idx": ["not-an-int"],
                "ts": [dt.datetime(2025, 1, 1)],
            }
        ),
        str(tmp_path / "badtype.parquet"),
    )
    with pytest.raises(LoadError, match="promotable"):
        t.add_files([str(tmp_path / "badtype.parquet")])
    with pytest.raises(LoadError, match="no such path"):
        t.add_files([str(tmp_path / "missing")])


def test_add_files_lookup_uses_import_bounds(spark, tmp_path):
    """Point lookups on an uncompacted import file-skip on the imported
    footers' own key bounds."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=8)
    lo = [(f"a{i:02d}", i, f"lo-{i}", dt.datetime(2025, 1, 1)) for i in range(10)]
    hi = [(f"z{i:02d}", i, f"hi-{i}", dt.datetime(2025, 1, 1)) for i in range(10)]
    _write_corpus(str(tmp_path / "lo"), lo, n_files=1)
    _write_corpus(str(tmp_path / "hi"), hi, n_files=1)
    t.add_files([str(tmp_path / "lo"), str(tmp_path / "hi")])
    rows = t.lookup(["z03"]).collect()
    assert [r.text for r in rows] == ["hi-3"]
    # bounds admit only the one file holding the sought key
    snap = t.current()
    cands = [
        f
        for f in snap.files
        if f.get("min_key") is not None and f["min_key"] <= "z03" <= f["max_key"]
    ]
    assert len(cands) == 1


def test_compact_migrates_import_and_expiry_spares_originals(
    spark, tmp_path
):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    corpus = _rows(30)
    files = _write_corpus(str(tmp_path / "c"), corpus, n_files=2)
    t.add_files([str(tmp_path / "c")])
    t.compact()
    # imported entries are gone from the tip (folded into buckets)
    assert not any(f.get("external") for f in t.current().files)
    got = {(r.conv_id, r.turn_idx) for r in t.read().collect()}
    assert len(got) == 30
    # age out the import snapshot: originals must survive expiry
    for _ in range(6):
        t.append(
            spark.createDataFrame(
                [("x", 999, "pad", dt.datetime(2025, 1, 1))], DDL
            )
        )
    res = t.expire_snapshots(keep_last=2)
    assert res["expired_versions"] > 0
    assert all(os.path.exists(p) for p in files), "expiry ate user files"


def test_distributed_expiry_spares_externals(spark, tmp_path):
    """Expiry after the import was compacted away deletes none of the
    user's imported files, runs no Spark job and loads no manifest
    twice. (The name predates the removal of the executor-side
    expiry.)"""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    files = _write_corpus(str(tmp_path / "c"), _rows(20), n_files=2)
    t.add_files([str(tmp_path / "c")])
    t.compact()
    for _ in range(6):
        t.append(
            spark.createDataFrame(
                [("x", 999, "pad", dt.datetime(2025, 1, 1))], DDL
            )
        )
    got = []
    with count_manifest_loads() as loads:
        jobs = spark_jobs_during(
            spark, lambda: got.append(t.expire_snapshots(keep_last=2))
        )
    res = got[0]
    assert jobs == []
    assert loads and len(loads) == len(set(loads))
    assert res["expired_versions"] > 0
    assert all(os.path.exists(p) for p in files), "expiry ate user files"


def test_merge_after_import_migrates_touched_buckets(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    corpus = _rows(20)
    _write_corpus(str(tmp_path / "c"), corpus, n_files=1)
    t.add_files([str(tmp_path / "c")])
    src = spark.createDataFrame(
        [("c1", 1, "updated", dt.datetime(2026, 1, 1), 100, "U")],
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "lsn long, op string",
    )
    t.merge(src, run_id="r", batch_id=0)
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got[("c1", 1)] == "updated"
    assert len(got) == 20
    # the coarse import group was folded away by the merge
    assert not any(f.get("external") for f in t.current().files)


def test_add_files_recursive_and_hive_rejection(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    # nested (non-hive) subdirectories are found recursively
    deep = tmp_path / "c" / "year2025" / "batch1"
    _write_corpus(str(deep), _rows(8), n_files=1)
    res = t.add_files([str(tmp_path / "c")])
    assert res["files_added"] == 1 and res["rows_added"] == 8
    # hive key=value layout: partition values live in the path -> reject
    hive = tmp_path / "h" / "lang=en"
    _write_corpus(str(hive), _rows(4), n_files=1)
    with pytest.raises(LoadError, match="hive-partitioned"):
        t.add_files([str(tmp_path / "h")])
    # empty directory is an explicit error even alongside valid paths
    (tmp_path / "empty").mkdir()
    with pytest.raises(LoadError, match="no parquet files under"):
        t.add_files([str(tmp_path / "empty"), str(tmp_path / "c")])


def test_distributed_vacuum_protects_external_under_table_root(
    spark, tmp_path
):
    """An import that physically sits under the table's data directory
    must survive vacuum_orphans — the live set keeps external entries
    even though they are never deletion candidates. The vacuum runs no
    Spark job and loads no manifest twice. (The name predates the
    removal of the executor-side vacuum.)"""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    inside = os.path.join(t.data_dir, "imported")
    files = _write_corpus(inside, _rows(10), n_files=1)
    t.add_files([inside])
    got = []
    with count_manifest_loads() as loads:
        jobs = spark_jobs_during(
            spark, lambda: got.append(t.vacuum_orphans(older_than_s=0.0))
        )
    res = got[0]
    assert jobs == []
    assert loads and len(loads) == len(set(loads))
    assert all(os.path.exists(p) for p in files), (
        f"vacuum deleted live imported files: {res}"
    )
    got = t.read().count()
    assert got == 10


def test_vacuum_keeps_expired_import_under_table_root(spark, tmp_path):
    """An import under ``data/`` outlives every snapshot that listed it:
    once compact folded it and expiry dropped those snapshots, no
    manifest names it, but it is the user's file, not an orphan of the
    engine's, and vacuum must leave it where it is."""
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=4)
    inside = os.path.join(t.data_dir, "imported")
    (imported,) = _write_corpus(inside, _rows(2), n_files=1)
    t.add_files([imported])

    def pad(i):
        t.append(
            spark.createDataFrame(
                [("x", 900 + i, "pad", dt.datetime(2025, 1, 1))], DDL
            )
        )

    pad(0)
    t.compact()
    pad(1)
    t.expire_snapshots(keep_last=1)
    assert not any(f.get("external") for f in t.current().files)
    rows = sorted(t.read().collect())
    res = t.vacuum_orphans(older_than_s=0)
    assert os.path.exists(imported), f"vacuum deleted the import: {res}"
    assert res["orphans_deleted"] == 0
    assert sorted(t.read().collect()) == rows and len(rows) == 4


def test_import_is_outside_the_change_feed(spark, tmp_path):
    """Pinned contract: like append, add_files is a bulk load — CDF
    windows cover merge-applied CDC events only. A window across an
    import emits the stream changes and nothing for imported rows;
    consumers seed imports from read() at the import version."""
    import datetime as dt

    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    src = spark.createDataFrame(
        [("c9", 0, "stream", dt.datetime(2025, 1, 1), 1, "U")],
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "lsn long, op string",
    )
    t.merge(src, run_id="r", batch_id=0)
    v1 = t.current().version
    files = _write_corpus(str(tmp_path / "c"), _rows(6), n_files=1)
    assert files
    t.add_files([str(tmp_path / "c")])
    # import-only window: empty feed
    assert t.changes(v1).count() == 0
    # a later stream event still feeds normally across the import
    src2 = spark.createDataFrame(
        [("c9", 0, "stream2", dt.datetime(2025, 1, 2), 2, "U")],
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "lsn long, op string",
    )
    t.merge(src2, run_id="r", batch_id=1)
    feed = t.changes(v1).collect()
    assert [(r.conv_id, r.text, r._change_type) for r in feed] == [
        ("c9", "stream2", "upsert")
    ]
    # while read() serves imports + stream merged
    assert t.read().count() == 1 + 6


def test_inspect_files_shows_external_flag(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), DDL, num_buckets=2)
    t.append(
        spark.createDataFrame(
            [("n", 0, "native", __import__("datetime").datetime(2025, 1, 1))],
            DDL,
        )
    )
    _write_corpus(str(tmp_path / "c"), _rows(4), n_files=1)
    t.add_files([str(tmp_path / "c")])
    rows = t.inspect_files().collect()
    by_ext = {r.external for r in rows}
    assert by_ext == {True, False}
    ext = [r for r in rows if r.external]
    assert len(ext) == 1 and ext[0].kind == "delta" and ext[0].spec_n == 1
