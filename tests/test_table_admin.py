"""jobs/table_admin_job.py: the operator DDL/maintenance CLI drives
every LakeTable admin operation through its argparse surface."""

import json

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.sinks.lake import LakeTable
from jobs import table_admin_job


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        "conv_id string, turn_idx int, text string, ts timestamp",
        num_buckets=4,
    )
    t.append(
        spark.range(20).select(
            F.format_string("c%d", F.col("id") % 5).alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("x").alias("text"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        )
    )
    return t


def _run(capsys, path, *argv):
    assert table_admin_job.main(["--table", path, *argv]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_admin_ddl_and_maintenance_roundtrip(spark, tmp_path, table, capsys):
    p = table.path
    d = _run(capsys, p, "describe")
    assert d["num_buckets"] == 4 and d["rows"] == 20
    assert _run(capsys, p, "rename-column", "--from", "text", "--to", "body")[
        "renamed"
    ] == {"text": "body"}
    assert (
        _run(capsys, p, "add-column", "--column", "lang", "--type", "string")[
            "added"
        ]
        == "lang"
    )
    assert (
        _run(capsys, p, "set-num-buckets", "--num-buckets", "8")["num_buckets"]
        == 8
    )
    c = _run(capsys, p, "compact")
    assert c["files_after"] >= 1
    lk = _run(capsys, p, "lookup", "--keys", "c1,c2")
    assert {r["conv_id"] for r in lk["rows"]} == {"c1", "c2"}
    assert all(r["body"] == "x" for r in lk["rows"])  # renamed data intact
    assert _run(capsys, p, "drop-column", "--column", "lang")["dropped"] == "lang"
    d2 = _run(capsys, p, "describe")
    assert d2["live_specs"] == [8] and "lang" not in d2["schema"]
    assert table.read().count() == 20
    # operational undo: roll the whole DDL run back to the initial load
    rb = _run(capsys, p, "rollback", "--to-version", "1")
    assert rb["restored"] == 1 and rb["undone"] >= 5
    d3 = _run(capsys, p, "describe")
    assert d3["num_buckets"] == 4 and "text" in d3["schema"]
    assert table.read().count() == 20


def test_admin_set_property_changes_write_behavior(spark, tmp_path, table, capsys):
    """set-property commits new write props metadata-only and the NEXT
    write honors them (Iceberg ALTER TABLE SET TBLPROPERTIES parity)."""
    import pyarrow.parquet as pq

    p = table.path
    out = _run(
        capsys, p, "set-property",
        "--prop", "write.compression=zstd",
        "--prop", "write.sort-order=none",
    )
    assert out["props"]["write.compression"] == "zstd"
    v = out["version"]
    table.append(
        spark.createDataFrame(
            [("z1", 99, "y", __import__("datetime").datetime(2024, 1, 1))],
            "conv_id string, turn_idx int, text string, ts timestamp",
        )
    )
    new = [f for f in table.current().files if f["path"] not in
           {g["path"] for g in table.snapshot(v).files}]
    assert new, "append wrote no files"
    md = pq.ParquetFile(new[0]["path"]).metadata
    assert md.row_group(0).column(0).compression == "ZSTD"
    # unset: KEY= removes the property
    out2 = _run(capsys, p, "set-property", "--prop", "write.compression=")
    assert "write.compression" not in out2["props"]
    assert out2["props"]["write.sort-order"] == "none"


def test_admin_tag_lifecycle(spark, tmp_path, table, capsys):
    p = table.path
    out = _run(capsys, p, "create-tag", "--name", "cut", "--at-version", "1")
    assert out["tag"] == "cut" and out["at"] == 1
    assert table.tags() == {"cut": 1}
    out = _run(capsys, p, "drop-tag", "--name", "cut")
    assert out["dropped"] == "cut" and out["was_at"] == 1
    assert table.tags() == {}


def test_admin_inspect_metadata_tables(spark, tmp_path, table, capsys):
    """Iceberg t.files / t.snapshots / t.refs as queryable metadata."""
    p = table.path
    table.create_tag("cut")
    table.create_branch("b1")
    fr = _run(capsys, p, "inspect", "--kind", "files")["rows"]
    assert len(fr) == len(table.current().files)
    assert {f["kind"] for f in fr} == {"base"}
    assert sum(f["rows"] for f in fr) == 20
    sn = _run(capsys, p, "inspect", "--kind", "snapshots")["rows"]
    assert [s["version"] for s in sn] == sorted(s["version"] for s in sn)
    assert sn[-1]["branch"] == "main"
    assert all(s["committed_at_ms"] > 0 for s in sn)
    rf = _run(capsys, p, "inspect", "--kind", "refs")["rows"]
    kinds = {(r["type"], r["name"]) for r in rf}
    assert ("branch", "main") in kinds and ("branch", "b1") in kinds
    assert ("tag", "cut") in kinds
    assert {s["operation"] for s in sn} >= {"create", "append"}
    mf = _run(capsys, p, "inspect", "--kind", "manifests")["rows"]
    assert sum(m["rows"] for m in mf) == 20
    pt = _run(capsys, p, "inspect", "--kind", "partitions")["rows"]
    assert sum(r["rows"] for r in pt) == 20
    assert all(r["spec_n"] == 4 for r in pt)


def test_admin_analyze_commits_stats(spark, tmp_path, table, capsys):
    p = table.path
    out = _run(capsys, p, "analyze", "--exact")
    cs = out["columns"]
    assert out["row_count"] == 20
    assert cs["conv_id"]["ndv"] == 5 and cs["conv_id"]["nulls"] == 0
    assert cs["conv_id"]["min"] == "c0" and cs["conv_id"]["max"] == "c4"
    assert cs["turn_idx"]["min"] == 0 and cs["turn_idx"]["max"] == 19
    # committed into metadata: describe sees them, with staleness marker
    d = _run(capsys, p, "describe")
    assert d["stats"]["analyzed_version"] == out["analyzed_version"]
    # approx mode: HLL ndv within 5% on tiny cardinalities is exact-ish
    out2 = _run(capsys, p, "analyze", "--columns", "conv_id")
    assert abs(out2["columns"]["conv_id"]["ndv"] - 5) <= 1


def test_admin_row_dml(spark, tmp_path, table, capsys):
    p = table.path
    out = _run(capsys, p, "update", "--set", "text=upper(text)",
               "--where", "conv_id = 'c1'")
    assert out["dml"] == "update"
    assert {r.text for r in table.read().where("conv_id='c1'").collect()} == {"X"}
    out = _run(capsys, p, "delete", "--where", "conv_id = 'c2'")
    assert out["dml"] == "delete"
    assert table.read().where("conv_id='c2'").count() == 0
    assert table.read().count() == 16


def test_admin_branch_wap_lifecycle(spark, tmp_path, table, capsys):
    """The operator WAP loop via the CLI: create-branch, stage writes
    on --branch, audit via describe/lookup, fast-forward to publish,
    drop-branch to clean up."""
    p = table.path
    out = _run(capsys, p, "create-branch", "--name", "stage")
    assert out["branch"] == "stage"
    d = _run(capsys, p, "describe")
    assert "stage" in d["branches"]
    # stage a compaction on the branch; main keeps its file layout
    files_main = _run(capsys, p, "describe")["files"]
    _run(capsys, p, "--branch", "stage", "compact")
    assert _run(capsys, p, "describe")["files"] == files_main
    staged = _run(capsys, p, "--branch", "stage", "describe")
    assert staged["branch"] == "stage"
    # tags are table-level: a tag taken on main shows from the branch
    _run(capsys, p, "create-tag", "--name", "audit-cut")
    staged = _run(capsys, p, "--branch", "stage", "describe")
    assert "audit-cut" in staged["tags"]
    # publish, then drop the branch
    out = _run(capsys, p, "fast-forward", "--from", "stage")
    assert out["published"] == "stage"
    assert table.read().count() == 20
    out = _run(capsys, p, "drop-branch", "--name", "stage")
    assert out["dropped"] == "stage"
    assert "stage" not in table.branches()
    # retention flag plumbs through to the ref property (Iceberg RETAIN)
    _run(capsys, p, "create-branch", "--name", "aged", "--max-age-ms", "1")
    assert table.current().refs["aged"]["max_age_ms"] == 1
    _run(capsys, p, "drop-branch", "--name", "aged")


def test_admin_add_files(spark, tmp_path, table, capsys):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "conv_id": ["i1", "i2"],
                "turn_idx": pa.array([0, 0], type=pa.int32()),
                "text": ["imported", "imported"],
                "ts": [dt.datetime(2025, 1, 1)] * 2,
            }
        ),
        str(d / "f.parquet"),
    )
    out = _run(capsys, table.path, "add-files", "--paths", str(d))
    assert out["mode"] == "add-files" and out["files_added"] == 1
    assert table.read().where("conv_id = 'i1'").count() == 1
