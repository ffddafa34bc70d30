"""Merge-on-read read plans: a read, lookup or change poll plans only
what it executes, and the LWW resolve plan is built once per input
schema.

- Differential: merge-on-read ``read``/``lookup``/``changes`` equal the
  copy-on-write twin fed the same commits — and a pure-Python LWW
  replay — over map columns, tombstones, resurrections, a late losing
  event, ``add_files`` rows without engine columns (no ``_sub``), and
  a schema widened between two reads on the same ``LakeTable``.
- Plan guard: no executed plan of an all-dirty read, Spark-tier lookup
  or change poll (with or without ``_commit_version``), and no
  copy-on-write seed-merge write plan, scans a Python RDD.
- An explicit ``write_partitions`` is a floor on the write plan.
"""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_rs_spark.sinks.lake import LakeTable
from tests.util import executed_leaf_scans, lookup_tier

DDL = "k string, v long, attrs map<string,string>, ts timestamp"
BATCH_DDL = (
    "k string, v long, attrs map<string,string>, ts long, lsn long, op string"
)
PY_SCAN = "Scan ExistingRDD"

# (k, v, attrs, ts seconds, lsn, op) per merged batch; one row per key
B0 = [(f"k{i}", i, {"a": str(i)} if i != 7 else None, 100 + i, 1 + i, "U")
      for i in range(8)]
B1 = [
    ("k0", 10, {"a": "x", "b": "y"}, 200, 9, "U"),
    ("k1", None, None, 200, 10, "D"),
    ("k2", None, None, 200, 11, "D"),
    ("k3", 999, {"late": "1"}, 50, 12, "U"),  # older ts: loses
]
# add_files: user columns only — no _lsn/_deleted/_sub in the file
IMPORT = [
    ("k4", 444, {"imp": "1"}, 300),  # newer than stored: wins
    ("k5", 555, None, 10),  # older than stored: loses
    ("m0", 7, {"imp": "2"}, 300),  # a key only the import has
]
B2 = [
    ("k1", 11, {"back": "1"}, 300, 13, "I"),  # resurrection
    ("k6", 66, {"a": "66"}, 300, 14, "U"),
    ("k8", 8, None, 300, 15, "I"),
]
# widens the schema with `lang` between two reads
B3 = [
    ("k0", 100, {"a": "z"}, 400, 16, "U", "en"),
    ("k2", 22, {"back": "2"}, 400, 17, "I", "fr"),  # second resurrection
    ("k6", None, None, 400, 18, "D", None),
]


def _batch(spark, rows, lang=False) -> DataFrame:
    ddl = BATCH_DDL + (", lang string" if lang else "")
    return spark.createDataFrame(rows, ddl).withColumn(
        "ts", F.timestamp_seconds("ts")
    )


def _oracle(batches, imported, cols):
    """LWW replay in Python: per key, max (ts, lsn, sub); imported rows
    carry lsn -1 and sub 0, stream rows sub 1; a winning delete hides
    the key."""
    best = {}
    for rows in batches:
        for r in rows:
            k, v, attrs, ts, lsn, op = r[:6]
            rec = {"k": k, "v": v, "attrs": attrs, "ts": ts,
                   "lang": r[6] if len(r) > 6 else None}
            cand = ((ts, lsn, 1), op == "D", rec)
            if k not in best or cand[0] > best[k][0]:
                best[k] = cand
    for k, v, attrs, ts in imported:
        cand = ((ts, -1, 0), False, {"k": k, "v": v, "attrs": attrs, "ts": ts,
                                      "lang": None})
        if k not in best or cand[0] > best[k][0]:
            best[k] = cand
    return {
        k: tuple(rec[c] for c in cols)
        for k, (_, deleted, rec) in best.items()
        if not deleted
    }


def _norm(row):
    return tuple(tuple(sorted(x.items())) if isinstance(x, dict) else x for x in row)


def _rows(df, cols, extra=()):
    out = df.withColumn("ts", F.unix_timestamp("ts")).select(*cols, *extra)
    return sorted(_norm(r) for r in out.collect())


def _expected(state, keys=None):
    return sorted(
        _norm(row) for k, row in state.items() if keys is None or k in keys
    )


def _table(spark, tmp_path, mode):
    return LakeTable.create(
        spark,
        str(tmp_path / mode),
        DDL,
        key_cols=("k",),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=2,
        # no inline fold: every merge-on-read read resolves deltas
        props={"write.merge.mode": mode, "write.delta.max-files": 100},
    )


def test_mor_reads_equal_cow_twin_and_replay(spark, tmp_path):
    imp = str(tmp_path / "import")
    spark.createDataFrame(
        IMPORT, "k string, v long, attrs map<string,string>, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts")).coalesce(1).write.parquet(imp)
    cow = _table(spark, tmp_path, "copy-on-write")
    mor = _table(spark, tmp_path, "merge-on-read")
    for t in (cow, mor):
        t.merge(_batch(spark, B0), run_id="r", batch_id=0)
        t.merge(_batch(spark, B1), run_id="r", batch_id=1)
        t.add_files([imp])
        t.merge(_batch(spark, B2), run_id="r", batch_id=2)
    assert cow.current().version == mor.current().version
    assert any(f.get("kind") == "delta" for f in mor.current().files)
    probe = ["k0", "k1", "k2", "k3", "k4", "k5", "m0", "k6", "missing"]

    def check(batches, cols, since):
        state = _oracle(batches, IMPORT, cols)
        for t in (cow, mor):
            assert _rows(t.read(), cols) == _expected(state)
            assert _rows(t.lookup(probe), cols) == _expected(state, probe)
        for v in since:
            extra = ("_change_type", "_lsn")
            assert _rows(mor.changes(v), cols, extra) == _rows(
                cow.changes(v), cols, extra
            ), f"changes({v})"

    cols = ["k", "v", "attrs", "ts"]
    check([B0, B1, B2], cols, since=range(0, cow.current().version))
    before = mor.current().version
    # widen between two reads on the SAME LakeTable objects: the
    # cached resolve plan must not serve the pre-widen schema
    for t in (cow, mor):
        t.merge(_batch(spark, B3, lang=True), run_id="r", batch_id=3)
    assert "lang" in mor.read().columns
    check([B0, B1, B2, B3], cols + ["lang"], since=[0, before])
    deletes = mor.changes(before).where("_change_type = 'delete'")
    assert [r.k for r in deletes.collect()] == ["k6"]


def _range_batch(spark, n, lsn0, ts):
    """A batch planned without any Python RDD (``spark.range``), so a
    Python scan in the plan can only come from the table."""
    return spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        (F.col("id") + lsn0).alias("v"),
        F.lit(None).cast("map<string,string>").alias("attrs"),
        F.timestamp_seconds(F.lit(ts)).alias("ts"),
        (F.col("id") + lsn0).alias("lsn"),
        F.lit("U").alias("op"),
    )


def test_no_python_scan_in_all_dirty_reads_or_seed_merge(spark, tmp_path):
    empty = _table(spark, tmp_path, "merge-on-read")
    leaves = executed_leaf_scans(spark, lambda: empty.read().collect())
    assert PY_SCAN not in leaves, leaves

    cow = _table(spark, tmp_path, "copy-on-write")
    seed = _range_batch(spark, 64, 0, 100)
    leaves = executed_leaf_scans(
        spark, lambda: cow.merge(seed, run_id="r", batch_id=0)
    )
    assert leaves and PY_SCAN not in leaves, leaves

    mor = empty
    mor.merge(_range_batch(spark, 64, 0, 100), run_id="r", batch_id=0)
    mor.merge(_range_batch(spark, 64, 100, 200), run_id="r", batch_id=1)
    snap = mor.current()
    dirty = {f["bucket"] for f in snap.files if f.get("kind") == "delta"}
    assert dirty == set(range(snap.num_buckets))  # every bucket dirty
    def spark_lookup():
        # the Spark plan's scan: the driver-local tier plans none
        with lookup_tier("spark"):
            mor.lookup("k3").collect()

    for name, action in [
        ("read", lambda: mor.read().collect()),
        ("lookup", spark_lookup),
        ("changes", lambda: mor.changes(1).collect()),
        ("changes_with_version", lambda: mor.changes(1, with_version=True).collect()),
    ]:
        leaves = executed_leaf_scans(spark, action)
        assert any(s.startswith("Scan parquet") for s in leaves), (name, leaves)
        assert PY_SCAN not in leaves, (name, leaves)


@pytest.mark.parametrize("dist", ["hash", "range"])
def test_explicit_write_partitions_is_a_floor(spark, tmp_path, monkeypatch, dist):
    """The small-batch shrink rules plan fewer write tasks than cores;
    they must never go below a caller's explicit write_partitions."""
    t = LakeTable.create(
        spark,
        str(tmp_path / dist),
        DDL,
        key_cols=("k",),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=2,
        props={"write.distribution-mode": dist},
    )
    t.merge(_range_batch(spark, 40, 0, 100), run_id="r", batch_id=0)
    planned = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    for name in ("repartition", "repartitionByRange"):
        real = getattr(cls, name)

        def spy(self, n, *cols, _real=real):
            planned.append(n)
            return _real(self, n, *cols)

        monkeypatch.setattr(cls, name, spy)
    # a stored table takes the stats path, whose volumes shrink the plan
    t.merge(
        _range_batch(spark, 40, 100, 200),
        run_id="r",
        batch_id=1,
        write_partitions=7,
    )
    assert planned and min(planned) >= 7, planned
    got = sorted(r.v for r in t.read().collect())
    assert got == list(range(100, 140))
