"""Differential test of ``LakeTable.lookup()``'s two tiers: the
driver-local tier (pyarrow read + driver LWW resolve into a local
relation) must return the rows and schema of the Spark plan, and run no
Spark job, on every table state the public API can build:

- copy-on-write and merge-on-read merges, with late losing events,
  NULL event times and a ``_sub`` tie-break;
- tombstones and resurrections;
- ``update_where``/``delete_where`` rows (``_sub=0``);
- ``add_files`` rows without engine columns;
- a widened column, an int->long promotion;
- ``rename_column``/``drop_column`` across epochs;
- a map column, ``set_num_buckets``, ``compact`` and ``rollback``.

Each table's whole history is built once; hypothesis draws the version
pin, the key set (single keys, lists, missing keys) and
``include_meta``. Shapes the local tier cannot reproduce exactly — an
order-tier tie between two different rows, a nested-struct widening —
must take the Spark plan.
"""

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from etl_rs_spark.sinks.lake import LakeTable, _arrow_lww, _lww_resolve, _NotLocal
from tests.util import local_reads, lookup_tier, spark_jobs_during

DDL = "k string, t int, v int, tags map<string,string>, ts timestamp"
KEYS = [f"k{i}" for i in range(9)] + ["m0", "missing"]

# (k, t, v, tags, ts seconds, lsn, op)
B0 = [
    (f"k{i}", t, i * 10 + t, {"i": str(i)} if i != 5 else None, 100 + i, 1 + 2 * i + t, "I")
    for i in range(6)
    for t in (0, 1)
]
B1 = [
    ("k0", 0, 500, {"u": "1"}, 200, 20, "U"),
    ("k1", 0, None, None, 200, 21, "D"),
    ("k2", 1, None, None, 200, 22, "D"),
    ("k3", 0, 999, {"late": "1"}, 50, 23, "U"),  # older ts: loses
]
# add_files: user columns only, no _lsn/_deleted/_sub
IMPORT = [
    ("k4", 0, 444, {"imp": "1"}, 300),  # newer than stored: wins
    ("k5", 1, 555, None, 10),  # older than stored: loses
    ("m0", 0, 7, {"imp": "2"}, 300),  # a key only the import has
]
B2 = [  # widens the schema with `lang`
    ("k1", 0, 11, {"back": "1"}, 300, 40, "I", "en"),  # resurrection
    ("k6", 0, 66, {"a": "66"}, 300, 41, "I", "fr"),
    ("k4", 1, 41, None, 40, 42, "U", None),  # late loser
    # the update_where row's (ts, lsn): wins on _sub (stream 1 > DML 0)
    ("k0", 0, 7777, {"sub": "1"}, 200, 24, "U", None),
    ("k3", 0, 31, None, None, 43, "U", None),  # NULL ts: loses
    ("k8", 1, 81, None, None, 44, "I", None),  # NULL ts, only row: wins
]
B3 = [("k0", 1, 2**40, {"big": "1"}, 400, 50, "U")]  # v: int -> long
B4 = [  # after v -> val and drop of lang; bucket 1 of 2 only
    ("k1", 0, 12, {"x": "2"}, 500, 60, "U"),
    ("k2", 0, None, None, 500, 61, "D"),
    ("k7", 0, 77, {"n": "7"}, 500, 62, "I"),
]
B5 = [
    ("k0", 0, None, None, 600, 70, "D"),
    ("k2", 1, 21, {"r": "1"}, 600, 71, "I"),  # second resurrection
    ("k8", 0, 88, None, 600, 72, "I"),
    ("k6", 0, None, None, 600, 73, "D"),
]
B6 = [("k7", 0, 78, None, 700, 80, "U"), ("k8", 1, 89, {"z": "1"}, 700, 81, "I")]
B7 = [("k2", 1, 22, None, 800, 90, "U"), ("k5", 0, 55, None, 50, 91, "U")]


def _batch(spark, rows, v="v", vtype="int", lang=False):
    ddl = (
        f"k string, t int, {v} {vtype}, tags map<string,string>, "
        "ts long, lsn long, op string" + (", lang string" if lang else "")
    )
    return spark.createDataFrame(rows, ddl).withColumn(
        "ts", F.timestamp_seconds("ts")
    )


def _history(spark, root, mode):
    """One table through every operation the module docstring lists;
    returns it with its last version."""
    imp = str(root / f"import-{mode}")
    spark.createDataFrame(
        IMPORT, "k string, t int, v int, tags map<string,string>, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts")).coalesce(1).write.parquet(imp)
    t = LakeTable.create(
        spark,
        str(root / mode),
        DDL,
        key_cols=("k", "t"),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=2,
        # no inline fold: merge-on-read lookups resolve deltas
        props={"write.merge.mode": mode, "write.delta.max-files": 100},
    )
    t.merge(_batch(spark, B0), run_id="r", batch_id=0)
    t.merge(_batch(spark, B1), run_id="r", batch_id=1)
    t.add_files([imp])
    t.update_where({"v": "v + 1000"}, "k = 'k0' OR k = 'k4'")
    t.delete_where("k = 'k3' AND t = 1")
    t.merge(_batch(spark, B2, lang=True), run_id="r", batch_id=2)
    t.merge(_batch(spark, B3, vtype="long"), run_id="r", batch_id=3)
    t.rename_column("v", "val")
    t.drop_column("lang")
    t.merge(_batch(spark, B4, v="val", vtype="long"), run_id="r", batch_id=4)
    t.set_num_buckets(4)
    t.merge(_batch(spark, B5, v="val", vtype="long"), run_id="r", batch_id=5)
    before_compact = t.current().version
    t.compact()
    t.merge(_batch(spark, B6, v="val", vtype="long"), run_id="r", batch_id=6)
    t.rollback(before_compact)
    t.merge(_batch(spark, B7, v="val", vtype="long"), run_id="r", batch_id=7)
    return t


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("local_lookup")
    return {
        mode: _history(spark, root, mode)
        for mode in ("copy-on-write", "merge-on-read")
    }


def _map(x):
    """A map value as sorted items: Spark collects a dict, Arrow a list
    of (key, value) pairs."""
    if isinstance(x, dict):
        x = x.items()
    return tuple(sorted(x)) if isinstance(x, (list, type({}.items()))) else x


def _norm(rows):
    return sorted(tuple(_map(x) for x in r) for r in rows)


def _both_tiers(spark, table, keys, **kw):
    """(Spark-tier rows, schema), (local-tier rows, schema), and the
    Spark jobs the local tier ran, building and collecting."""
    with lookup_tier("spark"):
        ref = table.lookup(keys, **kw)
        want = _norm(ref.collect())
    got = []
    with lookup_tier("local"):
        jobs = spark_jobs_during(
            spark, lambda: got.append(table.lookup(keys, **kw).collect())
        )
        schema = table.lookup(keys, **kw).schema
    return (want, ref.schema), (_norm(got[0]), schema), jobs


def test_history_covers_every_shape(tables):
    mor = tables["merge-on-read"].current()
    assert any(f.get("kind") == "delta" for f in mor.files)
    for t in tables.values():
        snap = t.current()
        assert snap.epoch == 2 and snap.num_buckets == 4
        assert snap.schema()["val"].dataType.simpleString() == "bigint"
        # some pinned version mixes write epochs and bucket specs
        old = [t.snapshot(v) for v in range(1, snap.version + 1)]
        assert any(len({int(f.get("epoch", 0)) for f in s.files}) > 1 for s in old)
        assert any(
            len({int(f.get("spec_n", s.num_buckets)) for f in s.files}) > 1
            for s in old
        )
        # version 6 = after B2: the stream row beat the update_where row
        # on _sub, a NULL-ts event lost, a NULL-ts first event won
        at6 = {(r.k, r.t): r.v for r in t.lookup(["k0", "k3", "k8"], version=6).collect()}
        assert at6[("k0", 0)] == 7777 and at6[("k3", 0)] == 30
        assert at6[("k8", 1)] == 81


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    mode=st.sampled_from(["copy-on-write", "merge-on-read"]),
    back=st.integers(min_value=0, max_value=17),
    keys=st.one_of(
        st.sampled_from(KEYS),
        st.lists(st.sampled_from(KEYS), max_size=4),
    ),
    include_meta=st.booleans(),
)
def test_local_tier_equals_spark_plan(spark, tables, mode, back, keys, include_meta):
    table = tables[mode]
    version = max(table.current().version - back, 1)
    (want, want_schema), (got, got_schema), jobs = _both_tiers(
        spark, table, keys, version=version, include_meta=include_meta
    )
    assert got == want, (version, keys)
    assert got_schema == want_schema
    assert jobs == [], f"local tier ran jobs {jobs} at version {version}"


def test_local_tier_at_head_reads_every_key(spark, tables):
    """Every key at once on the head snapshot: the whole history's
    deltas, epochs and specs in one resolve."""
    for table in tables.values():
        for include_meta in (False, True):
            (want, ws), (got, gs), jobs = _both_tiers(
                spark, table, KEYS, include_meta=include_meta
            )
            assert got == want and gs == ws and jobs == []
            assert len(want) > 5


def test_order_tier_tie_takes_spark_plan(spark, tmp_path):
    """Two different rows of one key at the same (ts, lsn, sub) in a
    dirty bucket: Spark's max(struct) breaks the tie on the payload, so
    the local tier must not answer."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "tie"),
        DDL,
        key_cols=("k", "t"),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=1,
        props={"write.merge.mode": "merge-on-read", "write.delta.max-files": 100},
    )
    for i, v in enumerate((1, 2)):
        p = str(tmp_path / f"imp{i}")
        spark.createDataFrame(
            [("k0", 0, v, None, 100)],
            "k string, t int, v int, tags map<string,string>, ts long",
        ).withColumn("ts", F.timestamp_seconds("ts")).write.parquet(p)
        t.add_files([p])
    t.merge(_batch(spark, [("k1", 0, 1, None, 100, 1, "I")]), run_id="r", batch_id=0)
    assert any(f.get("kind") == "delta" for f in t.current().files)
    (want, ws), (got, gs), jobs = _both_tiers(spark, t, "k0")
    assert got == want and gs == ws and len(want) == 1
    assert jobs, "an order-tier tie must run the Spark plan"
    # the other key of the same dirty bucket has no tie: local
    (want, _), (got, _), jobs = _both_tiers(spark, t, "k1")
    assert got == want and jobs == []


def test_nested_struct_widening_takes_spark_plan(spark, tmp_path):
    """A file written before a nested struct gained a field needs more
    than a top-level cast to reach the table type: Spark plan."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "nested"),
        "k string, t int, s struct<a:int>, ts timestamp",
        key_cols=("k", "t"),
        order_cols=("ts", "lsn"),
        bucket_col="k",
        num_buckets=2,  # k0 and k1 land in different buckets
    )
    ddl = "k string, t int, {s}, ts long, lsn long, op string"
    t.merge(
        spark.createDataFrame([("k0", 0, (1,), 100, 1, "I")], ddl.format(s="s struct<a:int>"))
        .withColumn("ts", F.timestamp_seconds("ts")),
        run_id="r",
        batch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [("k1", 0, (2, "x"), 200, 2, "I")],
            ddl.format(s="s struct<a:int,b:string>"),
        ).withColumn("ts", F.timestamp_seconds("ts")),
        run_id="r",
        batch_id=1,
    )
    assert "b" in t.current().schema()["s"].dataType.names
    with lookup_tier("local"), local_reads() as opened:
        (want, ws), (got, gs), jobs = _both_tiers(spark, t, ["k0", "k1"])
    assert got == want and gs == ws and len(want) == 2
    assert opened and jobs, "nested-struct widening must run the Spark plan"


ROW = st.fixed_dictionaries(
    {
        "k": st.sampled_from(["a", "b"]),
        "t": st.integers(0, 1),
        "v": st.one_of(st.none(), st.integers(0, 3)),
        "tags": st.one_of(
            st.none(), st.dictionaries(st.sampled_from("xy"), st.sampled_from("12"))
        ),
        "ts": st.one_of(st.none(), st.integers(1, 3)),
        "_lsn": st.one_of(st.none(), st.integers(-1, 400)),
        "_deleted": st.one_of(st.none(), st.booleans()),
        "_sub": st.one_of(st.none(), st.integers(0, 1)),
    }
)


@settings(max_examples=40, deadline=None)
@given(rows=st.lists(ROW, max_size=12))
def test_arrow_lww_equals_spark_resolve(spark, rows):
    """The driver resolve kernel against the Spark one on raw stored
    rows, including shapes the write path never stores (a tombstone
    with a payload, NULL ``_deleted``): same winners, same coalesced
    order tiers, same payload nulling — or _NotLocal on a tie between
    different rows."""
    schema = T.StructType.fromDDL(
        "k string, t int, v int, tags map<string,string>, ts long, "
        "_lsn long, _deleted boolean, _sub int"
    )
    df = spark.createDataFrame(rows, schema)
    want = _norm(_lww_resolve(df, ["k", "t"], "ts").collect())
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    try:
        got = _arrow_lww(table, ["k", "t"], "ts")
    except _NotLocal:
        return  # a real tie: lookup() takes the Spark plan
    assert _norm(tuple(r.values()) for r in got.to_pylist()) == want
