"""Correctness gate, run outside every timed region.

Three checks, each independent of the engine's own merge, dedup and
coercion code:

- ``state_matches``: the table's final ``read()`` against a replay of
  the binlog files — a distributed ``max_by`` reduction per key with the
  dirty payload coerced by inline SQL expressions (the same reduction
  ``scripts/run_endurance.py`` verifies with). Both sides reduce to the
  (count, sum, xor) of one canonical row hash.
- ``lookups_match``: every point lookup was pinned to a snapshot
  version; its rows must equal ``read(version)`` for the same key.
- ``CdfConsumer``: the ``changes()`` polls, applied in order, must
  rebuild the final state, and no (key, lsn) may be emitted twice.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEY = ["conv_id", "turn_idx"]
#: the compared surface: key, payload, the two coerced metadata columns
#: and the column that arrives by schema evolution
COLUMNS = KEY + [
    "role", "text", "tool", "ts", "meta_active", "meta_edited", "lang",
]
_PAYLOAD_DDL = (
    "role string, text string, tool string, meta_active string, "
    "meta_edited string, lang string"
)


def _coerce_inline(df: DataFrame) -> DataFrame:
    low = F.lower(F.trim(F.col("meta_active")))
    return df.withColumn(
        "meta_active",
        F.when(low.isin("true", "1", "yes", "y"), F.lit(True)).when(
            low.isin("false", "0", "no", "n"), F.lit(False)
        ),
    ).withColumn(
        "meta_edited",
        F.coalesce(
            F.try_to_timestamp(F.col("meta_edited"), F.lit("yyyy-MM-dd")),
            F.try_to_timestamp(F.col("meta_edited"), F.lit("dd/MM/yyyy")),
            F.try_to_timestamp(F.col("meta_edited"), F.lit("MM/dd/yyyy")),
        ).cast("date"),
    )


#: type of each compared column that a snapshot may not have yet
_LATE_TYPES = {"meta_active": "boolean", "meta_edited": "date", "lang": "string"}


def _with_all_columns(df: DataFrame) -> DataFrame:
    for c in COLUMNS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(_LATE_TYPES.get(c, "string")))
    return df.select(*COLUMNS)


def _hash_triple(df: DataFrame) -> tuple[int, Any, Any]:
    rendered = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in COLUMNS
    ]
    r = (
        _with_all_columns(df)
        .select(F.xxhash64(F.concat_ws("\x1f", *rendered)).alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.expr("bit_xor(h)").alias("x"),
        )
        .collect()[0]
    )
    return int(r["n"]), r["s"], r["x"]


def oracle_triple(spark, files: list[str]) -> tuple[int, Any, Any]:
    """Hash triple of the state the binlog files must converge to."""
    ev = spark.read.parquet(*files).select(
        "lsn", "op", "conv_id", "turn_idx", "ts",
        F.from_json("payload", _PAYLOAD_DDL).alias("p"),
    ).select("lsn", "op", "conv_id", "turn_idx", "ts", "p.*")
    row = F.struct(*[F.col(c) for c in ev.columns])
    winners = (
        ev.groupBy(*KEY)
        .agg(F.max_by(row, F.struct("ts", "lsn")).alias("w"))
        .select("w.*")
        .where(F.col("op") != "D")
    )
    return _hash_triple(_coerce_inline(winners))


def table_triple(table) -> tuple[int, Any, Any]:
    return _hash_triple(table.read())


def canonical_rows(rows, columns=COLUMNS) -> list[tuple]:
    """Collected rows as sorted tuples over ``columns`` (absent -> None)."""
    return sorted(
        tuple(r.asDict().get(c) if hasattr(r, "asDict") else r.get(c)
              for c in columns)
        for r in rows
    )


def lookups_match(table, lookups: list[tuple[int, str, list[tuple]]]) -> int:
    """Count pinned lookups whose rows differ from ``read(version)``.
    ``lookups`` holds (version, conv_id, canonical rows). One Spark job
    checks them all: a union of per-version key-filtered reads."""
    if not lookups:
        return 0
    by_version: dict[int, set[str]] = {}
    for v, key, _ in lookups:
        by_version.setdefault(v, set()).add(key)
    parts = [
        _with_all_columns(
            table.read(version=v).where(F.col("conv_id").isin(sorted(keys)))
        ).withColumn("__v", F.lit(v))
        for v, keys in sorted(by_version.items())
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    expected: dict[tuple[int, str], list] = {}
    for r in union.collect():
        d = r.asDict()
        expected.setdefault((d["__v"], d["conv_id"]), []).append(d)
    bad = 0
    for v, key, rows in lookups:
        if canonical_rows(expected.get((v, key), [])) != rows:
            bad += 1
    return bad


class CdfConsumer:
    """A change-data-feed consumer: applies each poll's net changes to a
    key -> row map, and counts any (key, lsn) it has seen before."""

    def __init__(self, from_version: int):
        self.last_seen = from_version
        self.state: dict[tuple, tuple] = {}
        self.seen: set[tuple] = set()
        self.reemitted = 0

    def apply(self, rows, to_version: int) -> None:
        for r in rows:
            d = r.asDict()
            k = (d["conv_id"], d["turn_idx"])
            tag = (k, d["_lsn"], d["_change_type"])
            if tag in self.seen:
                self.reemitted += 1
            self.seen.add(tag)
            if d["_change_type"] == "delete":
                self.state.pop(k, None)
            else:
                self.state[k] = tuple(d.get(c) for c in COLUMNS)
        self.last_seen = to_version

    def mismatches(self, final_rows) -> int:
        """Rows on which the rebuilt state and the table disagree, plus
        every re-emitted change."""
        want = {(r[0], r[1]): r for r in canonical_rows(final_rows)}
        keys = set(want) | set(self.state)
        return self.reemitted + sum(
            1 for k in keys if want.get(k) != self.state.get(k)
        )
