"""CDC payload normalization — envelope in, typed change rows out.

The wire envelope carries evolving payload fields inside one JSON string
(generator.ENVELOPE_SCHEMA). Normalization:

1. **Key discovery**: the union of JSON object keys via the built-in
   ``json_object_keys`` — the reference's union-of-keys schema
   inference (/root/reference/src/load/parquet.rs:125-138) done on a
   microbatch, which is what lets a brand-new column (e.g. ``lang``)
   surface mid-stream. The CDC apply path folds it into its one stats
   action over the deduped winners (cdc/apply.py);
   ``discover_payload_keys`` is the standalone job.
2. **JSON parse** with ``from_json`` against the discovered struct —
   JVM-side, codegen'd; the payload never reaches Python as a row.
3. **Dirty-value coercion** of spec'd columns (``coerce_columns``,
   run by the apply path on the deduped winners) through the Column
   expressions of functions/coercion.py — mixed-case boolean strings,
   multi-format date strings — per the reference cast semantics of
   functions/coercion.py. JVM-side like the parse: no value reaches a
   Python worker (BASELINE.json input_hint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_rs_spark.functions.coercion import COLUMN_COERCERS

#: default dirty-metadata coercion spec: payload key -> target type
DEFAULT_COERCE_SPEC = {"meta_active": "boolean", "meta_edited": "date"}
#: spec targets coerced through ``COLUMN_COERCERS`` rather than try_cast
_FLEX_TARGETS = ("boolean", "date")


def discover_payload_keys(envelope: DataFrame, payload_col: str = "payload") -> list[str]:
    """Distinct JSON keys across the batch (sorted for determinism).

    Standalone variant kept for direct callers; the apply hot path gets
    the keys from its stats action over the deduped winners instead
    (cdc/apply.py)."""
    rows = (
        envelope.select(
            F.explode(
                F.json_object_keys(F.coalesce(F.col(payload_col), F.lit("{}")))
            ).alias("k")
        )
        .distinct()
        .collect()
    )
    return sorted(r["k"] for r in rows)


def normalize_events(
    envelope: DataFrame,
    coerce_spec: dict[str, str] | None = None,
    payload_col: str = "payload",
    keys: list[str] | None = None,
) -> DataFrame:
    """Envelope (lsn, op, conv_id, turn_idx, ts, payload-json) ->
    typed change rows (lsn, op, conv_id, turn_idx, ts, <payload cols>).

    Payload columns are whatever keys this batch actually carries —
    additive schema evolution flows through here to the MERGE, which
    widens the table. Pass ``keys`` (e.g. the apply path's key union
    from its stats action) to skip the discovery job. Scalar payload
    columns stay strings; ``coerce_columns`` types them.
    """
    spec = DEFAULT_COERCE_SPEC if coerce_spec is None else coerce_spec
    if keys is None:
        keys = discover_payload_keys(envelope, payload_col)

    # a key whose spec target is a COMPLEX type (struct/array/map — a
    # transcript's tool-call record, a step list) parses natively inside
    # the one from_json pass: the field gets the declared type instead
    # of string, so nested payloads flow through the stream to the
    # MERGE's nested schema evolution with no re-parse and no Python.
    # Malformed nested values null out (PERMISSIVE), same contract as
    # try_cast on scalars.
    def _target_type(k: str) -> T.DataType | None:
        t_ddl = spec.get(k)
        if t_ddl is None:
            return None
        try:
            dt = T.StructType.fromDDL(f"`{k}` {t_ddl}")[0].dataType
        except Exception:
            return None
        return (
            dt
            if isinstance(dt, (T.StructType, T.ArrayType, T.MapType))
            else None
        )

    complex_types = {
        k: dt for k in keys if (dt := _target_type(k)) is not None
    }
    payload_schema = T.StructType(
        [
            T.StructField(k, complex_types.get(k, T.StringType()))
            for k in keys
        ]
    )
    df = envelope.withColumn(
        "__p", F.from_json(F.col(payload_col), payload_schema)
    )
    cols = [
        F.col("lsn").cast("long").alias("lsn"),
        F.col("op").cast("string").alias("op"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
    ]
    cols += [F.col(f"__p.{k}").alias(k) for k in keys]
    return df.select(*cols)


def coerce_columns(df: DataFrame, spec: dict[str, str] | None = None) -> DataFrame:
    """Apply the dirty-value coercion spec to whichever spec'd columns are
    present. Called AFTER LWW dedup in the apply pipeline, so it types
    one row per key (the winners), not every duplicate event. A boolean
    or date target takes the reference's flexible forms (``bool_flex``,
    ``date_flex``); any other scalar target is a ``try_cast``: a
    malformed value yields NULL, not an ANSI CAST_INVALID_INPUT that
    kills the microbatch."""
    spec = DEFAULT_COERCE_SPEC if spec is None else spec
    out = {}
    types = {f.name: f.dataType for f in df.schema.fields}
    for k, target in spec.items():
        if k not in df.columns:
            continue
        if isinstance(
            types[k], (T.StructType, T.ArrayType, T.MapType)
        ):
            continue  # parsed natively by normalize_events already
        c = F.col(k)
        if target in _FLEX_TARGETS:
            out[k] = COLUMN_COERCERS[target](c)
            continue
        # a COMPLEX target against a still-string column (data that did
        # not pass through normalize_events with this spec):
        # string->struct/array/map try_cast is not a valid cast and
        # would raise an AnalysisException at plan time instead of
        # nulling malformed values — parse with from_json, which yields
        # NULL for malformed input, the coercion contract (ADVICE r05).
        try:
            target_dt = T.StructType.fromDDL(f"`__c` {target}")[0].dataType
        except Exception:
            target_dt = None
        if isinstance(
            target_dt, (T.StructType, T.ArrayType, T.MapType)
        ) and isinstance(types[k], T.StringType):
            # from_json in PERMISSIVE mode yields an all-null struct for
            # malformed input; gate on JSON validity so malformed values
            # become NULL like every other failed coercion
            valid = (
                F.json_array_length(c).isNotNull()
                if isinstance(target_dt, T.ArrayType)
                else F.json_object_keys(c).isNotNull()
            )
            out[k] = F.when(c.isNotNull() & valid, F.from_json(c, target_dt))
            continue
        out[k] = c.try_cast(target)
    return df.withColumns(out) if out else df
