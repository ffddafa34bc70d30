"""Flexible type coercions — the reference's DataValue cast semantics
(/root/reference/src/types.rs:206-331), as Spark expressions.

Pure built-in functions, so Catalyst keeps them inside whole-stage
codegen and they are SQL-expressible: the oracle-checked queries, the
ConvertTypes transform and the CDC payload normalizer
(cdc/normalize.coerce_columns) all use this one tier, and no value ever
crosses into a Python worker.

Reference semantics reproduced:
- as_boolean accepts true/1/yes/y and false/0/no/n case-insensitively
  (/root/reference/src/types.rs:243-253)
- as_integer truncates floats (/root/reference/src/types.rs:227)
- date parse cascade %Y-%m-%d -> %d/%m/%Y -> %m/%d/%Y
  (/root/reference/src/types.rs:262-273)
- as with strptime, a date's day and month may be unpadded
  (``2024-1-5``, ``5/1/2024``) and its year has exactly four digits
- datetime cascade "%Y-%m-%d %H:%M:%S" -> "%d/%m/%Y %H:%M:%S" ->
  "%Y-%m-%dT%H:%M:%S" (/root/reference/src/types.rs:284-296)
- timestamp: RFC-3339 first, bare date -> midnight UTC
  (/root/reference/src/types.rs:309-322)
- every failed conversion yields NULL, never an error
  (/root/reference/src/transform/common.rs:212-236)
- input is stripped of the whitespace Python's ``str.strip()`` removes
  (tabs, newlines, NBSP, ...), not only the spaces ``F.trim`` removes;
  the pandas reference in ``etl_rs_spark.oracle`` strips the same set
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRUE = ("true", "1", "yes", "y")
_FALSE = ("false", "0", "no", "n")
#: every character ``str.isspace()`` accepts, i.e. what ``str.strip()``
#: removes (tests/test_coercion.py pins the set)
_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
# strptime's shapes for the date cascade: four-digit year, one- or
# two-digit day and month. Values of any other shape skip the parse,
# which would otherwise accept "2024-001-05" or a signed year.
_YMD = r"^[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}$"
_SLASHED = r"^[0-9]{1,2}/[0-9]{1,2}/[0-9]{4}$"


def _text(col: Column | str) -> Column:
    """The value as a string, stripped of surrounding whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(c.cast("string"), F.lit(_WHITESPACE))


def bool_flex(col: Column | str) -> Column:
    s = F.lower(_text(col))
    return (
        F.when(s.isin(*_TRUE), F.lit(True))
        .when(s.isin(*_FALSE), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def int_flex(col: Column | str) -> Column:
    """int parse; else float parse truncated toward zero; else null."""
    s = _text(col)
    as_long = s.try_cast("long")
    as_dbl = s.try_cast("double")
    # try_cast on the double too: ANSI mode (Spark 4 default) raises
    # CAST_OVERFLOW on "1e300"/"nan" under a plain cast.
    return F.coalesce(as_long, as_dbl.try_cast("long"))


def float_flex(col: Column | str) -> Column:
    return _text(col).try_cast("double")


def date_flex(col: Column | str) -> Column:
    """The cascade tries only the patterns the value's shape can match,
    so the common forms parse on the first attempt."""
    s = _text(col)
    return F.when(s.rlike(_YMD), F.try_to_date(s, "yyyy-M-d")).when(
        s.rlike(_SLASHED),
        F.coalesce(F.try_to_date(s, "d/M/yyyy"), F.try_to_date(s, "M/d/yyyy")),
    )


def datetime_flex(col: Column | str) -> Column:
    s = _text(col)
    return F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(s, F.lit("dd/MM/yyyy HH:mm:ss")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
    )


def timestamp_flex(col: Column | str) -> Column:
    """RFC-3339 first (with offset), then datetime forms, then bare date
    at midnight UTC — session tz is pinned UTC in session.py."""
    s = _text(col)
    return F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
        datetime_flex(s),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd")),
    )


#: coercion registry: target type -> Column expression
COLUMN_COERCERS = {
    "boolean": bool_flex,
    "long": int_flex,
    "double": float_flex,
    "date": date_flex,
    "datetime": datetime_flex,
    "timestamp": timestamp_flex,
}
