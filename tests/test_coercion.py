"""Coercion-table parity (FIXTURES.md §4; reference
/root/reference/src/types.rs:206-331) for both the Column-expression and
the pandas reference tier (``etl_rs_spark.oracle``, which the state
tests compare the engine with), and a differential between the two."""

import datetime as dt
import string

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_rs_spark import oracle
from etl_rs_spark.cdc.normalize import coerce_columns
from etl_rs_spark.functions import coercion as co

BOOL_CASES = [
    ("true", True), ("TRUE", True), ("1", True), ("yes", True), ("Y", True),
    ("false", False), ("0", False), ("no", False), ("N", False),
    ("maybe", None), ("", None), (None, None),
    ("\tyes", True), ("\xa0no\n", False), ("yes\u3000", True),
]

DATE_CASES = [
    ("2024-01-31", dt.date(2024, 1, 31)),
    ("31/01/2024", dt.date(2024, 1, 31)),
    ("01/31/2024", dt.date(2024, 1, 31)),  # MM/dd fallback
    ("2024-13-99", None),
    ("nope", None),
    ("2024-1-5", dt.date(2024, 1, 5)),
    ("5/1/2024", dt.date(2024, 1, 5)),
    ("1/31/2024", dt.date(2024, 1, 31)),
    ("\t2024-01-05", dt.date(2024, 1, 5)),
    ("\n31/01/2024\xa0", dt.date(2024, 1, 31)),
    ("2024-02-30", None),  # no such day
    ("2024-001-05", None),  # strptime takes one or two digits
    ("-2024-01-05", None),
    ("", None),
    (None, None),
]


@pytest.fixture(scope="module")
def one(spark):
    return spark.range(1)


def _eval(one, expr):
    return one.select(expr.alias("v")).collect()[0]["v"]


def test_bool_flex_column(one):
    for raw, want in BOOL_CASES:
        assert _eval(one, co.bool_flex(F.lit(raw))) is want, raw


def _column_tier(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["v"] for r in df.select(fn("s").alias("v")).collect()]


def _pandas_reference(fn, values):
    out = fn(pd.Series(values, dtype=object))
    return [None if pd.isna(v) else v for v in out]


def test_bool_flex_pandas(spark):
    """bool_flex over a batch equals the pandas reference on every case.
    (The name predates the removal of the pandas-UDF tier it tested.)"""
    want = [w for _, w in BOOL_CASES]
    raw = [c for c, _ in BOOL_CASES]
    assert _pandas_reference(oracle.coerce_bool_series, raw) == want
    assert _column_tier(spark, co.bool_flex, raw) == want


def test_date_flex_column(one):
    for raw, want in DATE_CASES:
        assert _eval(one, co.date_flex(F.lit(raw))) == want, raw


def test_date_flex_pandas(spark):
    """date_flex over a batch equals the pandas reference on every case.
    (The name predates the removal of the pandas-UDF tier it tested.)"""
    want = [w for _, w in DATE_CASES]
    raw = [c for c, _ in DATE_CASES]
    assert _pandas_reference(oracle.coerce_date_series, raw) == want
    assert _column_tier(spark, co.date_flex, raw) == want


def test_int_flex_truncates(one):
    # as_integer truncates floats (/root/reference/src/types.rs:227)
    assert _eval(one, co.int_flex(F.lit("7"))) == 7
    assert _eval(one, co.int_flex(F.lit("3.9"))) == 3
    assert _eval(one, co.int_flex(F.lit("-3.9"))) == -3
    assert _eval(one, co.int_flex(F.lit("abc"))) is None
    assert _eval(one, co.int_flex(F.lit("\xa07\t"))) == 7
    assert _eval(one, co.int_flex(F.lit("\n3.9\u3000"))) == 3


def test_float_flex(one):
    assert _eval(one, co.float_flex(F.lit("3.5"))) == 3.5
    assert _eval(one, co.float_flex(F.lit("x"))) is None
    assert _eval(one, co.float_flex(F.lit("\t3.5\xa0"))) == 3.5


def test_datetime_flex_three_formats(one):
    want = dt.datetime(2024, 1, 31, 12, 30, 5)
    for raw in (
        "2024-01-31 12:30:05", "31/01/2024 12:30:05", "2024-01-31T12:30:05",
        "\t2024-01-31 12:30:05\xa0", "\n31/01/2024 12:30:05",
    ):
        got = _eval(one, co.datetime_flex(F.lit(raw)))
        assert got.replace(tzinfo=None) == want, raw
    assert _eval(one, co.datetime_flex(F.lit("31-01-2024"))) is None


def test_timestamp_flex_rfc3339_and_bare_date(one):
    got = _eval(one, co.timestamp_flex(F.lit("2024-01-31T12:30:05+00:00")))
    assert got.replace(tzinfo=None) == dt.datetime(2024, 1, 31, 12, 30, 5)
    # bare date -> midnight UTC (/root/reference/src/types.rs:309-322)
    got = _eval(one, co.timestamp_flex(F.lit("2024-01-31")))
    assert got.replace(tzinfo=None) == dt.datetime(2024, 1, 31, 0, 0, 0)
    # surrounding whitespace of any kind is stripped first
    got = _eval(one, co.timestamp_flex(F.lit("\xa02024-01-31T12:30:05+00:00\t")))
    assert got.replace(tzinfo=None) == dt.datetime(2024, 1, 31, 12, 30, 5)
    got = _eval(one, co.timestamp_flex(F.lit("\n2024-01-31\u2003")))
    assert got.replace(tzinfo=None) == dt.datetime(2024, 1, 31, 0, 0, 0)


def test_whitespace_set_is_python_strip():
    """The Column tier strips exactly what ``str.strip()`` strips."""
    every = (chr(i) for i in range(0x110000))
    assert set(co._WHITESPACE) == {c for c in every if c.isspace()}


# -- differential: Column tier vs the pandas reference ---------------------
# The generator's dirty forms (generator.py), the same wrapped in
# whitespace, unpadded days and months, impossible dates, garbage, "" and
# NULL, over every four-digit year from 1000.
_BOOL_FORMS = ["TRUE", "yes", "Y", "1", "False", "NO", "n", "0"]
_WORDS = ["true", "false", "yes", "no", "y", "n", "1", "0", "maybe", "t"]
_pad = st.text(alphabet=co._WHITESPACE, max_size=3)
_garbage = st.text(alphabet=string.ascii_letters + string.digits + "-/:.", max_size=12)


@st.composite
def _mixed_case(draw):
    word = draw(st.sampled_from(_WORDS))
    flips = draw(st.lists(st.booleans(), min_size=len(word), max_size=len(word)))
    return "".join(c.upper() if f else c for c, f in zip(word, flips))


@st.composite
def _date_text(draw):
    y = draw(st.integers(1000, 9999))
    m = draw(st.integers(0, 13))
    d = draw(st.integers(0, 32))
    padded = draw(st.booleans())
    mm, dd = (f"{m:02d}", f"{d:02d}") if padded else (str(m), str(d))
    form = draw(st.sampled_from(["{y}-{m}-{d}", "{d}/{m}/{y}", "{m}/{d}/{y}"]))
    return form.format(y=y, m=mm, d=dd)


def _dirty(core):
    wrapped = st.tuples(_pad, core, _pad).map("".join)
    return st.one_of(core, wrapped, _garbage, st.just(""), st.none())


_bools = _dirty(st.one_of(st.sampled_from(_BOOL_FORMS), _mixed_case()))
_dates = _dirty(_date_text())


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(st.tuples(_bools, _dates), min_size=1, max_size=30))
def test_coerce_columns_matches_pandas_reference(spark, rows):
    df = spark.createDataFrame(rows, "meta_active string, meta_edited string")
    got = coerce_columns(df).collect()
    flags, dates = zip(*rows)
    assert [r["meta_active"] for r in got] == _pandas_reference(
        oracle.coerce_bool_series, list(flags)
    ), rows
    assert [r["meta_edited"] for r in got] == _pandas_reference(
        oracle.coerce_date_series, list(dates)
    ), rows
