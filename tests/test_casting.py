"""Casting kernel (C1-C8, C13-C14) against tiny literal frames — the
reference's operator-test pattern (SURVEY §5.1)."""

import datetime

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.functions import casting, cleaning, durations


def _one(df, expr):
    return df.select(expr.alias("x")).collect()[0]["x"]


def test_trim_empty_to_null(spark):
    df = spark.createDataFrame([("  a  ",), ("   ",), (None,)], "s string")
    out = [r["x"] for r in df.select(cleaning.trim_empty_to_null("s").alias("x")).collect()]
    assert out == ["a", None, None]


def test_clean_strings_only_touches_strings(spark):
    df = spark.createDataFrame([(" a ", 1)], "s string, i int")
    out = cleaning.clean_strings(df).collect()[0]
    assert out["s"] == "a" and out["i"] == 1


def test_ambivalent_cast_priority(spark):
    df = spark.createDataFrame(
        [("true", "1.0", "1.5", "2020-01-02", "nope")],
        "b string, i string, f string, d string, s string",
    )
    out = casting.ambivalent_cast(df)
    types = dict(out.dtypes)
    assert types == {
        "b": "boolean", "i": "bigint", "f": "double", "d": "date", "s": "string"
    }
    row = out.collect()[0]
    assert row["b"] is True and row["i"] == 1 and row["f"] == 1.5
    assert row["d"] == datetime.date(2020, 1, 2) and row["s"] == "nope"


def test_ambivalent_cast_mixed_column_stays_string(spark):
    df = spark.createDataFrame([("1",), ("x",)], "c string")
    out = casting.ambivalent_cast(df)
    assert dict(out.dtypes)["c"] == "string"


def test_integral_promotion(spark):
    df = spark.createDataFrame([(1.0,), (2.0,)], "c double")
    assert dict(casting.ambivalent_cast(df).dtypes)["c"] == "bigint"
    df2 = spark.createDataFrame([(1.0,), (2.5,)], "c double")
    assert dict(casting.ambivalent_cast(df2).dtypes)["c"] == "double"


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("2020-01-02", datetime.date(2020, 1, 2)),
        ("2020.01.02", datetime.date(2020, 1, 2)),
        ("01/02/2020", datetime.date(2020, 1, 2)),  # MM/dd/yyyy
        ("02.01.2020", datetime.date(2020, 1, 2)),  # dd.MM.yyyy
        ("2020", datetime.date(2020, 1, 1)),  # bare year → Jan 1
        ("garbage", None),
    ],
)
def test_multiformat_date(spark, raw, expected):
    df = spark.createDataFrame([(raw,)], "c string")
    assert _one(df, casting.parse_date_multi("c")) == expected


def test_specific_cast_strict_error(spark):
    df = spark.createDataFrame([("1",), ("x",)], "c string")
    with pytest.raises(casting.CastError) as e:
        casting.specific_cast(df, "c", "bigint")
    assert "x" in str(e.value)


def test_force_string_drops_trailing_zero(spark):
    df = spark.createDataFrame([(1.0,), (2.5,)], "c double")
    out = [r["c"] for r in casting.force_string(df, "c").collect()]
    assert out == ["1", "2.5"]


def test_bool_parse(spark):
    df = spark.createDataFrame([("TRUE",), ("false",), ("nope",), (None,)], "c string")
    out = [r["x"] for r in df.select(casting.parse_bool("c").alias("x")).collect()]
    assert out == [True, False, None, None]


def test_age_to_iso(spark):
    df = spark.createDataFrame([("47",), ("47.0",), ("P3M",), ("200",), ("x",)], "c string")
    out = [r["x"] for r in df.select(durations.age_years_to_iso("c").alias("x")).collect()]
    assert out == ["P47Y", "P47Y", "P3M", None, None]


@pytest.mark.parametrize(
    "start,end,expected",
    [
        ("2020-01-01", "2020-01-01", "P0Y"),
        ("2020-01-01", "2021-01-01", "P1Y"),
        ("2020-01-31", "2020-03-01", "P1M1D"),  # borrow across short month
        ("1972-07-11", "2019-12-13", "P47Y5M2D"),
        ("2020-03-01", "2020-01-01", None),  # negative span
        ("2020-01-15", "2020-02-14", "P30D"),
    ],
)
def test_date_diff_to_iso(spark, start, end, expected):
    df = spark.createDataFrame([(start, end)], "s string, e string")
    got = _one(df, durations.date_diff_to_iso(F.col("s").cast("date"), F.col("e").cast("date")))
    assert got == expected


def test_iso_duration_predicate(spark):
    df = spark.createDataFrame(
        [("P47Y5M29D",), ("P1YT2H",), ("47",), ("P",)], "c string"
    )
    out = [r["x"] for r in df.select(durations.is_iso8601_duration("c").alias("x")).collect()]
    # "P" alone matches the reference regex (all groups optional) — parity kept
    assert out == [True, True, False, True]


def test_time_element_tagged_union(spark):
    df = spark.createDataFrame([("P47Y",), ("2020-01-02",), ("zz",)], "c string")
    rows = df.select(durations.time_element_expr("c").alias("te")).collect()
    assert rows[0]["te"]["age"]["iso8601duration"] == "P47Y"
    assert rows[1]["te"]["timestamp"] is not None and rows[1]["te"]["age"] is None
    assert rows[2]["te"] is None


# cells at the edge of the phase-2 guard: signed and wide years parse as
# dates, a tab or full-width digits do not, the rest phase 1 decides
GUARD_EDGE_CELLS = [
    "-2020-01-15", "+12345-01-15", "+002020-01-15", "\t2020-01-15",
    "２０２０-01-15", "2020", "2020-1-5", "+2020",
]


def test_date_guard_keeps_column_decisions(spark):
    # each cell alone, and beside a plain date: the guarded stats decide
    # every column as the unguarded date/datetime chains would
    cols = {}
    for i, cell in enumerate(GUARD_EDGE_CELLS):
        cols[f"alone{i}"] = (cell, cell)
        cols[f"mixed{i}"] = (cell, "2020-01-15")
    names = list(cols)
    df = spark.createDataFrame(
        [tuple(cols[c][r] for c in names) for r in range(2)],
        ", ".join(f"{c} string" for c in names),
    )
    stats = casting.castability_stats(df, names)
    chains = df.agg(*[
        F.count(parse(F.trim(F.col(c)))).alias(f"{c}__{t}")
        for c in names
        for t, parse in (
            ("date", casting.parse_date_multi),
            ("datetime", casting.parse_datetime_multi),
        )
    ]).collect()[0]
    for c in names:
        unguarded = {**stats[c], "date": chains[f"{c}__date"], "datetime": chains[f"{c}__datetime"]}
        assert casting.decide_ambivalent(stats[c]) == casting.decide_ambivalent(unguarded), (
            c, cols[c], stats[c], unguarded,
        )
