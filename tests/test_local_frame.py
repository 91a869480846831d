"""``session.local_frame`` is the one way the package builds a table from
Python rows: it gives what ``createDataFrame(list)`` gives, as a JVM
``LocalRelation`` instead of an RDD behind a Python worker."""

import datetime
import os
import time
from pathlib import Path

import pytest

from phenoxtract_spark.session import local_frame
from test_pipeline_e2e import _plan_leaves

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "phenoxtract_spark"

# every column type the package's callers pass
SCHEMA = "s string, i int, b bigint, d double, z boolean, t timestamp, dt date"
ROWS = [
    ("a", 1, 2**40, 1.5, True, datetime.datetime(2020, 1, 2, 3, 4, 5, 123456),
     datetime.date(2020, 1, 2)),
    (None, None, None, None, None, None, None),
    ("", -7, -(2**62), -0.25, False, datetime.datetime(1969, 12, 31, 23, 59, 59),
     datetime.date(1900, 3, 1)),
]


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_create_data_frame(spark, rows):
    got = local_frame(spark, rows, SCHEMA)
    want = spark.createDataFrame(rows, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _plan_leaves(got) == [("LocalRelation", "")]


def test_local_frame_naive_datetime_is_local_time(spark):
    # a naive datetime means local time on both paths (toInternal), not
    # the session's UTC: Arrow's own naive timestamps would be 5 h off here
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        rows = [(datetime.datetime(2020, 7, 1, 12, 0),), (datetime.datetime(2020, 1, 1, 0, 30),)]
        got = local_frame(spark, rows, "t timestamp")
        want = spark.createDataFrame(rows, "t timestamp")
        assert got.selectExpr("unix_micros(t) AS u").collect() == (
            want.selectExpr("unix_micros(t) AS u").collect()
        )
        assert got.collect() == want.collect()
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


# modules whose small tables must come from local_frame
NO_PYTHON_ROWS = [
    *sorted((PACKAGE / "plans").glob("*.py")),
    PACKAGE / "sources" / "readers.py",
    PACKAGE / "operators" / "mapping.py",
    PACKAGE / "operators" / "ontology.py",
    PACKAGE / "operators" / "phenopacket_v2.py",
]


def test_product_path_builds_no_table_from_python_rows():
    offenders = [
        f"{f.relative_to(ROOT)}:{i}"
        for f in NO_PYTHON_ROWS
        for i, line in enumerate(f.read_text().splitlines(), start=1)
        if "createDataFrame(" in line
    ]
    assert offenders == []
