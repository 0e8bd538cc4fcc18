"""t-digest sketch accuracy/determinism + type-conformance predicate
tests (the 15 Table Schema types, SURVEY §1.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from check_datapackage_spark.functions import type_conforms, geopoint_array_ok
from check_datapackage_spark.operators import sketch
from tests.conftest import load


def test_tdigest_by_group(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    rows = sketch.tdigest_by_group(li, "l_quantity", "l_returnflag", [0.5]).collect()
    assert {r["l_returnflag"] for r in rows} == {"A", "N", "R"}
    for r in rows:
        assert 10 <= r["value"] <= 40  # median of uniform 1..50


# --- type conformance over string staging (C2) -------------------------------

CASES = [
    ("integer", "42", True),
    ("integer", "4.2", False),
    ("integer", "abc", False),
    ("number", "4.2", True),
    ("number", "-1e3", True),
    ("number", "x", False),
    ("boolean", "true", True),
    ("boolean", "NO", True),
    ("boolean", "2", False),
    ("date", "2024-02-29", True),
    ("date", "2024-13-01", False),
    ("date", "2024-02-30", False),
    ("time", "23:59:59", True),
    ("time", "24:00:00", False),
    ("datetime", "2024-01-02T03:04:05Z", True),
    ("datetime", "2024-01-02 03:04:05.123+01:00", True),
    ("datetime", "2024-01-02", False),
    ("year", "1999", True),
    ("year", "99", False),
    ("yearmonth", "2024-02", True),
    ("yearmonth", "2024-13", False),
    ("duration", "P1Y2M3DT4H5M6S", True),
    ("duration", "PT15M", True),
    ("duration", "P", False),
    ("duration", "1Y", False),
    ("object", '{"a": 1}', True),
    ("object", "[1]", False),
    ("object", "{bad", False),
    ("array", "[1, 2]", True),
    ("array", '{"a":1}', False),
    ("geojson", '{"type": "Point", "coordinates": [1, 2]}', True),
    ("geopoint", "12.5, -45.1", True),
    ("geopoint", "12.5", False),
    ("any", "whatever", True),
    ("string", "anything", True),
]


@pytest.mark.parametrize("ttype,value,expected", CASES)
def test_type_conforms(spark, ttype, value, expected):
    df = spark.createDataFrame([(value,)], ["v"])
    got = df.select(type_conforms(F.col("v"), ttype).alias("ok")).collect()[0]["ok"]
    assert got is expected, (ttype, value)


def test_type_conforms_null_passes(spark):
    df = spark.createDataFrame([(None,)], "v string")
    for t in ["integer", "date", "duration", "object"]:
        assert df.select(type_conforms(F.col("v"), t)).collect()[0][0] is True


FORMATS = [
    ("email", "a.b@example.co", True),
    ("email", "not-an-email", False),
    ("uri", "https://example.com/x?y=1", True),
    ("uri", "no scheme", False),
    ("uuid", "123e4567-e89b-12d3-a456-426614174000", True),
    ("uuid", "123e4567", False),
    ("binary", "aGVsbG8=", True),
    ("binary", "!!!", False),
]


@pytest.mark.parametrize("fmt,value,expected", FORMATS)
def test_string_formats(spark, fmt, value, expected):
    from check_datapackage_spark.functions import string_format_ok

    df = spark.createDataFrame([(value,)], ["v"])
    got = df.select(string_format_ok(F.col("v"), fmt).alias("ok")).collect()[0]["ok"]
    assert got is expected


def test_geopoint_array(spark):
    df = spark.createDataFrame([([10.0, 20.0],), ([200.0, 0.0],), ([1.0],)], ["v"])
    got = [r[0] for r in df.select(geopoint_array_ok(F.col("v"))).collect()]
    assert got == [True, False, False]


GEOPOINT_FMT_CASES = [
    # reference schema geopoint formats: default / array / object
    ("default", "12.5, -45.1", True),
    ("default", "[12.5, -45.1]", False),
    ("array", "[12.5, -45.1]", True),
    ("array", "[12.5]", False),
    ("array", "[200.0, 0.0]", False),  # lon out of range
    ("array", "[12.5, -95.0]", False),  # lat out of range
    ("array", '["a", "b"]', False),
    ("array", "12.5, -45.1", False),
    ("object", '{"lon": 12.5, "lat": -45.1}', True),
    ("object", '{"lon": 12.5}', False),  # lat missing
    ("object", '{"lon": 200.0, "lat": 0.0}', False),  # out of range
    ("object", '{"lon": "abc", "lat": 1.0}', False),
    ("object", "[12.5, -45.1]", False),
    ("object", "{bad", False),
]


@pytest.mark.parametrize("fmt,value,expected", GEOPOINT_FMT_CASES)
def test_geopoint_formats(spark, fmt, value, expected):
    """All three reference geopoint formats conform/violate correctly,
    and the ok-predicate is never SQL NULL (a NULL would slip past the
    violations filter)."""
    df = spark.createDataFrame([(value,)], ["v"])
    got = df.select(
        type_conforms(F.col("v"), "geopoint", fmt).alias("ok")
    ).collect()[0]["ok"]
    assert got is expected, (fmt, value)


def test_salted_group_tdigest_matches_plain(spark):
    """Salted path approximates the same quantiles as the plain path
    and is deterministic under repartitioning (value-hash salting)."""
    import numpy as np
    from check_datapackage_spark.operators.sketch import (
        tdigest_by_group,
        tdigest_by_group_salted,
    )

    rows = [(("g%d" % (i % 3)), float((i * 37) % 1000)) for i in range(6000)]
    df = spark.createDataFrame(rows, "g string, v double")

    plain = {
        (r["g"], r["q"]): r["value"]
        for r in tdigest_by_group(df, "v", "g", quantiles=(0.25, 0.5, 0.9)).collect()
    }
    salted = {
        (r["g"], r["q"]): r["value"]
        for r in tdigest_by_group_salted(
            df, "v", "g", quantiles=(0.25, 0.5, 0.9), n_salts=8
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        # same data, both sketches: within 2% of the 0..1000 range
        assert abs(plain[k] - salted[k]) <= 20.0, (k, plain[k], salted[k])

    again = {
        (r["g"], r["q"]): r["value"]
        for r in tdigest_by_group_salted(
            df.repartition(17), "v", "g", quantiles=(0.25, 0.5, 0.9), n_salts=8
        ).collect()
    }
    assert salted == again  # deterministic under partitioning


def test_salted_group_tdigest_hot_value_collapse(spark):
    """A group dominated by one repeated value stays correct: the
    map-side (group,value) aggregate collapses repeats to one weighted
    point."""
    from check_datapackage_spark.operators.sketch import tdigest_by_group_salted

    rows = [("hot", 5.0)] * 5000 + [("hot", float(v)) for v in range(100)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["q"]: r["value"]
        for r in tdigest_by_group_salted(df, "v", "g", quantiles=(0.5,)).collect()
    }
    assert abs(out[0.5] - 5.0) < 1.0
