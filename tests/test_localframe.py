"""local_frame == createDataFrame for values and schema, with a
one-partition local relation (the whole point: no 32-slice pickle tax
on driver-built metadata-sized frames)."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import Row

from dbt_maxcompute_spark.localframe import local_frame

CASES = [
    # the type inventory actually used by non-test call sites
    (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
        [
            (-1, datetime.datetime(2020, 1, 1, 12, 34, 56, 789012), -1, "x", 0.125, "{}"),
            (None, None, None, None, None, None),
        ],
    ),
    (
        "__cmat array<array<double>>, __cids array<bigint>",
        [([[1.0, 2.5], [3.0, -0.0]], [7, 9])],
    ),
    ("__bloom array<long>", [([0, 1, 2 ** 62, -5],)]),
    ("m array<map<string,double>>", [([{"a": 1.5}, {}],)]),
    ("mi array<map<bigint,double>>", [([{3: 1.5}],)]),
    ("cb array<array<array<double>>>", [([[[1.0], [2.0]], [[3.0], [4.0]]],)]),
    (
        "b boolean, i int, dt date, dec decimal(28,6), f array<float>",
        [
            (True, 7, datetime.date(2020, 2, 29), decimal.Decimal("123.456789"), [1.25]),
            (False, None, None, None, None),
        ],
    ),
    ("k string, v string", []),  # empty frame
    ("x long, y string", [(1, "a"), (None, "it's"), (-(2**40), None)]),
]


@pytest.mark.parametrize("schema,rows", CASES, ids=[c[0][:30] for c in CASES])
def test_local_frame_matches_createdataframe(spark, schema, rows):
    a = spark.createDataFrame(rows, schema)
    b = local_frame(spark, rows, schema)
    assert a.schema == b.schema
    assert repr(sorted(a.collect(), key=str)) == repr(sorted(b.collect(), key=str))


def test_local_frame_single_partition(spark):
    df = local_frame(spark, [(1,), (2,), (3,)], "x long")
    assert df.rdd.getNumPartitions() == 1


def test_local_frame_rows_and_structtype(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    st = StructType([StructField("x", LongType()), StructField("y", StringType())])
    rows = [Row(x=1, y="a"), Row(x=None, y=None)]
    a = spark.createDataFrame(rows, st)
    b = local_frame(spark, rows, st)
    assert a.schema == b.schema and a.collect() == b.collect()


def test_local_frame_never_reaches_createdataframe(spark, monkeypatch):
    """Valid rows take the one-slice path only; a row the type verifier
    rejects raises from the verifier, not from a silent stock retry."""
    calls = []

    def boom(*a, **k):
        calls.append(a)
        raise AssertionError("createDataFrame fallback taken")

    monkeypatch.setattr(spark, "createDataFrame", boom)
    for schema, rows in CASES:
        local_frame(spark, rows, schema).collect()
    with pytest.raises(TypeError):
        local_frame(spark, [("not an int",)], "x int")
    assert calls == []


def test_local_frame_verifies_types_like_stock(spark):
    with pytest.raises(TypeError):
        local_frame(spark, [("not an int",)], "x int")
