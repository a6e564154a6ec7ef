"""Driver-local DataFrames without the 32-partition pickle tax.

``SparkSession.createDataFrame(list, schema)`` parallelizes the
converted rows with the DEFAULT slice count (``defaultParallelism`` —
see ``session._createFromLocal``), so a metadata-sized local frame (a
one-row fixture, a broadcast centroid matrix, an empty-schema stub)
becomes a 32-partition pickled-Python RDD: every evaluation schedules
up to 32 Python-worker round trips, and a ``coalesce(1)`` consumer
walks them SERIALLY (~0.15 s each — a one-row
``coalesce(1).write.parquet`` measured 4.6 s at 32 cores; guide §4.1:
every Python boundary crossing costs, so cross it once, not 32 times).

:func:`local_frame` replays the exact ``createDataFrame`` conversion
pipeline — same type verifier, same converter, same ``toInternal``,
same ``applySchemaToPythonRDD`` — with ONE slice. Values and schema
are bit-identical (pinned by tests/test_localframe.py); only the
partition count of the local relation changes, which for driver-built
metadata-sized frames is always what you want (they feed broadcasts
and single-file fixture writes, never parallel scans).

The stock ``createDataFrame`` is the test-side reference
(tests/test_localframe.py). Production falls back to it only when the
private conversion API drifts (ImportError / AttributeError); a row
that fails the type verifier raises from the verifier, once.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, data: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """``spark.createDataFrame(data, schema)`` with a ONE-partition
    local relation. ``data`` is a driver-local iterable (list of
    tuples/Rows/dicts); ``schema`` a DDL string or StructType."""
    data = data if isinstance(data, list) else list(data)
    try:
        from pyspark.sql.types import (
            _create_converter,
            _make_type_verifier,
            _parse_datatype_string,
        )

        struct = (
            schema
            if isinstance(schema, StructType)
            else _parse_datatype_string(schema)
        )
        if not isinstance(struct, StructType):
            return spark.createDataFrame(data, schema)
        verify = _make_type_verifier(struct)
        conv = _create_converter(struct)
        internal = []
        for row in data:
            verify(row)
            internal.append(struct.toInternal(conv(row)))
        rdd = spark.sparkContext.parallelize(internal, 1)
        jrdd = spark._jvm.SerDeUtil.toJavaArray(rdd._to_java_object_rdd())
        jdf = spark._jsparkSession.applySchemaToPythonRDD(
            jrdd.rdd(), struct.json()
        )
        df = DataFrame(jdf, spark)
        df._schema = struct
        return df
    except (ImportError, AttributeError):
        # drift in the private conversion API degrades to the stock
        # path — slower, never wrong
        return spark.createDataFrame(data, schema)
