"""Source schemas are resolved once per session per set of data files
(``sources.registry.source_schema``).

A bare ``spark.read.parquet`` runs a footer-reading job on every call;
the resolver keeps the schema Spark inferred, keyed on the files' real
paths and checked against their size and ``mtime_ns``. These tests pin
that a repeat scan runs no job, that a rewrite is seen, that the
timestamp normalisation of ``load_table`` is unchanged on both the
inferring and the cached call, and that sessions do not share entries
(inference reads session confs).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from dbt_maxcompute_spark.sources.registry import load_table, source_schema, table_path
from dbt_maxcompute_spark.streaming import windows as sw

# 2024-01-02 03:04:05.678901 UTC, in microseconds
TS_MICROS = 1_704_164_645_678_901


def _jobs_during(spark, fn):
    """fn()'s result and the ids of the Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"source-schema-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _events(ts: pa.Array) -> pa.Table:
    return pa.table({"event_id": pa.array([1], pa.int64()), "ts": ts})


def test_second_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a b", "c d"]}), tmp_path / "documents.parquet")
    d = str(tmp_path)
    first, jobs1 = _jobs_during(spark, lambda: load_table(spark, d, "documents").schema)
    second, jobs2 = _jobs_during(spark, lambda: load_table(spark, d, "documents").schema)
    assert jobs1, "the first scan infers the schema with a Spark job"
    assert jobs2 == []
    assert second == first
    assert load_table(spark, d, "documents").count() == 2


def test_rewrite_with_another_schema_is_seen(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), table_path(d, "region"))
    assert load_table(spark, d, "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}), table_path(d, "region")
    )
    df = load_table(spark, d, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "AFRICA"), (1, "AMERICA")]


@pytest.mark.parametrize(
    "ts",
    [
        # TIMESTAMP(NANOS): read as long under nanosAsLong, then converted
        pa.array([TS_MICROS * 1000 + 123], pa.timestamp("ns")),
        # tz-naive micros: read as TIMESTAMP_NTZ, then cast
        pa.array([TS_MICROS], pa.timestamp("us")),
        # tz-adjusted micros: TIMESTAMP as read
        pa.array([TS_MICROS], pa.timestamp("us", tz="UTC")),
    ],
    ids=["nanos_as_long", "ntz", "utc"],
)
def test_events_timestamp_normalisation_on_cached_schema(spark, tmp_path, ts):
    d = str(tmp_path)
    pq.write_table(_events(ts), table_path(d, "events"))
    for _ in range(2):  # the inferring call, then the cached one
        df = load_table(spark, d, "events")
        assert df.schema["ts"].dataType == TimestampType()
        assert df.select(F.unix_micros("ts")).first()[0] == TS_MICROS


def test_sessions_do_not_share_schemas(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(_events(pa.array([TS_MICROS * 1000], pa.timestamp("ns"))), table_path(d, "events"))
    assert source_schema(spark, table_path(d, "events"))["ts"].dataType == LongType()
    other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    # the other session infers for itself, and its conf rejects nanos
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        load_table(other, d, "events")
    assert load_table(spark, d, "events").schema["ts"].dataType == TimestampType()


def test_stream_sniff_of_relinked_file_runs_no_job(spark, tmp_path):
    src = str(tmp_path / "events.parquet")
    pq.write_table(_events(pa.array([TS_MICROS], pa.timestamp("us"))), src)
    dirs = []
    for name in ("a", "b"):  # two staging dirs linking the same file
        os.makedirs(tmp_path / name)
        os.symlink(src, tmp_path / name / "events.parquet")
        dirs.append(str(tmp_path / name))
    first, jobs1 = _jobs_during(spark, lambda: sw.read_events_stream(spark, dirs[0]).schema)
    second, jobs2 = _jobs_during(spark, lambda: sw.read_events_stream(spark, dirs[1]).schema)
    assert jobs1 and jobs2 == []
    assert second == first
    assert second["ts"].dataType == TimestampType()
