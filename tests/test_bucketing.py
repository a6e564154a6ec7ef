"""Bucketed-table tests: correctness of the write/read round trip,
session-catalog re-registration, and the scale contract — a co-bucketed
equi-join must plan with ZERO exchanges on the fact sides."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_maxcompute_spark.catalog import EngineCatalog


@pytest.fixture()
def cat(spark):
    return EngineCatalog(spark, tempfile.mkdtemp(prefix="bkt_test_wh_"))


def _two_bucketed(spark, cat, n=10_000, buckets=8):
    a = spark.range(0, n).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    b = spark.range(0, n, 2).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
    cat.create_bucketed_table("ta", a, bucket_by=["k"], bucket_num=buckets, sort_by=["k"], mode="overwrite")
    cat.create_bucketed_table("tb", b, bucket_by=["k"], bucket_num=buckets, sort_by=["k"], mode="overwrite")
    return cat.read_bucketed("ta"), cat.read_bucketed("tb")


def test_bucketed_roundtrip_values(spark, cat):
    ta, tb = _two_bucketed(spark, cat, n=1000)
    assert ta.count() == 1000 and tb.count() == 500
    got = sorted(r["k"] for r in ta.join(tb, "k").select("k").collect())
    assert got == list(range(0, 1000, 2))


def test_cobucketed_join_has_no_exchange(spark, cat):
    ta, tb = _two_bucketed(spark, cat)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = ta.join(tb, ta["k"] == tb["k"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_groupby_on_key_has_no_exchange(spark, cat):
    ta, _ = _two_bucketed(spark, cat)
    agg = ta.groupBy("k").agg(F.sum("v").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_bucket_spec_survives_session_catalog_drop(spark, cat):
    ta, _ = _two_bucketed(spark, cat, n=500)
    # simulate a fresh session: drop the session-catalog registration,
    # keep files + sidecar; read_bucketed must re-register with the
    # bucket spec intact (no-exchange groupBy proves the spec took)
    spark.sql(f"DROP TABLE IF EXISTS {cat._bucket_reg_name('ta')}")
    re_read = cat.read_bucketed("ta")
    assert re_read.count() == 500
    plan = (
        re_read.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_sort_spec_survives_session_catalog_drop(spark, cat):
    # ADVICE r2: sort_by must persist in the sidecar — after a "restart"
    # (session-catalog registration dropped), the re-registration DDL
    # must carry SORTED BY, and a co-bucketed sort-merge join must elide
    # BOTH of its sorts (single-file buckets + sorted spec = the scan
    # itself reports the ordering).
    _two_bucketed(spark, cat, n=2000)
    spark.sql(f"DROP TABLE IF EXISTS {cat._bucket_reg_name('ta')}")
    spark.sql(f"DROP TABLE IF EXISTS {cat._bucket_reg_name('tb')}")
    assert cat.meta("ta").sort_by == ["k"]  # persisted, not session state
    ta, tb = cat.read_bucketed("ta"), cat.read_bucketed("tb")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            ta.join(tb, ta["k"] == tb["k"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Sort " not in plan, f"sort not elided after re-registration:\n{plan}"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_drop_and_rename_clean_bucket_registration(spark, cat):
    # ADVICE r2: drop/rename must not leave a session-catalog external
    # table pointing at a deleted or moved LOCATION
    _two_bucketed(spark, cat, n=100)
    reg_ta = cat._bucket_reg_name("ta")
    assert spark.catalog.tableExists(reg_ta)
    cat.drop("ta")
    assert not spark.catalog.tableExists(reg_ta)
    cat.rename("tb", "tc")
    assert not spark.catalog.tableExists(cat._bucket_reg_name("tb"))
    assert cat.read_bucketed("tc").count() == 50  # re-registered at new path


def test_read_bucketed_rejects_unbucketed(spark, cat):
    df = spark.range(10).select(F.col("id").alias("k"))
    cat.create_table("plain", df)
    with pytest.raises(ValueError):
        cat.read_bucketed("plain")


def test_create_bucketed_validations(spark, cat):
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        cat.create_bucketed_table("x", df, bucket_by=[], bucket_num=4)
    with pytest.raises(ValueError):
        cat.create_bucketed_table("x", df, bucket_by=["nope"], bucket_num=4)


def test_bucketed_layout_survives_alter(spark, cat):
    """ADD/DROP COLUMNS and CHANGE COLUMN rewrite a bucketed table
    bucketed, so joins and aggregates on the bucket key still read it."""
    _two_bucketed(spark, cat, n=1000)
    cat.add_remove_columns("ta", add={"note": "string"})
    cat.alter_column_type("ta", "v", "string", force=True)
    cat.add_remove_columns("tb", add={"x": "bigint"}, remove=["w"])
    ta, tb = cat.read_bucketed("ta"), cat.read_bucketed("tb")
    got = sorted(tuple(r) for r in ta.join(tb, "k").select("k", "v", "note", "x").collect())
    assert got == [(k, str(2 * k), None, None) for k in range(0, 1000, 2)]
    agg = tb.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    assert sorted(tuple(r) for r in agg.collect()) == [(k, 1) for k in range(0, 1000, 2)]
    assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
