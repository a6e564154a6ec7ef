"""Materialized views (config-diff rebuild-vs-replace) + CSV seeds
(agate-rule inference) — reference impl.py:112-158, impl.py:380-401,
test_mv_configuration_changes.py."""

from __future__ import annotations

import textwrap

import pytest

from dbt_maxcompute_spark.catalog import EngineCatalog
from dbt_maxcompute_spark.materializations.materialized_view import (
    apply_materialized_view,
    refresh_materialized_view,
)
from dbt_maxcompute_spark.sources.seeds import infer_seed_schema, load_seed


@pytest.fixture()
def catalog(spark, tmp_path):
    cat = EngineCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "id bigint, g string, v double")
    cat.create_table("src", df)
    return cat


MV_SQL = "SELECT g, count(*) AS n, sum(v) AS total FROM src GROUP BY g"


def test_mv_create_and_refresh(spark, catalog):
    assert apply_materialized_view(catalog, "mv", MV_SQL) == "create"
    assert catalog.read("mv").count() == 2
    # underlying data changes; MV is stale until refresh
    from dbt_maxcompute_spark.plans.dml import append

    append(catalog, "src", spark.createDataFrame([(3, "c", 5.0)], "id bigint, g string, v double"))
    assert catalog.read("mv").count() == 2
    refresh_materialized_view(catalog, "mv")
    assert catalog.read("mv").count() == 3


def test_mv_config_diff_rebuild_vs_replace(spark, catalog):
    apply_materialized_view(catalog, "mv2", MV_SQL, lifecycle=7)
    created = catalog.meta("mv2").created_at
    # lifecycle-only change -> rebuild (table identity preserved)
    assert apply_materialized_view(catalog, "mv2", MV_SQL, lifecycle=30) == "rebuild"
    assert catalog.meta("mv2").created_at == created
    # query change -> replace (drop + create: new identity)
    assert apply_materialized_view(catalog, "mv2", MV_SQL + " HAVING count(*) > 0", lifecycle=30) == "replace"
    assert catalog.meta("mv2").created_at != created
    # no change -> noop
    assert apply_materialized_view(catalog, "mv2", MV_SQL + " HAVING count(*) > 0", lifecycle=30) == "noop"


def test_mv_failed_rebuild_keeps_config(spark, catalog):
    """A rebuild swaps the new config in with the rebuilt rows: when the
    defining query no longer analyzes, the old config stays beside the
    old rows."""
    apply_materialized_view(catalog, "mv", MV_SQL, lifecycle=7)
    meta = catalog.meta("mv")
    catalog.add_remove_columns("src", remove=["v"])  # MV_SQL sums v
    with pytest.raises(Exception, match="`v`"):
        apply_materialized_view(catalog, "mv", MV_SQL, lifecycle=30)
    assert catalog.meta("mv") == meta
    assert catalog.read("mv").count() == 2


def test_mv_build_deferred(spark, catalog):
    apply_materialized_view(catalog, "mv3", MV_SQL, build_deferred=True)
    assert catalog.read("mv3").count() == 0
    refresh_materialized_view(catalog, "mv3")
    assert catalog.read("mv3").count() == 2


def test_mv_rename_forbidden(spark, catalog):
    apply_materialized_view(catalog, "mv4", MV_SQL)
    with pytest.raises(ValueError, match="materialized"):
        catalog.rename("mv4", "mv5")


# --- seeds -------------------------------------------------------------------

CSV = textwrap.dedent(
    """\
    id,name,amount,flag,born,seen,ratio
    1,Easton,120.50,true,1981-05-20,1981-05-20 06:46:51,3
    2,Lillian,9.99,false,1978-09-03,1978-09-03 18:23:34,4.5
    3,,0.01,true,1992-01-01,1992-01-01 00:00:00,5
    """
)


def test_seed_inference_rules(spark, catalog, tmp_path):
    p = str(tmp_path / "seed.csv")
    with open(p, "w") as f:
        f.write(CSV)
    schema = infer_seed_schema(spark, p)
    assert schema["id"] == "bigint"          # integer -> bigint
    assert schema["amount"] == "decimal(38,18)"  # decimals present -> decimal
    assert schema["flag"] == "boolean"
    assert schema["name"] == "string"
    assert schema["born"] == "date"
    assert schema["seen"] == "timestamp"
    assert schema["ratio"] == "decimal(38,18)"  # mixed int+dec -> decimal


def test_seed_load_with_overrides(spark, catalog, tmp_path):
    p = str(tmp_path / "seed2.csv")
    with open(p, "w") as f:
        f.write(CSV)
    df = load_seed(catalog, "myseed", p, column_types={"amount": "decimal(18,2)", "ratio": "double"})
    types = dict(catalog.columns("myseed"))
    assert types["amount"] == "decimal(18,2)"
    assert types["ratio"] == "double"
    assert df.count() == 3
    row = df.filter(df.id == 1).first()
    assert float(row["amount"]) == 120.50
    assert row["name"] == "Easton"
    # full_refresh re-load is idempotent
    load_seed(catalog, "myseed", p, column_types={"amount": "decimal(18,2)"})
    assert catalog.read("myseed").count() == 3


def test_merge_additive_rollup_contract(spark):
    import pytest
    from pyspark.sql import functions as F

    from dbt_maxcompute_spark.materializations.materialized_view import (
        merge_additive_rollup,
    )

    old = spark.createDataFrame(
        [("A", 2, "10.5"), ("B", 1, "3.0")], "k string, n bigint, s string"
    ).select("k", "n", F.col("s").cast("decimal(28,6)").alias("s"))
    delta = spark.createDataFrame(
        [("A", 1, "0.5"), ("C", 4, "7.0")], "k string, n bigint, s string"
    ).select("k", "n", F.col("s").cast("decimal(28,6)").alias("s"))
    got = {
        r.k: (r.n, float(r.s))
        for r in merge_additive_rollup(old, delta, ["k"]).collect()
    }
    assert got == {"A": (3, 11.0), "B": (1, 3.0), "C": (4, 7.0)}
    # schema stays pinned (no decimal widening drift across refreshes)
    merged = merge_additive_rollup(old, delta, ["k"])
    assert merged.schema["s"].dataType.simpleString() == "decimal(28,6)"

    # floating-point measures are rejected (addition-order drift)
    bad = old.select("k", F.col("s").cast("double").alias("s"))
    with pytest.raises(ValueError, match="floating-point"):
        merge_additive_rollup(bad, bad, ["k"])

    # delta missing a measure column is rejected
    with pytest.raises(ValueError, match="missing"):
        merge_additive_rollup(old, delta.drop("s"), ["k"])
