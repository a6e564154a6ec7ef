"""Catalog DDL/metadata operators (SURVEY.md §2.7)."""

from __future__ import annotations

import pytest

from dbt_maxcompute_spark.catalog import EngineCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return EngineCatalog(spark, str(tmp_path / "wh"))


@pytest.fixture()
def base(spark, catalog):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    catalog.create_table("base", df)
    return df


def test_create_read_roundtrip(spark, catalog, base):
    got = sorted((r["id"], r["name"]) for r in catalog.read("base").collect())
    assert got == [(1, "a"), (2, "b")]
    assert catalog.exists("base")
    assert not catalog.exists("nope")


def test_create_duplicate_errors(spark, catalog, base):
    with pytest.raises(ValueError, match="exists"):
        catalog.create_table("base", catalog.read("base"))


def test_rename(spark, catalog, base):
    catalog.rename("base", "base2")
    assert not catalog.exists("base")
    assert catalog.read("base2").count() == 2


def test_rename_mv_is_error(spark, catalog):
    catalog.create_view("v", "SELECT 1 AS x")
    m = catalog.meta("v")
    m.table_type = "materialized_view"
    catalog._write_meta("v", m)
    with pytest.raises(ValueError, match="materialized"):
        catalog.rename("v", "v2")


def test_clone(spark, catalog, base):
    catalog.clone("base", "copy")
    assert catalog.read("copy").count() == 2
    # clone is independent: truncating the copy leaves src intact
    catalog.truncate("copy")
    assert catalog.read("copy").count() == 0
    assert catalog.read("base").count() == 2


def test_truncate_keeps_schema(spark, catalog, base):
    catalog.truncate("base")
    df = catalog.read("base")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "name"]


def test_views(spark, catalog, base):
    catalog.create_view("v_big", "SELECT id, name FROM base WHERE id > 1")
    got = catalog.read("v_big").collect()
    assert len(got) == 1 and got[0]["name"] == "b"


def test_schema_evolution_add_remove(spark, catalog, base):
    catalog.add_remove_columns("base", add={"score": "double"}, remove=["name"])
    df = catalog.read("base")
    assert set(df.columns) == {"id", "score"}
    assert df.filter(df.score.isNull()).count() == 2


def test_alter_column_type_forced_retype(spark, catalog, base):
    # bigint->string is not a string-family expansion: rejected unless forced
    with pytest.raises(ValueError, match="only string-family expansion"):
        catalog.alter_column_type("base", "id", "string")
    catalog.alter_column_type("base", "id", "string", force=True)
    assert dict(catalog.columns("base"))["id"] == "string"


def test_alter_column_type_string_widening(spark, catalog, base):
    # string-family widening allowed without force (reference
    # column.py:78-80 can_expand_to)
    catalog.alter_column_type("base", "name", "string")
    assert dict(catalog.columns("base"))["name"] == "string"


def test_can_expand_to_rules():
    from dbt_maxcompute_spark.catalog import can_expand_to

    assert can_expand_to("varchar(5)", "varchar(10)")
    assert can_expand_to("varchar(5)", "string")
    assert can_expand_to("char(3)", "varchar(3)")
    assert can_expand_to("string", "string")
    assert not can_expand_to("varchar(10)", "varchar(5)")  # narrowing
    assert not can_expand_to("string", "varchar(99)")  # unbounded -> bounded
    assert not can_expand_to("bigint", "string")  # cross-family
    assert not can_expand_to("string", "bigint")


def test_comments_idempotent(spark, catalog, base):
    catalog.set_comment("base", "hello")
    assert catalog.meta("base").comment == "hello"
    catalog.set_column_comment("base", "id", "the key")
    assert catalog.meta("base").column_comments["id"] == "the key"


def test_grants_diff(spark, catalog, base):
    r1 = catalog.apply_grants("base", {"select": ["alice", "bob"]})
    assert r1["granted"] == {"select": ["alice", "bob"]}
    r2 = catalog.apply_grants("base", {"select": ["alice"]})
    assert r2["revoked"] == {"select": ["bob"]}


def test_list_tables_pattern(spark, catalog, base):
    df = catalog.read("base")
    catalog.create_table("base_v2", df)
    catalog.create_table("other", df)
    assert catalog.list_tables(pattern="base%") == ["base", "base_v2"]
    assert catalog.list_tables(pattern="bas_") == ["base"]
    assert set(catalog.list_tables()) == {"base", "base_v2", "other"}


def test_schemas(spark, catalog, base):
    catalog.create_schema("staging")
    catalog.create_table("staging.t1", catalog.read("base"))
    assert catalog.list_tables("staging") == ["t1"]
    assert catalog.read("staging.t1").count() == 2
    catalog.drop_schema("staging", cascade=True)
    assert not catalog.exists("staging.t1")


def test_sql_over_catalog(spark, catalog, base):
    out = catalog.sql("SELECT count(*) AS n FROM base").first()["n"]
    assert out == 2


def test_validate_sql(spark, catalog, base):
    plan = catalog.validate_sql("SELECT id FROM base")
    assert "id" in plan
    with pytest.raises(Exception):
        catalog.validate_sql("SELECT nonexistent_col FROM base")


def test_freshness(spark, catalog, base):
    age = catalog.freshness("base")
    assert 0 <= age < 300


def test_invalid_identifier(spark, catalog):
    with pytest.raises(ValueError, match="invalid identifier"):
        catalog.table_dir("bad-name; drop")


def test_info_schema_rows(spark, catalog):
    catalog.create_table("t_info", spark.createDataFrame([(1, "a")], ["id", "v"]), lifecycle=7)
    catalog.create_view("v_info", "select 1 as one")
    rows = {
        (r.table_name, r.table_type, r.n_columns, r.lifecycle)
        for r in catalog.info_schema().collect()
    }
    assert ("t_info", "table", 2, 7) in rows
    assert ("v_info", "view", 1, None) in rows


def test_lifecycle_sweep(spark, catalog):
    import time as _time

    catalog.create_table("t_ttl", spark.createDataFrame([(1,)], ["id"]), lifecycle=1)
    catalog.create_table("t_keep", spark.createDataFrame([(1,)], ["id"]))
    assert catalog.sweep_lifecycle() == []  # fresh: nothing dropped
    dropped = catalog.sweep_lifecycle(now=_time.time() + 3 * 86400)
    assert dropped == ["default.t_ttl"]
    assert not catalog.exists("t_ttl") and catalog.exists("t_keep")


def test_relation_type_swap(spark, catalog):
    """table -> view -> table swaps on re-materialization (reference
    test_relations.py BaseChangeRelationTypeValidator)."""
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    catalog.create_table("swapper", df)
    assert catalog.meta("swapper").table_type == "table"
    catalog.drop("swapper")
    catalog.create_view("swapper", "select 1 as one")
    assert catalog.meta("swapper").table_type == "view"
    assert catalog.read("swapper").collect()[0].one == 1
    catalog.drop("swapper")
    catalog.create_table("swapper", df)
    assert catalog.meta("swapper").table_type == "table"
    assert catalog.read("swapper").count() == 1


def test_compact_unpartitioned_merges_files(spark, catalog):
    import os

    from pyspark.sql import functions as F

    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartition(40)  # 40 small files
    catalog.create_table("frag", df)
    path = catalog.table_dir("frag")
    n_before = sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
    assert n_before >= 30
    stats = catalog.compact("frag")  # tiny table -> one right-sized file
    assert stats["files_before"] == n_before
    assert stats["files_after"] == 1
    got = sorted(r["id"] for r in catalog.read("frag").collect())
    assert got == list(range(10_000))


def test_compact_partitioned_one_file_per_partition(spark, catalog):
    import os

    from pyspark.sql import functions as F

    df = spark.range(3_000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("pt")
    )
    catalog.create_table("fragp", df, partition_by=["pt"])
    # simulate fragmented appends: three more writes into the same dirs
    for _ in range(3):
        df.limit(300).write.mode("append").partitionBy("pt").parquet(
            catalog.table_dir("fragp")
        )
    stats = catalog.compact("fragp")
    assert stats["files_after"] == 3  # one per hive partition
    assert catalog.read("fragp").count() == 3_000 + 3 * 300
    # layout: exactly one parquet per partition dir
    path = catalog.table_dir("fragp")
    for d in os.listdir(path):
        if d.startswith("pt="):
            files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)


def test_compact_rejects_views_and_bucketed(spark, catalog, base):
    catalog.create_view("v1", "SELECT 1 AS x")
    with pytest.raises(ValueError, match="tables only"):
        catalog.compact("v1")
    from pyspark.sql import functions as F

    b = spark.range(100).select(F.col("id").alias("k"))
    catalog.create_bucketed_table("bkt1", b, bucket_by=["k"], bucket_num=4)
    with pytest.raises(ValueError, match="bucketed"):
        catalog.compact("bkt1")


def test_register_views_cached_across_statements(spark, tmp_path, monkeypatch):
    """Round-5 verdict finding #3: register_views must not re-register
    every catalog table on every statement — only mutated tables."""
    from pyspark.sql.classic.dataframe import DataFrame  # concrete class

    cat = EngineCatalog(spark, str(tmp_path / "wh_cache"))
    for i in range(6):
        cat.create_table(f"tbl_{i}", spark.range(5).selectExpr("id", "id*2 AS v"))
    cat.create_table(
        "hot", spark.range(5).selectExpr("id", "id AS v"),
        transactional=True, primary_keys=["id"],
    )
    calls = []
    orig = DataFrame.createOrReplaceTempView

    def counting(self, name):
        calls.append(name)
        return orig(self, name)

    monkeypatch.setattr(DataFrame, "createOrReplaceTempView", counting)
    script = "SELECT count(*) AS n FROM hot;\n" * 3 + (
        "UPDATE hot SET v = v + 1 WHERE id = 0;\n"
        + "SELECT count(*) AS n FROM tbl_0;\n" * 3
        + "DELETE FROM hot WHERE id = 4;\n"
        + "SELECT count(*) AS n FROM hot;\n" * 2
    )
    df, _hints, errors = cat.execute_script(script)
    assert not errors and df.collect()[0].n == 4
    # first statement registers all 7 tables (bare + schema-qualified =
    # 14 views); afterwards only `hot` re-registers after each of its 2
    # mutations (2 views each). Everything else is served from cache.
    assert len(calls) == 14 + 2 * 2, f"{len(calls)} registrations: {calls}"


def test_register_views_freshness_after_mutation(spark, tmp_path):
    cat = EngineCatalog(spark, str(tmp_path / "wh_fresh"))
    cat.create_table(
        "t", spark.range(4).selectExpr("id"),
        transactional=True, primary_keys=["id"],
    )
    assert cat.sql("SELECT count(*) AS n FROM t").collect()[0].n == 4
    cat.execute("DELETE FROM t WHERE id >= 2")
    # the cached view must NOT serve the old snapshot
    assert cat.sql("SELECT count(*) AS n FROM t").collect()[0].n == 2
    # a second catalog registering in the same session steals the slot;
    # the first must fully re-register, not trust its cache
    cat2 = EngineCatalog(spark, str(tmp_path / "wh_fresh2"))
    cat2.create_table("t", spark.range(9).selectExpr("id"))
    assert cat2.sql("SELECT count(*) AS n FROM t").collect()[0].n == 9
    assert cat.sql("SELECT count(*) AS n FROM t").collect()[0].n == 2


# -- the replacement contract: build beside the relation, swap in once ------
#
# Every entry point replaces `t`, whatever relation kind is seeded there,
# mostly from a query over `t` itself; the old relation must stay readable
# until the new one is staged and swapped in, and a failure at any step
# must leave it exactly as it was.

_LAYOUTS = {  # the seeded relation kind -> table options of a rebuild
    "plain": {},
    "partitioned": {"partition_by": ["pt"]},
    "transactional": {"transactional": True, "primary_keys": ["id"]},
    "view": {},
    "mv": {},
    "bucketed": {},
}
_CONTRACT = {
    "enforced": True,
    "columns": [
        {"name": "id", "data_type": "bigint", "constraints": ["not_null"]},
        {"name": "name", "data_type": "string"},
        {"name": "pt", "data_type": "string"},
    ],
}
_KEEP = "SELECT id, name, pt FROM t WHERE id >= 3"
# fails at run time, inside the write job, after planning succeeded
_BOOM = (
    "SELECT CASE WHEN id = 3 THEN CAST(raise_error('boom') AS BIGINT) "
    "ELSE id END AS id, name, pt FROM t"
)
# the seeded rows as SQL, for views and MVs (a view cannot read itself)
_ROWS_SQL = (
    "SELECT CAST(id AS BIGINT) AS id, name, pt FROM VALUES "
    + ", ".join(f"({i}, 'n{i}', 'p{i % 2}')" for i in range(6))
    + " AS v(id, name, pt)"
)


def _rebuild_run_model(catalog, layout, query):
    from dbt_maxcompute_spark.runner import run_model

    run_model(catalog, {"name": "t", "materialized": "table", **_LAYOUTS[layout]}, query)


def _rebuild_full_refresh(catalog, layout, query):
    from dbt_maxcompute_spark.materializations.incremental import run_incremental

    run_incremental(catalog, "t", catalog.sql(query), full_refresh=True, **_LAYOUTS[layout])


def _rebuild_ctas(catalog, layout, query):
    kind = "TRANSACTIONAL TABLE t PRIMARY KEY (id)" if layout == "transactional" else "TABLE t"
    catalog.execute(f"CREATE OR REPLACE {kind} AS {query}")


def _rebuild_contract(catalog, layout, query):
    catalog.create_table(
        "t", catalog.sql(query), contract=_CONTRACT, mode="overwrite", **_LAYOUTS[layout]
    )


def _over_rows(query):
    return query.replace(" FROM t", f" FROM ({_ROWS_SQL}) t")


def _rebuild_run_model_view(catalog, layout, query):
    from dbt_maxcompute_spark.runner import run_model

    run_model(catalog, {"name": "t", "materialized": "view"}, _over_rows(query))


def _rebuild_create_view(catalog, layout, query):
    catalog.create_view("t", _over_rows(query))


def _rebuild_mv_replace(catalog, layout, query):
    from dbt_maxcompute_spark.materializations.materialized_view import apply_materialized_view

    apply_materialized_view(catalog, "t", query)


def _rebuild_clone(catalog, layout, query):
    catalog.create_table("other.s", catalog.sql(query))
    catalog.clone("other.s", "t")


def _rebuild_clone_self(catalog, layout, query):
    catalog.clone("t", "t")


def _rebuild_bucketed(catalog, layout, query):
    catalog.create_bucketed_table(
        "t", catalog.sql(query), bucket_by=["id"], bucket_num=2, mode="overwrite"
    )


_TABLE_REBUILDS = {
    "run_model_table": _rebuild_run_model,
    "full_refresh": _rebuild_full_refresh,
    "ctas_or_replace": _rebuild_ctas,
    "contract_overwrite": _rebuild_contract,
}
_REBUILDS = {
    **_TABLE_REBUILDS,
    "run_model_view": _rebuild_run_model_view,
    "create_view": _rebuild_create_view,
    "mv_replace": _rebuild_mv_replace,
    "clone": _rebuild_clone,
    "clone_self": _rebuild_clone_self,
    "bucketed_overwrite": _rebuild_bucketed,
}
# builds that run no query over `t`: a view stores its query, and a
# clone onto itself copies `t` as it is
_RUNS_NO_QUERY = ("run_model_view", "create_view", "clone_self")
# table rebuilds over every table layout; the other entries, and the
# runner's table build, over a plain table and every other relation
# kind (a whole-dir swap treats all table layouts alike)
_OTHER_KINDS = list(_LAYOUTS)[3:]
_CASES = (
    [(layout, entry) for entry in _TABLE_REBUILDS for layout in list(_LAYOUTS)[:3]]
    + [(layout, "run_model_table") for layout in _OTHER_KINDS]
    + [
        (layout, entry)
        for entry in _REBUILDS
        if entry not in _TABLE_REBUILDS
        for layout in ("plain", *_OTHER_KINDS)
    ]
)
_replacement = pytest.mark.parametrize("layout,entry", _CASES)


def _seed(spark, catalog, layout):
    from dbt_maxcompute_spark.materializations.materialized_view import create_materialized_view

    if layout == "view":
        return catalog.create_view("t", _ROWS_SQL)
    if layout == "mv":
        return create_materialized_view(catalog, "t", _ROWS_SQL)
    df = spark.createDataFrame(
        [(i, f"n{i}", f"p{i % 2}") for i in range(6)], "id bigint, name string, pt string"
    )
    if layout == "bucketed":
        return catalog.create_bucketed_table("t", df, bucket_by=["id"], bucket_num=2)
    catalog.create_table("t", df, **_LAYOUTS[layout])


def _rows(catalog):
    return sorted(tuple(r) for r in catalog.read("t").select("id", "name", "pt").collect())


def _hook_swap(monkeypatch, catalog, on_aside=lambda: None, on_rename_in=lambda: None):
    """Call ``on_aside()`` just before the table's dir is renamed away,
    and ``on_rename_in()`` just before another dir is renamed onto it."""
    import os

    real, live, aside = os.replace, os.path.abspath(catalog.table_dir("t")), []

    def hooked(src, dst):
        if os.path.abspath(src) == live:
            on_aside()
            aside.append(os.path.abspath(dst))
        elif os.path.abspath(dst) == live and os.path.abspath(src) not in aside:
            on_rename_in()
        return real(src, dst)

    monkeypatch.setattr(os, "replace", hooked)


@_replacement
def test_rebuild_reading_its_own_table(spark, catalog, layout, entry):
    import os

    from dbt_maxcompute_spark.catalog import META_FILE

    _seed(spark, catalog, layout)
    before = _rows(catalog)
    _REBUILDS[entry](catalog, layout, _KEEP)
    if entry == "clone_self":
        assert _rows(catalog) == before
    else:
        assert _rows(catalog) == [(i, f"n{i}", f"p{i % 2}") for i in range(3, 6)]
    if catalog.meta("t").table_type == "view":
        # nothing of a replaced table is left beside the view's sidecar
        assert os.listdir(catalog.table_dir("t")) == [META_FILE]


@pytest.mark.parametrize(
    "layout,entry", [case for case in _CASES if case[1] not in _RUNS_NO_QUERY]
)
def test_failed_rebuild_keeps_old_table(spark, catalog, layout, entry):
    _seed(spark, catalog, layout)
    rows, meta = _rows(catalog), catalog.meta("t")
    with pytest.raises(Exception, match="boom"):
        _REBUILDS[entry](catalog, layout, _BOOM)
    assert catalog.exists("t")
    assert _rows(catalog) == rows
    assert catalog.meta("t") == meta


@_replacement
def test_failed_swap_restores_old_table(spark, catalog, layout, entry, monkeypatch):
    import os

    _seed(spark, catalog, layout)
    rows, meta = _rows(catalog), catalog.meta("t")

    def fail():
        raise OSError("rename-in failed")

    _hook_swap(monkeypatch, catalog, on_rename_in=fail)
    with pytest.raises(OSError, match="rename-in failed"):
        _REBUILDS[entry](catalog, layout, _KEEP)
    monkeypatch.undo()
    assert _rows(catalog) == rows
    assert catalog.meta("t") == meta
    # no staging or aside directory is left beside the table
    assert os.listdir(os.path.dirname(catalog.table_dir("t"))) == ["t"]


@_replacement
def test_list_tables_during_replace(spark, catalog, layout, entry, monkeypatch):
    _seed(spark, catalog, layout)
    seen = []
    _hook_swap(
        monkeypatch,
        catalog,
        on_aside=lambda: seen.append(catalog.list_tables()),
        on_rename_in=lambda: seen.append(catalog.list_tables()),
    )
    _REBUILDS[entry](catalog, layout, _KEEP)
    # the staged table (sidecar included) sits beside `t` at both
    # points and the old one in the aside dir at the second; neither
    # lists, and `t` is missing only for the width of one rename
    assert seen == [["t"], []]


@pytest.mark.parametrize("view_sql", ["SELECT * FROM no_such_table", "SELECT * FROM t"])
@pytest.mark.parametrize("layout", list(_LAYOUTS))
def test_view_that_does_not_analyze_hides_old_relation(spark, catalog, layout, view_sql):
    """A view whose SQL does not analyze (a missing table, or `t`
    itself) replaces `t`: SQL over `t` fails instead of reading the
    relation the swap removed."""
    from pyspark.errors import AnalysisException

    _seed(spark, catalog, layout)
    assert catalog.sql("SELECT count(*) AS n FROM t").collect()[0].n == 6
    catalog.create_view("t", view_sql)
    with pytest.raises(AnalysisException):
        catalog.sql("SELECT * FROM t").collect()


def test_partition_replace_failure_restores_every_partition(spark, catalog, monkeypatch):
    """A partition overwrite swaps several leaf dirs; a failure on a
    later one puts back the ones already swapped."""
    import os

    from dbt_maxcompute_spark.plans import dml

    _seed(spark, catalog, "partitioned")
    rows = _rows(catalog)
    real, calls = os.replace, []

    def flaky(src, dst):
        if os.path.basename(dst).startswith("pt="):  # a rename-in
            calls.append(dst)
            if len(calls) == 2:
                raise OSError("second partition failed")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", flaky)
    with pytest.raises(OSError, match="second partition"):
        dml.insert_overwrite(catalog, "t", catalog.sql("SELECT id + 10 AS id, name, pt FROM t"))
    monkeypatch.undo()
    assert _rows(catalog) == rows
    assert os.listdir(os.path.dirname(catalog.table_dir("t"))) == ["t"]
