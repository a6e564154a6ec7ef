"""SET-preamble parser, raw materialization, on_schema_change modes,
and the model-runner dispatch (reference setting_parser_test.py +
incremental schema-change + materialization surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_maxcompute_spark.catalog import EngineCatalog
from dbt_maxcompute_spark.materializations.incremental import (
    apply_schema_change,
    run_incremental,
)
from dbt_maxcompute_spark.materializations.raw import run_raw, split_statements
from dbt_maxcompute_spark.plans.settings import parse_set_preamble, split_hints
from dbt_maxcompute_spark.runner import run_model


# ---------------------------------------------------------------------------
# SET-preamble parser (reference tests/unit_test/setting_parser_test.py)
# ---------------------------------------------------------------------------


def test_parse_basic_settings():
    r = parse_set_preamble("set a=1;\nset b = x y ;\nselect 1")
    assert r.settings == {"a": "1", "b": "x y"}
    assert r.remaining_query.strip() == "select 1"
    assert not r.errors


def test_parse_stops_at_first_statement():
    r = parse_set_preamble("select 1; set a=1;")
    assert r.settings == {}
    assert r.remaining_query == "select 1; set a=1;"


def test_parse_comments_interleaved():
    q = "-- lead comment\nset a=1;\n/* block\ncomment */ set b=2;\nselect 1 -- t\n"
    r = parse_set_preamble(q)
    assert r.settings == {"a": "1", "b": "2"}
    assert "select 1" in r.remaining_query
    assert "-- lead comment" in r.remaining_query  # comments survive


def test_parse_escaped_semicolon():
    r = parse_set_preamble(r"set sep=a\;b;select 1")
    assert r.settings == {"sep": "a;b"}


def test_parse_errors():
    assert parse_set_preamble("set a 1;select 1").errors  # missing =
    assert parse_set_preamble("set =v;select 1").errors  # empty key
    assert parse_set_preamble("set a=1").errors  # missing ;


def test_parse_set_prefix_word_is_not_set():
    r = parse_set_preamble("settings_table_scan()")
    assert r.settings == {} and r.remaining_query == "settings_table_scan()"


def test_split_hints_routing():
    apply, record = split_hints(
        {
            "spark.sql.shuffle.partitions": "8",
            "odps.sql.allow.fullscan": "true",
            "dbt.execution_mode": "maxqa",
        }
    )
    assert apply == {"spark.sql.shuffle.partitions": "8"}
    assert set(record) == {"odps.sql.allow.fullscan", "dbt.execution_mode"}


# ---------------------------------------------------------------------------
# raw materialization
# ---------------------------------------------------------------------------


def test_split_statements_quotes_and_comments():
    stmts = split_statements(
        "select ';' as a; -- c;\nselect \"x;y\" as b;/* ; */ select 3"
    )
    assert len(stmts) == 3
    assert stmts[0] == "select ';' as a"
    assert split_statements("select `a;b` from t; select 2") == [
        "select `a;b` from t",
        "select 2",
    ]


def test_run_raw_applies_scoped_conf(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    df, hints, errors = run_raw(
        spark,
        "set spark.sql.shuffle.partitions=7;\n"
        "set odps.sql.allow.fullscan=true;\n"
        "select 1 as one",
    )
    assert df.collect()[0].one == 1
    assert hints == {"odps.sql.allow.fullscan": "true"}
    assert not errors
    assert spark.conf.get("spark.sql.shuffle.partitions") == before  # restored


# ---------------------------------------------------------------------------
# on_schema_change
# ---------------------------------------------------------------------------


@pytest.fixture
def cat(spark, tmp_path):
    return EngineCatalog(spark, str(tmp_path / "wh"))


def _mk(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_schema_change_fail(spark, cat):
    cat.create_table("t", _mk(spark, [(1, "a")], ["id", "v"]))
    wider = _mk(spark, [(2, "b", 9.0)], ["id", "v", "extra"])
    with pytest.raises(ValueError, match="on_schema_change=fail"):
        apply_schema_change(cat, "t", wider, "fail")


def test_schema_change_append_new_columns(spark, cat):
    cat.create_table("t", _mk(spark, [(1, "a")], ["id", "v"]))
    wider = _mk(spark, [(2, "b", 9.0)], ["id", "v", "extra"])
    run_incremental(cat, "t", wider, strategy="append", on_schema_change="append_new_columns")
    got = {r.id: (r.v, r.extra) for r in cat.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b", 9.0)}


def test_schema_change_sync_all_columns(spark, cat):
    cat.create_table("t", _mk(spark, [(1, "a", True)], ["id", "v", "old"]))
    changed = _mk(spark, [(2, "b", 9.0)], ["id", "v", "extra"])
    run_incremental(cat, "t", changed, strategy="append", on_schema_change="sync_all_columns")
    df = cat.read("t")
    assert sorted(df.columns) == ["extra", "id", "v"]  # old dropped, extra added
    got = {r.id: (r.v, r.extra) for r in df.collect()}
    assert got == {1: ("a", None), 2: ("b", 9.0)}


def test_schema_change_ignore_drops_new_columns(spark, cat):
    cat.create_table("t", _mk(spark, [(1, "a")], ["id", "v"]))
    wider = _mk(spark, [(2, "b", 9.0)], ["id", "v", "extra"])
    run_incremental(cat, "t", wider, strategy="append", on_schema_change="ignore")
    assert sorted(cat.read("t").columns) == ["id", "v"]


# ---------------------------------------------------------------------------
# model runner dispatch
# ---------------------------------------------------------------------------


def test_run_model_table_view_clone_raw(spark, cat, sf_dir):
    from dbt_maxcompute_spark.sources.registry import load_table

    nation = load_table(spark, sf_dir, "nation")
    run_model(cat, {"name": "nat", "materialized": "table"}, nation)
    assert cat.read("nat").count() == nation.count()

    run_model(
        cat,
        {"name": "top_nat", "materialized": "view"},
        "select n_name from nat order by n_name limit 3",
    )
    assert cat.read("top_nat").count() == 3

    run_model(cat, {"name": "nat2", "materialized": "clone", "source": "nat"})
    assert cat.read("nat2").count() == nation.count()

    df = run_model(
        cat,
        {"name": "r", "materialized": "raw"},
        "set odps.x=1;\nselect count(*) as n from nat",
    )
    assert df.collect()[0].n == nation.count()


def test_run_model_incremental_roundtrip(spark, cat):
    base = _mk(spark, [(1, "a"), (2, "b")], ["id", "v"])
    run_model(
        cat,
        {"name": "inc", "materialized": "incremental", "strategy": "merge", "unique_key": "id"},
        base,
    )
    upd = _mk(spark, [(2, "B"), (3, "c")], ["id", "v"])
    run_model(
        cat,
        {"name": "inc", "materialized": "incremental", "strategy": "merge", "unique_key": "id"},
        upd,
    )
    got = {r.id: r.v for r in cat.read("inc").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_run_model_rejects_unknown_config(spark, cat):
    with pytest.raises(ValueError, match="unsupported config keys"):
        run_model(
            cat,
            {"name": "x", "materialized": "table", "typo_key": 1},
            _mk(spark, [(1,)], ["id"]),
        )


def test_run_model_ephemeral_returns_dataframe(spark, cat):
    df = run_model(
        cat, {"name": "e", "materialized": "ephemeral"}, _mk(spark, [(1,)], ["id"])
    )
    assert df.collect()[0].id == 1
    assert not cat.exists("e")


# ---------------------------------------------------------------------------
# pre_hook / post_hook + sql_header / sql_hints (round 9; reference
# macros/materializations/hooks.sql:1-10, relations/table/create.sql:122-133,
# tests/functional/adapter/test_hooks.py, maxcompute/test_sql_header.py)
# ---------------------------------------------------------------------------


def test_run_model_hooks_order_around_materialization(spark, cat):
    """pre_hook sees the PRE-run table state, post_hook the post-run
    state — proving hooks bracket the materialization (the reference's
    on_model_hook start/end pattern)."""
    cat.create_table(
        "on_model_hook",
        spark.createDataFrame([], "test_state string, n bigint"),
    )
    base = _mk(spark, [(1, "a"), (2, "b")], ["id", "v"])
    run_model(cat, {"name": "m", "materialized": "incremental", "strategy": "append"}, base)
    run_model(
        cat,
        {
            "name": "m",
            "materialized": "incremental",
            "strategy": "append",
            "pre_hook": "INSERT INTO on_model_hook SELECT 'start', count(*) FROM m",
            "post_hook": {"sql": "INSERT INTO on_model_hook SELECT 'end', count(*) FROM m"},
        },
        _mk(spark, [(3, "c")], ["id", "v"]),
    )
    audit = {r.test_state: r.n for r in cat.read("on_model_hook").collect()}
    assert audit == {"start": 2, "end": 3}


def test_run_model_hook_lists_run_in_order(spark, cat):
    cat.create_table("audit", spark.createDataFrame([], "seq bigint"))
    run_model(
        cat,
        {
            "name": "t2",
            "materialized": "table",
            "post_hook": [
                "INSERT INTO audit SELECT count(*) + 1 FROM audit",
                "INSERT INTO audit SELECT count(*) + 1 FROM audit",
            ],
        },
        _mk(spark, [(1,)], ["id"]),
    )
    assert sorted(r.seq for r in cat.read("audit").collect()) == [1, 2]


def test_run_model_failing_pre_hook_aborts(spark, cat):
    with pytest.raises(Exception):
        run_model(
            cat,
            {
                "name": "never",
                "materialized": "table",
                "pre_hook": "INSERT INTO does_not_exist VALUES (1)",
            },
            _mk(spark, [(1,)], ["id"]),
        )
    assert not cat.exists("never")


def test_run_model_bad_hook_shape_raises(spark, cat):
    with pytest.raises(ValueError, match="pre_hook"):
        run_model(
            cat,
            {"name": "x", "materialized": "table", "pre_hook": {"nosql": 1}},
            _mk(spark, [(1,)], ["id"]),
        )


def test_run_model_sql_header_scopes_confs_to_materialization(spark, cat):
    """Header SET statements apply as session confs DURING the model's
    write (observable through current_timezone() in the model SQL) and
    restore afterwards."""
    cat.create_table("one", _mk(spark, [(1,)], ["id"]))
    before = spark.conf.get("spark.sql.session.timeZone")
    assert before != "Asia/Tokyo"
    run_model(
        cat,
        {
            "name": "hdr",
            "materialized": "table",
            "sql_header": "set spark.sql.session.timeZone=Asia/Tokyo;",
        },
        "select id, current_timezone() as tz from one",
    )
    assert spark.conf.get("spark.sql.session.timeZone") == before  # restored
    assert cat.read("hdr").collect()[0].tz == "Asia/Tokyo"


def test_run_model_sql_hints_merge_with_header(spark, cat):
    """sql_hints entries become 'set k=v;' ahead of the header text
    (merge_sql_hints_and_header); inert odps.* hints are accepted, and
    the reference test's own 'set a=b;' shape works on every
    header-bearing materialization."""
    cat.create_table("one2", _mk(spark, [(1,)], ["id"]))
    run_model(
        cat,
        {
            "name": "hinted",
            "materialized": "table",
            "sql_hints": {"odps.sql.allow.fullscan": "true"},
            "sql_header": "set spark.sql.session.timeZone=Asia/Kolkata;",
        },
        "select id, current_timezone() as tz from one2",
    )
    assert cat.read("hinted").collect()[0].tz == "Asia/Kolkata"
    for mat, model in [
        ("table", "select * from one2"),
        ("view", "select * from one2"),
        ("incremental", "select * from one2"),
        ("materialized_view", "select id, count(*) as n from one2 group by id"),
    ]:
        run_model(
            cat,
            {"name": f"sh_{mat}", "materialized": mat, "sql_header": "set a=b;"},
            model,
        )
        assert cat.exists(f"sh_{mat}")


# -- dbt show (reference tests/functional/adapter/test_dbt_show.py) ----------


def test_show_model_limit_and_unlimited(spark, cat):
    from dbt_maxcompute_spark.runner import show_model

    cat.create_table("sm", _mk(spark, [(i, f"r{i}") for i in range(10)], ["id", "v"]))
    assert len(show_model(cat, "select * from sm", limit=3)) == 3
    assert len(show_model(cat, "select * from sm")) == 5  # dbt default
    assert len(show_model(cat, "select * from sm", limit=-1)) == 10
    assert len(show_model(cat, "select * from sm", limit=None)) == 10


def test_show_model_sql_header_and_double_limit(spark, cat):
    """Header confs scope the preview; a model that already ends in
    LIMIT nests cleanly (deliberate divergence from the reference's
    ODPS-0130161 engine error — documented in the docstring)."""
    from dbt_maxcompute_spark.runner import show_model

    cat.create_table("sm2", _mk(spark, [(1, "a"), (2, "b")], ["id", "v"]))
    rows = show_model(
        cat,
        "select id, current_timezone() as tz from sm2",
        limit=1,
        sql_header="set spark.sql.session.timeZone=Asia/Tokyo;",
        sql_hints={"odps.sql.allow.fullscan": "true"},
    )
    assert rows[0].tz == "Asia/Tokyo"
    # inner LIMIT + show's own LIMIT compose
    rows = show_model(cat, "select * from sm2 order by id limit 2", limit=1)
    assert len(rows) == 1


def test_run_model_sql_header_rejects_non_set_content(spark, cat):
    with pytest.raises(ValueError, match="sql_header"):
        run_model(
            cat,
            {
                "name": "x",
                "materialized": "table",
                "sql_header": "create temp function f() as 1;",
            },
            _mk(spark, [(1,)], ["id"]),
        )


# ---------------------------------------------------------------------------
# relation-type swap (reference relation.py:42-50 replaceable_relations,
# tests/functional/adapter/test_relations.py)
# ---------------------------------------------------------------------------


class TestRelationTypeSwap:
    @pytest.fixture()
    def catalog(self, spark, tmp_path):
        cat = EngineCatalog(spark, str(tmp_path / "wh"))
        src = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
        cat.create_table("src", src)
        return cat

    def test_table_to_view_swap(self, spark, catalog):
        df = catalog.read("src")
        run_model(catalog, {"name": "m", "materialized": "table"}, df)
        assert catalog.meta("m").table_type == "table"
        run_model(catalog, {"name": "m", "materialized": "view"}, "SELECT id FROM src")
        assert catalog.meta("m").table_type == "view"
        # the table's parquet files must be gone (no orphaned data)
        import os
        leftovers = [
            f for f in os.listdir(catalog.table_dir("m")) if f.endswith(".parquet")
        ]
        assert leftovers == []
        assert sorted(r["id"] for r in catalog.read("m").collect()) == [1, 2]

    def test_view_to_table_swap(self, spark, catalog):
        run_model(catalog, {"name": "m", "materialized": "view"}, "SELECT id FROM src")
        run_model(catalog, {"name": "m", "materialized": "table"}, catalog.read("src"))
        assert catalog.meta("m").table_type == "table"
        assert catalog.read("m").count() == 2

    def test_table_to_materialized_view_swap(self, spark, catalog):
        run_model(catalog, {"name": "m", "materialized": "table"}, catalog.read("src"))
        run_model(
            catalog,
            {"name": "m", "materialized": "materialized_view"},
            "SELECT id FROM src",
        )
        assert catalog.meta("m").table_type == "materialized_view"

    def test_view_to_incremental_swap(self, spark, catalog):
        run_model(catalog, {"name": "m", "materialized": "view"}, "SELECT id FROM src")
        run_model(
            catalog,
            {"name": "m", "materialized": "incremental", "strategy": "append"},
            catalog.read("src"),
        )
        assert catalog.meta("m").table_type == "table"
        assert catalog.read("m").count() == 2

    def test_same_type_no_swap(self, spark, catalog):
        run_model(catalog, {"name": "m", "materialized": "table"}, catalog.read("src"))
        created = catalog.meta("m").created_at
        # same-type rebuild goes through the normal overwrite path
        run_model(catalog, {"name": "m", "materialized": "table"}, catalog.read("src"))
        assert catalog.meta("m").table_type == "table"
        assert catalog.meta("m").created_at >= created


@pytest.mark.parametrize("kind", ["view", "materialized_view"])
def test_direct_builds_over_another_relation_type(spark, tmp_path, kind):
    """Incremental, snapshot and seed builds called directly, not through
    run_model, over a view or an MV build as a first run and leave a
    table of the new rows."""
    from dbt_maxcompute_spark.materializations.snapshot import run_snapshot
    from dbt_maxcompute_spark.sources.seeds import load_seed

    cat = EngineCatalog(spark, str(tmp_path / "wh"))
    csv = tmp_path / "seed.csv"
    csv.write_text("id,name\n1,a\n2,b\n3,c\n")
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id bigint, name string")
    builds = {
        "inc": lambda: run_incremental(cat, "inc", src, strategy="append"),
        "snap": lambda: run_snapshot(cat, "snap", src, "id", strategy="check"),
        "seed": lambda: load_seed(cat, "seed", str(csv), full_refresh=False),
    }
    for name, build in builds.items():
        run_model(cat, {"name": name, "materialized": kind}, "SELECT 1 AS id, 'x' AS name")
        build()
        assert cat.meta(name).table_type == "table"
        assert sorted(r["id"] for r in cat.read(name).collect()) == [1, 2, 3]


# ---------------------------------------------------------------------------
# query-comment injection (reference test_query_comment.py: comments are
# injected into every executed statement and never break execution)
# ---------------------------------------------------------------------------


class TestQueryComment:
    def test_render_and_inject(self):
        from dbt_maxcompute_spark.materializations.raw import (
            inject_query_comment,
            render_query_comment,
        )

        c = render_query_comment({"app": "dbt", "node_id": "model.x"})
        assert c.startswith("/*") and c.endswith("*/") and '"app": "dbt"' in c
        assert render_query_comment(None) == ""
        assert inject_query_comment("select 1", None) == "select 1"
        assert inject_query_comment("select 1", "hi").startswith("/* hi */")
        assert inject_query_comment("select 1", "hi", append=True).endswith("/* hi */")
        # a payload containing */ must not terminate the comment early
        assert "*/ x" not in render_query_comment("evil */ x")[3:-3]

    def test_comment_survives_execution(self, spark):
        from dbt_maxcompute_spark.materializations.raw import run_raw

        df, hints, errors = run_raw(
            spark,
            "set odps.sql.x=1;\nselect 1 as a;\nselect 2 as a",
            query_comment={"app": "dbt", "node_id": "model.m"},
        )
        assert not errors
        assert [r["a"] for r in df.collect()] == [2]

    def test_macro_style_string_comment_appended(self, spark):
        from dbt_maxcompute_spark.materializations.raw import run_raw

        df, _, _ = run_raw(
            spark, "select 42 as v", query_comment="executed-by-engine",
            comment_append=True,
        )
        assert df.collect()[0]["v"] == 42


# ---------------------------------------------------------------------------
# round-10: --empty builds + store_test_failures
# (reference test_empty.py BaseTestEmpty, test_store_test_failures.py)
# ---------------------------------------------------------------------------


def test_run_model_empty_builds_schema_without_data(spark, cat):
    """--empty: the materialized table carries the model's full schema
    and ZERO rows; contracts still enforce; a later real build over the
    same name replaces it (the dry-run then deploy flow)."""
    cat.create_table(
        "src", _mk(spark, [(1, "a", 2.5), (2, "b", 7.5)], "id bigint, s string, v double")
    )
    run_model(
        cat,
        {"name": "m", "materialized": "table"},
        "SELECT id, s, v * 2 AS v2 FROM src",
        empty=True,
    )
    got = cat.read("m")
    assert got.columns == ["id", "s", "v2"]
    assert got.count() == 0
    # contract enforcement still runs on the empty build
    with pytest.raises(Exception):
        run_model(
            cat,
            {
                "name": "m2",
                "materialized": "table",
                "contract": {
                    "enforced": True,
                    "columns": [{"name": "nosuch", "data_type": "bigint"}],
                },
            },
            "SELECT id FROM src",
            empty=True,
        )
    # the real build replaces the empty one
    run_model(cat, {"name": "m", "materialized": "table"},
              "SELECT id, s, v * 2 AS v2 FROM src")
    assert cat.read("m").count() == 2


def test_run_model_empty_incremental_first_and_later_run(spark, cat):
    cat.create_table("src", _mk(spark, [(1, 10), (2, 20)], "id bigint, v bigint"))
    run_model(
        cat,
        {"name": "inc", "materialized": "incremental", "strategy": "append"},
        "SELECT * FROM src",
        empty=True,
    )
    assert cat.read("inc").count() == 0
    run_model(
        cat,
        {"name": "inc", "materialized": "incremental", "strategy": "append"},
        "SELECT * FROM src",
    )
    assert cat.read("inc").count() == 2
    # an --empty run against the EXISTING table appends nothing
    run_model(
        cat,
        {"name": "inc", "materialized": "incremental", "strategy": "append"},
        "SELECT * FROM src",
        empty=True,
    )
    assert cat.read("inc").count() == 2


def test_run_model_empty_scans_no_source_files(spark, cat):
    """limit 0 must fold to an empty relation BEFORE the scan — the
    build reads no source data files (the whole point of --empty on a
    100 TB source)."""
    cat.create_table("big", spark.range(1000).select("id"))
    from tests.test_sqldml import _job_executions_after, _last_exec_id  # noqa: F401

    df = cat.sql("SELECT id, id * 2 AS d FROM big").limit(0)
    assert df.count() == 0
    assert not df.inputFiles()  # PropagateEmptyRelation: no files scanned


def test_run_test_store_failures(spark, cat):
    from dbt_maxcompute_spark.runner import run_test

    cat.create_table(
        "acct",
        _mk(spark, [(1, 50.0), (2, -10.0), (3, -1.5)], "id bigint, bal double"),
        transactional=True,
        primary_keys=["id"],
    )
    res = run_test(
        cat, "positive_balance", "SELECT * FROM acct WHERE bal < 0",
        store_failures=True,
    )
    assert res["status"] == "fail" and res["failures"] == 2
    assert res["relation"] == "dbt_test__audit.positive_balance"
    audit = cat.read(res["relation"])
    assert sorted(r.id for r in audit.collect()) == [2, 3]
    # re-run after fixing one row REPLACES the audit table
    cat.execute("UPDATE acct SET bal = 5 WHERE id = 2")
    res2 = run_test(
        cat, "positive_balance", "SELECT * FROM acct WHERE bal < 0",
        store_failures=True,
    )
    assert res2["failures"] == 1
    assert sorted(r.id for r in cat.read(res2["relation"]).collect()) == [3]
    # a passing test stores an EMPTY audit table (schema intact)
    res3 = run_test(
        cat, "has_rows", "SELECT * FROM acct WHERE bal > 1e9",
        store_failures=True,
    )
    assert res3["status"] == "pass" and res3["failures"] == 0
    assert cat.read(res3["relation"]).columns == ["id", "bal"]
    # without store_failures: count only, no audit relation
    res4 = run_test(cat, "plain", "SELECT * FROM acct WHERE bal < 0")
    assert res4 == {"name": "plain", "status": "fail", "failures": 1,
                    "relation": None}


# ---------------------------------------------------------------------------
# round-10: dbt unit tests (fixture-shadowed refs) + severity thresholds
# (reference test_unit_testings.py BaseUnitTestCase)
# ---------------------------------------------------------------------------


def test_run_unit_test_fixtures_shadow_catalog_refs(spark, cat):
    """The model SQL runs UNCHANGED against fixture rows: CTE names take
    precedence over the catalog temp views, so `orders_src` resolves to
    the fixture even though a real catalog table with that name holds
    different data; partial dict fixtures NULL-backfill and cast to the
    relation's types."""
    from dbt_maxcompute_spark.runner import run_unit_test

    cat.create_table(
        "orders_src",
        _mk(spark, [(99, "X", 1e9)], "o_id bigint, status string, amt double"),
    )
    res = run_unit_test(
        cat,
        "agg_by_status",
        "SELECT status, count(*) AS n, sum(amt) AS total "
        "FROM orders_src GROUP BY status",
        given={
            "orders_src": [
                {"o_id": 1, "status": "A", "amt": 10.5},
                {"o_id": 2, "status": "A", "amt": 4.5},
                {"o_id": 3, "status": "B"},  # amt backfills NULL
            ]
        },
        expect=[
            {"status": "A", "n": 2, "total": 15.0},
            {"status": "B", "n": 1, "total": None},
        ],
    )
    assert res["status"] == "pass", res
    # the real catalog table is untouched and still resolves elsewhere
    assert cat.read("orders_src").count() == 1


def test_run_unit_test_detects_mismatch_and_merges_with_cte_models(spark, cat):
    from dbt_maxcompute_spark.runner import run_unit_test

    cat.create_table("src_t", _mk(spark, [(1, 5)], "id bigint, v bigint"))
    # model already has a WITH clause: fixture CTEs splice in front
    model = (
        "WITH doubled AS (SELECT id, v * 2 AS v2 FROM src_t) "
        "SELECT id, v2 FROM doubled"
    )
    ok = run_unit_test(
        cat, "ut", model,
        given={"src_t": [{"id": 7, "v": 3}]},
        expect=[{"id": 7, "v2": 6}],
    )
    assert ok["status"] == "pass"
    bad = run_unit_test(
        cat, "ut", model,
        given={"src_t": [{"id": 7, "v": 3}]},
        expect=[{"id": 7, "v2": 99}],
    )
    assert bad["status"] == "fail" and bad["mismatches"]
    dirs = {d for _, d in bad["mismatches"]}
    assert dirs == {"actual_only", "expected_only"}


def test_run_unit_test_merges_past_leading_comments_and_recursive(spark, cat):
    """Round-11 advisory: models routinely open with a `--` header (or
    a /* block */) before their own WITH — the prologue splice must
    land AFTER the comments and BEFORE the model's CTE list, and a
    WITH RECURSIVE model keeps RECURSIVE immediately after WITH."""
    from dbt_maxcompute_spark.runner import run_unit_test

    cat.create_table("src_c", _mk(spark, [(1, 5)], "id bigint, v bigint"))
    model = (
        "-- model header comment\n"
        "/* block\n   comment */\n"
        "WITH doubled AS (SELECT id, v * 2 AS v2 FROM src_c)\n"
        "SELECT id, v2 FROM doubled"
    )
    res = run_unit_test(
        cat, "ut_comment", model,
        given={"src_c": [{"id": 7, "v": 3}]},
        expect=[{"id": 7, "v2": 6}],
    )
    assert res["status"] == "pass", res

    rec = (
        "-- count to the fixture's v\n"
        "WITH RECURSIVE seq AS ("
        "  SELECT 1 AS n UNION ALL "
        "  SELECT n + 1 FROM seq WHERE n < (SELECT max(v) FROM src_c)"
        ") SELECT count(*) AS n_rows FROM seq"
    )
    res = run_unit_test(
        cat, "ut_recursive", rec,
        given={"src_c": [{"id": 1, "v": 4}]},
        expect=[{"n_rows": 4}],
    )
    assert res["status"] == "pass", res

    # round-12 advisory: WITH detection is word-bounded (`WITH\b`), so
    # only a real WITH keyword takes the splice branch; a parenthesized
    # body wraps cleanly via `WITH <prologue> (SELECT ...)`
    res = run_unit_test(
        cat, "ut_paren_body",
        "(SELECT id, v * 2 AS v2 FROM src_c)",
        given={"src_c": [{"id": 1, "v": 4}]},
        expect=[{"id": 1, "v2": 8}],
    )
    assert res["status"] == "pass", res


def test_run_unit_test_empty_fixture_and_unknown_column(spark, cat):
    from dbt_maxcompute_spark.runner import run_unit_test

    cat.create_table("ev", _mk(spark, [(1, "c")], "id bigint, kind string"))
    res = run_unit_test(
        cat, "ut_empty", "SELECT count(*) AS n FROM ev",
        given={"ev": []},
        expect=[{"n": 0}],
    )
    assert res["status"] == "pass"
    with pytest.raises(ValueError, match="does not have"):
        run_unit_test(
            cat, "ut_bad", "SELECT * FROM ev",
            given={"ev": [{"nosuch": 1}]},
            expect=[],
        )


def test_run_test_severity_thresholds(spark, cat):
    from dbt_maxcompute_spark.runner import run_test

    cat.create_table("m", _mk(spark, [(1,), (2,), (3,)], "id bigint"))
    q = "SELECT * FROM m WHERE id > 1"  # 2 failing rows
    # error_if not met, warn_if met -> warn
    r = run_test(cat, "t1", q, error_if=">5", warn_if=">0")
    assert r["status"] == "warn" and r["failures"] == 2
    # severity=warn never fails
    r = run_test(cat, "t2", q, severity="warn", warn_if=">0", error_if=">0")
    assert r["status"] == "warn"
    # neither threshold met -> pass despite failures
    r = run_test(cat, "t3", q, error_if=">5", warn_if=">= 3")
    assert r["status"] == "pass"
    # default: fail
    assert run_test(cat, "t4", q)["status"] == "fail"
