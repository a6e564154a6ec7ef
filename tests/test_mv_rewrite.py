"""MV auto-rewrite: exact-text and container-rollup matches answer from
the MV table; disable_rewrite and out-of-grammar queries fall back to
the base table. Plan-pinned via the scanned file paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_maxcompute_spark.catalog import EngineCatalog
from dbt_maxcompute_spark.materializations.materialized_view import (
    create_materialized_view,
)
from dbt_maxcompute_spark.plans.mv_rewrite import parse_rollup, try_rewrite
from dbt_maxcompute_spark.sources.registry import load_table


MV_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty,
       min(l_extendedprice) AS min_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# parser / rewriter unit tests (no Spark)
# ---------------------------------------------------------------------------

def test_parse_rollup_shape():
    r = parse_rollup(MV_SQL)
    assert r.table == "lineitem"
    assert r.group_keys == ["l_returnflag", "l_linestatus"]
    aggs = {(i.func, i.arg): i.alias for i in r.items if i.kind == "agg"}
    assert ("count", "*") in aggs and aggs[("count", "*")] == "n"
    assert ("sum", "cast ( l_quantity as decimal ( 28 , 6 ) )") in aggs
    assert ("min", "l_extendedprice") in aggs


def test_exact_text_match_case_and_whitespace_insensitive():
    user = "select l_returnflag,   l_linestatus, COUNT(*) as n, cast(SUM(cast(l_quantity as DECIMAL(28,6))) as DOUBLE) AS qty, MIN(l_extendedprice) as min_price from lineitem GROUP BY l_returnflag, l_linestatus;"
    out = try_rewrite(user, [("default_mv1", MV_SQL)])
    assert out == "SELECT * FROM default_mv1"


def test_container_rollup_rewrites_subset_keys():
    user = """
    SELECT l_returnflag, sum(cast(l_quantity AS decimal(28,6))) AS q
    FROM lineitem GROUP BY l_returnflag
    """
    out = try_rewrite(user, [("default_mv1", MV_SQL)])
    # the inner cast text is the match key; the outer rewrite re-sums the
    # MV's qty column. MV stored qty as double (cast applied), so the
    # user's uncast sum maps to sum(qty).
    assert out is not None and "FROM default_mv1" in out
    assert "sum(qty) as q" in out.lower()


def test_count_rewrites_to_sum_and_min_nests():
    user = """
    SELECT l_linestatus, count(*) AS n_rows, min(l_extendedprice) AS cheapest
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """
    out = try_rewrite(user, [("m", MV_SQL)])
    assert "sum(n) AS n_rows" in out
    assert "min(min_price) AS cheapest" in out
    assert out.endswith("ORDER BY l_linestatus")


def test_where_on_group_key_allowed_other_columns_block():
    ok = try_rewrite(
        "SELECT l_returnflag, count(*) AS n FROM lineitem WHERE l_linestatus = 'O' GROUP BY l_returnflag",
        [("m", MV_SQL)],
    )
    assert ok is not None and "WHERE l_linestatus = 'O'" in ok
    blocked = try_rewrite(
        "SELECT l_returnflag, count(*) AS n FROM lineitem WHERE l_quantity > 5 GROUP BY l_returnflag",
        [("m", MV_SQL)],
    )
    assert blocked is None


def test_out_of_grammar_and_mismatches_fail_closed():
    cases = [
        "SELECT l_returnflag, avg(l_quantity) AS a FROM lineitem GROUP BY l_returnflag",  # avg not re-aggregable
        "SELECT o_orderkey, count(*) AS n FROM orders GROUP BY o_orderkey",  # other table
        "SELECT l_shipmode, count(*) AS n FROM lineitem GROUP BY l_shipmode",  # key not in MV
        "SELECT l_returnflag, count(*) AS n FROM lineitem l JOIN orders o ON true GROUP BY l_returnflag",  # join
        "SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag",  # unaliased agg
        "SELECT l_returnflag, sum(l_tax) AS t FROM lineitem GROUP BY l_returnflag",  # agg not in MV
    ]
    for sql in cases:
        assert try_rewrite(sql, [("m", MV_SQL)]) is None, sql


def test_filtered_mv_requires_identical_where():
    mv = "SELECT l_returnflag, count(*) AS n FROM lineitem WHERE l_linestatus = 'O' GROUP BY l_returnflag"
    same = try_rewrite(
        "SELECT l_returnflag, count(*) AS n FROM lineitem WHERE l_linestatus = 'O' GROUP BY l_returnflag",
        [("m", mv)],
    )
    assert same is not None and "WHERE" not in same  # filter baked into MV rows
    other = try_rewrite(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",
        [("m", mv)],
    )
    assert other is None  # unfiltered query cannot come from filtered MV


# ---------------------------------------------------------------------------
# end-to-end plan pins
# ---------------------------------------------------------------------------


def _scanned_paths(spark, df) -> str:
    # formatted explain keeps full scan Location paths (toString truncates)
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture()
def mv_cat(spark, tmp_path, sf_dir):
    cat = EngineCatalog(spark, str(tmp_path / "wh"))
    li = load_table(spark, sf_dir, "lineitem")
    cat.create_table("lineitem", li)
    return cat


def test_rewrite_answers_from_mv_scan(spark, mv_cat):
    create_materialized_view(mv_cat, "mv_roll", MV_SQL)
    user = """
    SELECT l_returnflag, count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """
    got = mv_cat.sql(user)
    plan = _scanned_paths(spark, got)
    assert "mv_roll" in plan, "expected the MV table scan in the plan"
    assert "default/lineitem" not in plan, "base table must not be scanned"
    direct = mv_cat.sql(user, mv_rewrite=False)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, direct.collect()))


def test_disable_rewrite_scans_base_table(spark, mv_cat):
    create_materialized_view(mv_cat, "mv_roll", MV_SQL, disable_rewrite=True)
    user = "SELECT l_returnflag, count(*) AS n_rows FROM lineitem GROUP BY l_returnflag"
    plan = _scanned_paths(spark, mv_cat.sql(user))
    assert "default/lineitem" in plan
    assert "mv_roll" not in plan


def test_exact_match_end_to_end(spark, mv_cat):
    create_materialized_view(mv_cat, "mv_roll", MV_SQL)
    got = mv_cat.sql(MV_SQL)
    plan = _scanned_paths(spark, got)
    assert "mv_roll" in plan and "default/lineitem" not in plan
    direct = mv_cat.sql(MV_SQL, mv_rewrite=False)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, direct.collect()))


def test_refresh_does_not_read_own_mv(spark, mv_cat):
    from dbt_maxcompute_spark.materializations.materialized_view import (
        refresh_materialized_view,
    )

    create_materialized_view(mv_cat, "mv_roll", MV_SQL)
    before = mv_cat.read("mv_roll").collect()
    # double some base rows, refresh, MV must change (a self-referential
    # rewrite would make refresh a stale no-op)
    extra = mv_cat.read("lineitem").limit(100)
    from dbt_maxcompute_spark.plans import dml

    dml.append(mv_cat, "lineitem", extra)
    refresh_materialized_view(mv_cat, "mv_roll")
    after = mv_cat.read("mv_roll").collect()
    assert sum(r.n for r in after) == sum(r.n for r in before) + 100


# ---------------------------------------------------------------------------
# predicate containment (round 5)
# ---------------------------------------------------------------------------

FILTERED_MV_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
FROM lineitem
WHERE l_shipdate >= '1995-01-01' AND l_discount > 0.02
GROUP BY l_returnflag, l_linestatus
"""


def test_containment_user_tightens_mv_filter():
    # user WHERE ⊃ MV WHERE: residual conjunct on a grouping key is
    # re-applied over the MV scan
    user = """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= '1995-01-01' AND l_discount > 0.02
      AND l_returnflag = 'R'
    GROUP BY l_returnflag
    """
    out = try_rewrite(user, [("default_mv2", FILTERED_MV_SQL)])
    assert out is not None and "default_mv2" in out
    # the literal's CASE survives normalization — 'R' must not become 'r'
    assert "l_returnflag = 'R'" in out
    assert "l_shipdate" not in out  # baked into the MV, not re-applied


def test_containment_fails_when_user_misses_mv_conjunct():
    user = """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= '1995-01-01'
    GROUP BY l_returnflag
    """
    assert try_rewrite(user, [("default_mv2", FILTERED_MV_SQL)]) is None


def test_containment_fails_on_nonkey_residual():
    user = """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= '1995-01-01' AND l_discount > 0.02 AND l_tax > 0.01
    GROUP BY l_returnflag
    """
    assert try_rewrite(user, [("default_mv2", FILTERED_MV_SQL)]) is None


def test_containment_between_and_or_are_one_conjunct():
    from dbt_maxcompute_spark.plans.mv_rewrite import _conjuncts

    assert _conjuncts("a between 1 and 2 and b = 3") == [
        "a between 1 and 2", "b = 3",
    ]
    assert _conjuncts("a = 1 or b = 2") == ["a = 1 or b = 2"]
    assert _conjuncts("(a = 1 or b = 2) and c = 3") == [
        "( a = 1 or b = 2 )", "c = 3",
    ]


def test_containment_rewrite_values_match_base(spark, tmp_path, sf_dir):
    cat = EngineCatalog(spark, str(tmp_path / "wh"))
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    li = spark.table("lineitem")
    cat.create_table("lineitem", li)
    create_materialized_view(cat, "mvf", FILTERED_MV_SQL)
    user = """
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
    FROM lineitem
    WHERE l_shipdate >= '1995-01-01' AND l_discount > 0.02
      AND l_returnflag = 'R'
    GROUP BY l_returnflag
    """
    got = cat.sql(user)
    # plan-pin: the rewritten query scans the MV table, not the fact
    files = "\n".join(got.inputFiles())
    assert "mvf" in files and "lineitem" not in files
    want = cat.sql(user, mv_rewrite=False).collect()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))


# ---------------------------------------------------------------------------
# join-containing MVs (round 5): exact-FROM-text match
# ---------------------------------------------------------------------------

JOIN_MV_SQL = """
SELECT o_orderstatus, l_returnflag, count(*) AS n,
       CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus, l_returnflag
"""


def test_join_mv_rewrites_on_identical_from_text():
    user = """
    SELECT o_orderstatus, count(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """
    out = try_rewrite(user, [("default_mvj", JOIN_MV_SQL)])
    assert out is not None and "default_mvj" in out
    assert "join" not in out.lower()  # the join itself is gone


def test_join_mv_rewrites_on_reordered_join():
    # round-8 upgrade: inner joins commute — a reordered join tree
    # over the same tables and ON conjuncts IS the same relation and
    # now rewrites (was fail-closed identical-FROM-text through r7)
    user = """
    SELECT o_orderstatus, count(*) AS n
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """
    out = try_rewrite(user, [("default_mvj", JOIN_MV_SQL)])
    assert out is not None and "default_mvj" in out
    assert "join" not in out.lower()


def test_join_mv_alias_renamed_rewrites():
    # aliases resolve to table names before matching: a user query
    # written through different aliases still answers from the MV
    mv = """
    SELECT c.seg AS seg, count(*) AS n,
           CAST(sum(CAST(o.price AS decimal(28,6))) AS double) AS total
    FROM ord o JOIN cust c ON o.ck = c.ck
    GROUP BY c.seg
    """
    user = """
    SELECT x.seg AS seg, count(*) AS n
    FROM cust x JOIN ord y ON y.ck = x.ck
    GROUP BY x.seg
    """
    out = try_rewrite(user, [("default_mvx", mv)])
    assert out is not None and "default_mvx" in out
    assert "join" not in out.lower()
    # emitted columns are the MV's OUTPUT names
    assert "seg" in out and "x." not in out and "y." not in out


def test_join_mv_refuses_non_inner_and_missing_conjunct():
    mv = """
    SELECT c.seg AS seg, count(*) AS n
    FROM ord o JOIN cust c ON o.ck = c.ck AND o.region = c.region
    GROUP BY c.seg
    """
    # LEFT JOIN is not commutative — never matches an inner-join MV
    user_left = """
    SELECT c.seg AS seg, count(*) AS n
    FROM ord o LEFT JOIN cust c ON o.ck = c.ck AND o.region = c.region
    GROUP BY c.seg
    """
    assert try_rewrite(user_left, [("default_mvx", mv)]) is None
    # a user join MISSING one ON conjunct is a DIFFERENT relation
    user_less = """
    SELECT c.seg AS seg, count(*) AS n
    FROM ord o JOIN cust c ON o.ck = c.ck
    GROUP BY c.seg
    """
    assert try_rewrite(user_less, [("default_mvx", mv)]) is None
    # ... and one with an EXTRA conjunct likewise
    user_more = """
    SELECT c.seg AS seg, count(*) AS n
    FROM ord o JOIN cust c ON o.ck = c.ck AND o.region = c.region
      AND o.day = c.day
    GROUP BY c.seg
    """
    assert try_rewrite(user_more, [("default_mvx", mv)]) is None


def test_join_mv_refuses_self_join_alias_ambiguity():
    # a self-join loses positional identity under alias erasure —
    # normalization declines and only exact text could match
    mv = """
    SELECT a.k AS k, count(*) AS n
    FROM t a JOIN t b ON a.k = b.pk
    GROUP BY a.k
    """
    user = """
    SELECT b.k AS k, count(*) AS n
    FROM t b JOIN t a ON b.k = a.pk
    GROUP BY b.k
    """
    assert try_rewrite(user, [("default_mvx", mv)]) is None


def test_join_mv_values_match_base(spark, tmp_path, sf_dir):
    cat = EngineCatalog(spark, str(tmp_path / "whj"))
    cat.create_table("lineitem", load_table(spark, sf_dir, "lineitem"))
    cat.create_table("orders", load_table(spark, sf_dir, "orders"))
    create_materialized_view(cat, "mvj", JOIN_MV_SQL)
    user = """
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """
    got = cat.sql(user)
    files = "\n".join(got.inputFiles())
    assert "mvj" in files and "lineitem" not in files
    want = cat.sql(user, mv_rewrite=False).collect()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))


# ---------------------------------------------------------------------------
# round 6: AVG decomposition + HAVING
# ---------------------------------------------------------------------------

# AVG decomposition requires MV sum+count over the IDENTICAL argument
# text (count(*) counts nulls, count(other_expr) may differ — fail closed)
SUMCOUNT_MV_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS sum_qty,
       count(CAST(l_quantity AS decimal(28,6))) AS cnt_qty,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def test_avg_decomposes_into_mv_sum_count():
    user = """
    SELECT l_returnflag,
           CAST(avg(CAST(l_quantity AS decimal(28,6))) AS double) AS avg_qty
    FROM lineitem GROUP BY l_returnflag
    """
    out = try_rewrite(user, [("m", SUMCOUNT_MV_SQL)])
    assert out is not None
    # wait: user avg arg is the CAST expr; MV stores sum of the SAME arg
    assert "sum(sum_qty)" in out and "sum(cnt_qty)" in out


def test_avg_without_matching_count_falls_back():
    mv = """
    SELECT l_returnflag, CAST(sum(l_quantity) AS double) AS s
    FROM lineitem GROUP BY l_returnflag
    """
    user = "SELECT l_returnflag, avg(l_quantity) AS a FROM lineitem GROUP BY l_returnflag"
    assert try_rewrite(user, [("m", mv)]) is None


def test_mv_side_avg_is_not_reaggregable():
    mv = "SELECT l_returnflag, avg(l_quantity) AS a FROM lineitem GROUP BY l_returnflag"
    user = "SELECT avg(l_quantity) AS a FROM lineitem GROUP BY l_returnflag"
    assert try_rewrite(user, [("m", mv)]) is None


def test_having_rewrites_over_mv_aggregates():
    user = """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    HAVING count(*) > 100 AND l_returnflag <> 'X'
    """
    out = try_rewrite(user, [("m", SUMCOUNT_MV_SQL)])
    assert out is not None and "having" in out.lower()
    assert "sum(n) > 100" in out.lower()


def test_having_on_nonkey_column_fails_closed():
    user = """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    HAVING max(l_discount) > 0.05
    """
    assert try_rewrite(user, [("m", SUMCOUNT_MV_SQL)]) is None


def test_mv_with_having_only_exact_matches():
    mv = """
    SELECT l_returnflag, count(*) AS n FROM lineitem
    GROUP BY l_returnflag HAVING count(*) > 10
    """
    # exact text: fine
    assert try_rewrite(mv, [("m", mv)]) is not None
    # rollup containment over post-HAVING rows: unsound, falls back
    user = "SELECT count(*) AS n FROM lineitem GROUP BY l_returnflag"
    assert try_rewrite(user, [("m", mv)]) is None


def test_avg_having_values_match_base(spark, tmp_path, sf_dir):
    cat = EngineCatalog(spark, str(tmp_path / "wh_avg"))
    cat.create_table("lineitem", load_table(spark, sf_dir, "lineitem"))
    create_materialized_view(cat, "mvsc", SUMCOUNT_MV_SQL)
    user = """
    SELECT l_returnflag,
           CAST(avg(CAST(l_quantity AS decimal(28,6))) AS double) AS avg_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    HAVING count(*) > 5
    """
    got = cat.sql(user)
    files = "\n".join(got.inputFiles())
    assert "mvsc" in files and "lineitem" not in files   # answered from MV
    want = cat.sql(user, mv_rewrite=False).collect()
    def norm(rows):
        return sorted((r.l_returnflag, round(r.avg_qty, 9), r.n) for r in rows)
    assert norm(got.collect()) == norm(want)


# ---------------------------------------------------------------------------
# round 6: numeric range-implication containment
# ---------------------------------------------------------------------------

def test_range_implication_on_group_key():
    mv = """
    SELECT l_linenumber, count(*) AS n FROM lineitem
    WHERE l_linenumber > 0 GROUP BY l_linenumber
    """
    user = """
    SELECT l_linenumber, count(*) AS n FROM lineitem
    WHERE l_linenumber > 2 GROUP BY l_linenumber
    """
    out = try_rewrite(user, [("m", mv)])
    # l_linenumber > 2 implies the MV's > 0; the user conjunct
    # re-applies as residual over the MV scan
    assert out is not None and "l_linenumber > 2" in out.lower()

    weaker = """
    SELECT l_linenumber, count(*) AS n FROM lineitem
    WHERE l_linenumber > -5 GROUP BY l_linenumber
    """
    # > -5 does NOT imply > 0: rows in (-5, 0] are missing from the MV
    assert try_rewrite(weaker, [("m", mv)]) is None


def test_range_implication_boundary_cases():
    from dbt_maxcompute_spark.plans.mv_rewrite import _implies

    assert _implies("x > 5", "x > 0")
    assert _implies("x >= 5", "x > 0")
    assert _implies("x > 0", "x >= 0")
    assert not _implies("x >= 0", "x > 0")      # includes the excluded bound
    assert _implies("x = 7", "x > 0")
    assert not _implies("x = 0", "x > 0")
    assert _implies("x = 0", "x >= 0")
    assert _implies("x < 3", "x <= 3")
    assert not _implies("x <= 3", "x < 3")
    assert _implies("x < 2", "x < 10")
    assert not _implies("y > 5", "x > 0")       # different columns
    assert not _implies("x > 5", "x < 10")      # opposite directions
    assert _implies("x = 4", "x = 4")


def test_range_implication_values_match_base(spark, tmp_path, sf_dir):
    cat = EngineCatalog(spark, str(tmp_path / "wh_range"))
    cat.create_table("lineitem", load_table(spark, sf_dir, "lineitem"))
    create_materialized_view(
        cat, "mvr",
        """SELECT l_linenumber, count(*) AS n,
                  CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
           FROM lineitem WHERE l_linenumber >= 1 GROUP BY l_linenumber""",
    )
    user = """
    SELECT l_linenumber, count(*) AS n,
           CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
    FROM lineitem WHERE l_linenumber >= 3 GROUP BY l_linenumber
    """
    got = cat.sql(user)
    files = "\n".join(got.inputFiles())
    assert "mvr" in files and "lineitem" not in files
    want = cat.sql(user, mv_rewrite=False).collect()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))


def test_view_expansion_end_to_end_plan_and_values(spark, tmp_path, sf_dir):
    """Round-9: a rollup over a catalog VIEW answers from the MV
    (plan-pinned: MV files scanned, base table absent) with values
    equal to direct execution; a view the grammar cannot expand falls
    back to the base table."""
    cat = EngineCatalog(spark, str(tmp_path / "wh_view"))
    cat.create_table("lineitem", load_table(spark, sf_dir, "lineitem"))
    create_materialized_view(
        cat, "mvv",
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
                  CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
           FROM lineitem WHERE l_linenumber >= 2
           GROUP BY l_returnflag, l_linestatus""",
    )
    cat.create_view(
        "li_recent",
        "SELECT l_returnflag AS rf, l_linestatus, l_quantity "
        "FROM lineitem WHERE l_linenumber >= 2",
    )
    user = """
    SELECT rf, count(*) AS n,
           CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
    FROM li_recent GROUP BY rf
    """
    got = cat.sql(user)
    files = "\n".join(got.inputFiles())
    assert "mvv" in files and "lineitem" not in files
    want = cat.sql(user, mv_rewrite=False).collect()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))
    # an unexpandable view (rollup body) falls back to the base table
    cat.create_view(
        "li_rollup",
        "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    )
    fb = cat.sql("SELECT l_returnflag, sum(cnt) AS s FROM li_rollup GROUP BY l_returnflag")
    fb_files = "\n".join(fb.inputFiles())
    assert "lineitem" in fb_files and "mvv" not in fb_files


def test_having_agg_text_inside_string_literal_is_data():
    """Round-7 advisory fix: agg-looking text inside a quoted literal
    must pass through unrewritten (it previously became 'sum(c)' —
    silently changing results)."""
    user = """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    HAVING count(*) > 100 AND l_returnflag <> 'count(*)'
    """
    out = try_rewrite(user, [("m", SUMCOUNT_MV_SQL)])
    assert out is not None
    assert "'count(*)'" in out          # literal preserved verbatim
    assert "sum(n) > 100" in out.lower()


def test_having_identifier_inside_literal_not_checked():
    """An unknown-identifier-looking token INSIDE a literal must not
    trip the fail-closed ident check; the same token OUTSIDE must."""
    user_ok = """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    HAVING count(*) > 1 AND l_returnflag <> 'mystery_col'
    """
    assert try_rewrite(user_ok, [("m", SUMCOUNT_MV_SQL)]) is not None
    user_bad = """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    HAVING count(*) > 1 AND mystery_col <> 'x'
    """
    assert try_rewrite(user_bad, [("m", SUMCOUNT_MV_SQL)]) is None


def test_subst_keys_leaves_string_literals_alone():
    """Round-9 advisory fix: _subst_keys must not rewrite grouping-key
    text INSIDE string literals. With an MV key aliased (rf), a
    residual WHERE like l_returnflag = 'l_returnflag pending' used to
    emit rf = 'rf pending' — analyzes fine, silently wrong rows."""
    mv = """SELECT l_returnflag AS rf, count(*) AS n
            FROM lineitem GROUP BY l_returnflag"""
    user = """
    SELECT l_returnflag, count(*) AS cnt
    FROM lineitem WHERE l_returnflag = 'l_returnflag pending'
    GROUP BY l_returnflag
    """
    out = try_rewrite(user, [("m", mv)])
    assert out is not None
    assert "'l_returnflag pending'" in out   # literal untouched
    assert "rf = 'l_returnflag pending'" in out  # key substituted outside
    # same protection on ORDER BY / HAVING emission
    user2 = """
    SELECT l_returnflag, count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    HAVING l_returnflag <> 'l_returnflag x'
    ORDER BY l_returnflag
    """
    out2 = try_rewrite(user2, [("m", mv)])
    assert out2 is not None
    assert "'l_returnflag x'" in out2
    assert out2.endswith("ORDER BY rf")


# -- round-9: rewrite through catalog views -----------------------------------

VIEW_MV = """SELECT l_returnflag, l_linestatus, count(*) AS n,
                    sum(l_quantity) AS q
             FROM lineitem WHERE l_linenumber >= 2
             GROUP BY l_returnflag, l_linestatus"""


def test_view_expansion_projection_filter_rewrites():
    """A rollup over a view (aliased projection + filter over the MV's
    base relation) expands and answers from the MV; the view's WHERE
    folds into containment, and the user's output names survive."""
    views = {
        "v": "SELECT l_returnflag AS rf, l_linestatus, l_quantity "
             "FROM lineitem WHERE l_linenumber >= 2"
    }
    user = "SELECT rf, count(*) AS cnt, sum(l_quantity) AS sq FROM v GROUP BY rf"
    out = try_rewrite(user, [("m", VIEW_MV)], views=views)
    assert out is not None and "FROM m" in out
    assert "AS rf" in out            # user-visible name preserved
    assert "sum(n) AS cnt" in out and "sum(q) AS sq" in out


def test_view_expansion_qualified_refs_and_residual_where():
    views = {
        "v": "SELECT l_returnflag AS rf, l_linestatus, l_quantity "
             "FROM lineitem WHERE l_linenumber >= 2"
    }
    user = ("SELECT x.rf, count(*) AS cnt FROM v AS x "
            "WHERE x.rf = 'R' GROUP BY x.rf")
    out = try_rewrite(user, [("m", VIEW_MV)], views=views)
    assert out is not None and "FROM m" in out
    assert "l_returnflag = 'R'" in out


def test_view_expansion_star_view():
    views = {"vstar": "SELECT * FROM lineitem WHERE l_linenumber >= 2"}
    user = "SELECT l_returnflag, count(*) AS cnt FROM vstar GROUP BY l_returnflag"
    out = try_rewrite(user, [("m", VIEW_MV)], views=views)
    assert out is not None and "sum(n) AS cnt" in out


def test_view_expansion_tightened_filter_residual_on_keys():
    """The user may tighten the view's filter with grouping-key
    predicates; non-key residuals still block."""
    views = {"vstar": "SELECT * FROM lineitem WHERE l_linenumber >= 2"}
    ok = try_rewrite(
        "SELECT l_returnflag, count(*) AS cnt FROM vstar "
        "WHERE l_linestatus = 'O' GROUP BY l_returnflag",
        [("m", VIEW_MV)], views=views,
    )
    assert ok is not None and "l_linestatus = 'O'" in ok
    blocked = try_rewrite(
        "SELECT l_returnflag, count(*) AS cnt FROM vstar "
        "WHERE l_quantity > 5 GROUP BY l_returnflag",
        [("m", VIEW_MV)], views=views,
    )
    assert blocked is None


def test_view_expansion_fails_closed():
    """Unexpandable views (rollup body, expressions, DISTINCT) and
    view-over-view chains do NOT rewrite; a FROM that is not a view is
    untouched."""
    cases = {
        "vgroup": "SELECT l_returnflag, count(*) AS n FROM lineitem "
                  "GROUP BY l_returnflag",
        "vexpr": "SELECT l_quantity + 1 AS qq, l_returnflag FROM lineitem",
        "vdist": "SELECT DISTINCT l_returnflag FROM lineitem",
    }
    for name, vsql in cases.items():
        out = try_rewrite(
            f"SELECT l_returnflag, count(*) AS cnt FROM {name} GROUP BY l_returnflag",
            [("m", VIEW_MV)], views={name: vsql},
        )
        assert out is None, name
    # view over view: fail closed
    views = {
        "v1": "SELECT * FROM lineitem WHERE l_linenumber >= 2",
        "v2": "SELECT * FROM v1",
    }
    assert try_rewrite(
        "SELECT l_returnflag, count(*) AS cnt FROM v2 GROUP BY l_returnflag",
        [("m", VIEW_MV)], views=views,
    ) is None
    # non-view FROM: behavior identical to views=None
    direct = ("SELECT l_returnflag, count(*) AS cnt FROM lineitem "
              "WHERE l_linenumber >= 2 GROUP BY l_returnflag")
    assert try_rewrite(direct, [("m", VIEW_MV)], views=views) == try_rewrite(
        direct, [("m", VIEW_MV)]
    )


def test_view_expansion_literal_safety():
    """View-output names inside string literals never substitute."""
    views = {
        "v": "SELECT l_returnflag AS rf, l_quantity FROM lineitem "
             "WHERE l_linenumber >= 2"
    }
    user = ("SELECT rf, count(*) AS cnt FROM v WHERE rf <> 'rf x' GROUP BY rf")
    out = try_rewrite(user, [("m", VIEW_MV)], views=views)
    assert out is not None and "'rf x'" in out


# -- round-7 breadth: expression canon, OR containment, string ranges --------

def test_expression_normalized_matching():
    """Lexical canon: spacing, case, backticks and count(1)/count(*)
    differences no longer block the match; genuine expression
    differences still fail closed."""
    mv = """SELECT l_returnflag, sum(l_quantity + 1) AS s1, count(*) AS n
            FROM lineitem GROUP BY l_returnflag"""
    u = """SELECT l_returnflag, SUM(`l_quantity`+1) AS s1, COUNT(1) AS n
           FROM lineitem GROUP BY l_returnflag"""
    out = try_rewrite(u, [("m", mv)])
    assert out is not None and "sum(s1)" in out and "sum(n)" in out
    # different expression (reordered operands) fails closed — no algebra
    u2 = """SELECT l_returnflag, sum(1 + l_quantity) AS s1
            FROM lineitem GROUP BY l_returnflag"""
    assert try_rewrite(u2, [("m", mv)]) is None


def test_where_operator_spacing_matches():
    mv = """SELECT l_returnflag, count(*) AS n FROM lineitem
            WHERE l_linenumber>=2 GROUP BY l_returnflag"""
    u = """SELECT l_returnflag, count(*) AS n FROM lineitem
           WHERE l_linenumber >= 2 GROUP BY l_returnflag"""
    assert try_rewrite(u, [("m", mv)]) is not None


def test_or_containment_on_group_key():
    """(k = a OR k = b) implies the MV's covering range; the OR itself
    re-applies as a key-only residual over the MV scan."""
    mv = "SELECT pt, sum(v) AS sv FROM t WHERE pt >= '2024-01' GROUP BY pt"
    u = ("SELECT pt, sum(v) AS sv FROM t "
         "WHERE (pt = '2024-03' OR pt = '2024-04') GROUP BY pt")
    out = try_rewrite(u, [("m", mv)])
    assert out is not None and "FROM m" in out and "'2024-03'" in out
    # a disjunct OUTSIDE the MV's range blocks the rewrite
    u_bad = ("SELECT pt, sum(v) AS sv FROM t "
             "WHERE (pt = '2023-12' OR pt = '2024-04') GROUP BY pt")
    assert try_rewrite(u_bad, [("m", mv)]) is None


def test_mv_side_or_predicate():
    """User conjunct implying ONE disjunct of an MV-side OR rewrites
    (x > 9 ⇒ (x < 3 OR x > 7)) when the residual is key-only."""
    mv = ("SELECT l_linenumber, count(*) AS n FROM lineitem "
          "WHERE (l_linenumber < 2 OR l_linenumber > 4) "
          "GROUP BY l_linenumber")
    u = ("SELECT l_linenumber, count(*) AS n FROM lineitem "
         "WHERE l_linenumber > 5 GROUP BY l_linenumber")
    out = try_rewrite(u, [("m", mv)])
    assert out is not None and "l_linenumber > 5" in out
    # sits between the disjuncts: NOT stored in the MV — fail closed
    u_bad = ("SELECT l_linenumber, count(*) AS n FROM lineitem "
             "WHERE l_linenumber = 3 GROUP BY l_linenumber")
    assert try_rewrite(u_bad, [("m", mv)]) is None


def test_string_range_implication():
    from dbt_maxcompute_spark.plans.mv_rewrite import _implies

    assert _implies("pt = '2024-03-01'", "pt >= '2024-01-01'")
    assert _implies("pt > '2024-06'", "pt >= '2024-01'")
    assert _implies("pt <= '2023-06'", "pt < '2024-01'")
    assert not _implies("pt = '2023-12-31'", "pt >= '2024-01-01'")
    assert not _implies("pt >= '2024-01'", "pt >= '2024-02'")


def test_or_rewrite_values_match_base(spark, tmp_path, sf_dir):
    """The OR-containment rewrite returns the same VALUES as base-table
    execution, and the plan reads the MV, not the base."""
    cat = EngineCatalog(spark, str(tmp_path / "wh_or"))
    cat.create_table("lineitem", load_table(spark, sf_dir, "lineitem"))
    create_materialized_view(
        cat, "mvo",
        """SELECT l_linenumber, count(*) AS n,
                  CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
           FROM lineitem WHERE l_linenumber >= 1 GROUP BY l_linenumber""",
    )
    user = """
    SELECT l_linenumber, count(*) AS n,
           CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS qty
    FROM lineitem WHERE (l_linenumber = 2 OR l_linenumber > 4)
    GROUP BY l_linenumber
    """
    got = cat.sql(user)
    files = "\n".join(got.inputFiles())
    assert "mvo" in files and "lineitem" not in files
    want = cat.sql(user, mv_rewrite=False).collect()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))


def test_join_mv_from_text_canonical():
    """A join-MV matches a user query whose FROM tree differs only in
    spacing/case around the ON predicate; a different join tree still
    fails closed."""
    mv = ("SELECT c_mktsegment, count(*) AS n "
          "FROM orders JOIN customer ON o_custkey = c_custkey "
          "GROUP BY c_mktsegment")
    u = ("SELECT c_mktsegment, count(*) AS n "
         "FROM orders join customer on o_custkey=c_custkey "
         "GROUP BY c_mktsegment")
    assert try_rewrite(u, [("m", mv)]) is not None
    u_other = ("SELECT c_mktsegment, count(*) AS n "
               "FROM orders JOIN customer ON o_custkey = c_nationkey "
               "GROUP BY c_mktsegment")
    assert try_rewrite(u_other, [("m", mv)]) is None


@pytest.fixture()
def quote_cat(spark, tmp_path):
    cat = EngineCatalog(spark, str(tmp_path / "wh_quotes"))
    cat.create_table(
        "qt",
        spark.createDataFrame(
            [(1, "R", 10.0), (2, "r", 1.0), (3, "it's", 5.0), (4, "its", 7.0)],
            "k int, c string, v double",
        ),
    )
    return cat


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_double_quoted_literal_keeps_its_case(spark, quote_cat):
    """"R" and "r" are different string literals: an MV filtered on
    one must not exact-text match a query filtered on the other."""
    create_materialized_view(
        quote_cat, "mv_upper", 'SELECT k, sum(v) AS s FROM qt WHERE c = "R" GROUP BY k'
    )
    q = 'SELECT k, sum(v) AS s FROM qt WHERE c = "r" GROUP BY k'
    assert _rows(quote_cat.sql(q)) == _rows(quote_cat.sql(q, mv_rewrite=False))


def test_container_rewrite_emits_doubled_quote_literal(spark, quote_cat):
    """A residual ``c = 'it''s'`` re-applies over the MV as ONE literal
    (split in two, Spark would concatenate it to 'its')."""
    create_materialized_view(
        quote_cat, "mv_ck", "SELECT c, k, sum(v) AS s FROM qt GROUP BY c, k"
    )
    q = "SELECT c, sum(v) AS s FROM qt WHERE c = 'it''s' GROUP BY c"
    got = quote_cat.sql(q)
    assert "mv_ck" in "\n".join(got.inputFiles())
    assert _rows(got) == _rows(quote_cat.sql(q, mv_rewrite=False)) == [("it's", 5.0)]
