"""Raw-SQL materialization: run an arbitrary multi-statement script.

Reference parity: ``materialized='raw'`` submits a user script with
hint extraction and script-mode execution
(`/root/reference/dbt/include/maxcompute/macros/materializations/raw.sql:1-6`,
`/root/reference/dbt/adapters/maxcompute/impl.py:588-627`). Here the
script's SET preamble becomes scoped Spark confs, the rest is split on
semicolons outside literals and comments (``sqltext``) and executed
statement by statement via ``spark.sql``; the last statement's DataFrame is
returned (lazy — no collect).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from dbt_maxcompute_spark.plans.settings import (
    parse_set_preamble,
    scoped_confs,
    split_hints,
)
from dbt_maxcompute_spark.plans.sqltext import split_statements


def render_query_comment(meta: "dict | str | None") -> str:
    """dbt's query-comment block rendered as a SQL block comment
    (reference tests/functional/adapter/test_query_comment.py — dbt-core
    prepends `/* {json} */` with app/dbt_version/node_id). Dict metadata
    is JSON-encoded; `*/` inside the payload is defanged so it cannot
    terminate the comment early."""
    import json

    if not meta:
        return ""
    body = meta if isinstance(meta, str) else json.dumps(meta, sort_keys=True)
    return "/* " + body.replace("*/", "* /") + " */"


def inject_query_comment(
    sql: str, meta: "dict | str | None", append: bool = False
) -> str:
    """Prepend (default) or append the rendered comment to one
    statement — dbt's `query-comment: {comment: ..., append: ...}`."""
    comment = render_query_comment(meta)
    if not comment:
        return sql
    return f"{sql}\n{comment}" if append else f"{comment}\n{sql}"


def run_script(
    spark: SparkSession,
    execute: Callable[[str], "DataFrame | None"],
    script: str,
    query_comment: "dict | str | None" = None,
    comment_append: bool = False,
) -> tuple[DataFrame | None, dict[str, str], list[str]]:
    """The script loop: the SET preamble becomes scoped confs, each
    statement gets the query comment and goes to ``execute``. Returns
    (last statement's result or None for an empty script, recorded
    inert hints, parse errors)."""
    parsed = parse_set_preamble(script)
    apply, record = split_hints(parsed.settings)
    last = None
    with scoped_confs(spark, apply):
        for stmt in split_statements(parsed.remaining_query):
            last = execute(inject_query_comment(stmt, query_comment, comment_append))
    return last, record, parsed.errors


def run_raw(
    spark: SparkSession,
    script: str,
    query_comment: "dict | str | None" = None,
    comment_append: bool = False,
) -> tuple[DataFrame | None, dict[str, str], list[str]]:
    """Execute a raw script statement by statement via ``spark.sql``
    (see :func:`run_script`). `query_comment` is injected into every
    executed statement (the statement splitter and Spark's parser both
    tolerate it — the reference's query-comment contract)."""
    return run_script(spark, spark.sql, script, query_comment, comment_append)
