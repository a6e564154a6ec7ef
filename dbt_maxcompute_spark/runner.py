"""Model runner — the dbt-shaped surface of the engine.

One call per model: a config dict (the adapter's ``config(...)``
values, reference ``impl.py:47-54`` MaxComputeConfig + materialization
macros) plus the model itself (a DataFrame or a SQL string), dispatched
to the matching materialization:

    run_model(catalog, {"name": "t", "materialized": "table"}, df)

Materializations (reference §2.2): table, view, incremental, snapshot,
materialized_view, seed, clone, raw, ephemeral. Unknown keys raise —
config typos should not silently no-op.

Round 9 (reference parity, the last substantive surface):

- ``pre_hook`` / ``post_hook`` — arbitrary SQL run before/after the
  materialization through :meth:`EngineCatalog.execute_script`
  (reference ``macros/materializations/hooks.sql:1-10`` runs each
  rendered hook as its own statement; exercised by
  ``tests/functional/adapter/test_hooks.py``). A hook is a SQL string,
  a ``{"sql": ...}`` dict, or a list of either; hooks run in order,
  and a failing pre-hook aborts the materialization.
- ``sql_header`` / ``sql_hints`` — merged into a ``set k=v;`` preamble
  (reference ``macros/relations/table/create.sql:122-133``
  ``merge_sql_hints_and_header``; tested by
  ``tests/functional/maxcompute/test_sql_header.py``) whose settings
  apply as session confs SCOPED to the materialization (the Spark
  analog of per-statement hints — ``plans/settings.py``), covering the
  model query's planning AND its write jobs. Hooks run OUTSIDE the
  header scope, matching the reference where the header is part of the
  create script, not the hook statements.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from dbt_maxcompute_spark.catalog import EngineCatalog
from dbt_maxcompute_spark.materializations.incremental import run_incremental
from dbt_maxcompute_spark.materializations.materialized_view import (
    apply_materialized_view,
)
from dbt_maxcompute_spark.materializations.raw import run_raw
from dbt_maxcompute_spark.materializations.snapshot import run_snapshot
from dbt_maxcompute_spark.sources.seeds import load_seed
from dbt_maxcompute_spark.localframe import local_frame

MATERIALIZATIONS = (
    "table",
    "view",
    "incremental",
    "snapshot",
    "materialized_view",
    "seed",
    "clone",
    "raw",
    "ephemeral",
)

_TABLE_OPTS = (
    "partition_by",
    "auto_partition",
    "primary_keys",
    "transactional",
    "bucket_num",
    "lifecycle",
    "tblproperties",
    "comment",
    "contract",
)


def _as_df(catalog: EngineCatalog, model: DataFrame | str) -> DataFrame:
    return catalog.sql(model) if isinstance(model, str) else model


def _hook_list(value: Any, key: str) -> list[str]:
    """Normalize a hook config value to a list of SQL strings. dbt's
    shapes: a string, a ``{"sql": ..., "transaction": ...}`` dict, or a
    list of either (hooks.sql iterates; the transaction flag is inert
    here — there is no warehouse transaction to be inside of)."""
    if value is None:
        return []
    items = value if isinstance(value, (list, tuple)) else [value]
    out: list[str] = []
    for h in items:
        sql = h.get("sql") if isinstance(h, dict) else h
        if not isinstance(sql, str) or not sql.strip():
            raise ValueError(
                f"{key}: each hook must be a SQL string or {{'sql': ...}}, got {h!r}"
            )
        out.append(sql)
    return out


def _header_confs(sql_hints: Any, sql_header: Any) -> dict[str, str]:
    """Merge ``sql_hints`` (dict) and ``sql_header`` (SET-statement
    script) into one applicable-conf dict, the engine counterpart of
    the reference's ``merge_sql_hints_and_header`` macro (each hint
    becomes ``set k=v;``, the header text follows, and the combined
    preamble is what the warehouse sees). Non-SET content in the
    header raises — fail loud, not silently-dropped."""
    from dbt_maxcompute_spark.plans.settings import (
        parse_set_preamble,
        split_hints,
    )

    parts: list[str] = []
    if sql_hints:
        if not isinstance(sql_hints, dict):
            raise ValueError("sql_hints must be a dict of hint key -> value")
        parts.extend(f"set {k}={v};" for k, v in sql_hints.items())
    if sql_header:
        if not isinstance(sql_header, str):
            raise ValueError("sql_header must be a SQL string")
        parts.append(sql_header)
    if not parts:
        return {}
    parsed = parse_set_preamble("\n".join(parts))
    if parsed.errors:
        raise ValueError(f"sql_header hint errors: {parsed.errors}")
    if parsed.remaining_query.strip():
        raise ValueError(
            "sql_header must contain only 'set k=v;' statements; found "
            f"{parsed.remaining_query.strip()[:80]!r}"
        )
    apply, _record = split_hints(parsed.settings)
    return apply


def run_model(
    catalog: EngineCatalog,
    config: dict[str, Any],
    model: DataFrame | str | None = None,
    empty: bool = False,
) -> Any:
    """Materialize one model. Returns the materialization's result
    (action string, DataFrame for ephemeral/raw, TableMeta for
    table/view).

    ``empty=True`` is dbt's ``--empty`` build (round-10; reference
    ``tests/functional/adapter/test_empty.py`` BaseTestEmpty /
    BaseTestEmptyInlineSourceRef): the schema-only dry run a CI user
    runs to validate the DAG + contracts without paying for data.
    dbt-core wraps every ref/source in ``limit 0``; the engine
    equivalent wraps the compiled model itself — Catalyst's
    PropagateEmptyRelation folds ``LIMIT 0`` to an empty relation, so
    no source data is scanned and the write is schema-only. Hooks and
    the header preamble still run (they are part of the build
    contract); views are unaffected (a view stores SQL, not data)."""
    cfg = dict(config)
    name = cfg.pop("name")
    mat = cfg.pop("materialized", "view")
    if mat not in MATERIALIZATIONS:
        raise ValueError(f"unknown materialization {mat!r} (have {MATERIALIZATIONS})")
    pre_hooks = _hook_list(cfg.pop("pre_hook", None), "pre_hook")
    post_hooks = _hook_list(cfg.pop("post_hook", None), "post_hook")
    header = _header_confs(cfg.pop("sql_hints", None), cfg.pop("sql_header", None))

    from dbt_maxcompute_spark.plans.settings import scoped_confs

    for hook in pre_hooks:
        catalog.execute_script(hook)
    with scoped_confs(catalog.spark, header):
        result = _dispatch(catalog, name, mat, cfg, model, empty=empty)
    for hook in post_hooks:
        catalog.execute_script(hook)
    return result


def _dispatch(
    catalog: EngineCatalog,
    name: str,
    mat: str,
    cfg: dict[str, Any],
    model: DataFrame | str | None,
    empty: bool = False,
) -> Any:
    def _model_df() -> DataFrame:
        df = _as_df(catalog, model)
        # --empty: limit 0 over the compiled model — schema, contracts
        # and the write path all run; data never does
        return df.limit(0) if empty else df

    if mat == "table":
        opts = {k: cfg.pop(k) for k in list(cfg) if k in _TABLE_OPTS}
        _reject_extra(cfg)
        return catalog.create_table(name, _model_df(), mode="overwrite", **opts)

    if mat == "view":
        if not isinstance(model, str):
            raise ValueError("view materialization requires a SQL-string model")
        comment = cfg.pop("comment", None)
        _reject_extra(cfg)
        return catalog.create_view(name, model, comment=comment)

    if mat == "incremental":
        return run_incremental(catalog, name, _model_df(), **cfg)

    if mat == "snapshot":
        return run_snapshot(catalog, name, _model_df(), **cfg)

    if mat == "materialized_view":
        if not isinstance(model, str):
            raise ValueError("materialized_view requires a SQL-string model")
        return apply_materialized_view(catalog, name, model, **cfg)

    if mat == "seed":
        csv_path = cfg.pop("csv_path")
        return load_seed(catalog, name, csv_path, **cfg)

    if mat == "clone":
        src = cfg.pop("source")
        _reject_extra(cfg)
        catalog.clone(src, name)
        return "clone"

    if mat == "raw":
        if not isinstance(model, str):
            raise ValueError("raw materialization requires a SQL-string model")
        _reject_extra(cfg)
        df, hints, errors = run_raw(catalog.spark, model)
        if errors:
            raise ValueError(f"raw script hint errors: {errors}")
        return df

    # ephemeral: never materialized, composed downstream (reference
    # relation.py:25-26 — CTE inlining is dbt-core's job; ours is the
    # lazy DataFrame itself)
    _reject_extra(cfg)
    return _model_df()


def show_model(
    catalog: EngineCatalog,
    model: str,
    limit: int | None = 5,
    sql_header: str | None = None,
    sql_hints: dict[str, str] | None = None,
) -> list:
    """``dbt show`` — the interactive row-preview surface (reference
    `tests/functional/adapter/test_dbt_show.py`: BaseShowSqlHeader,
    BaseShowLimit, BaseShowDoesNotHandleDoubleLimit). dbt-core wraps
    the compiled model as ``select * from (<sql>) as model_limit_subq
    limit <n>``; this reproduces that wrapper over the engine catalog,
    with the model's ``sql_header``/``sql_hints`` applied as scoped
    confs around the (eager) preview read.

    ``limit=None`` or ``-1`` previews without a LIMIT (dbt's
    ``--limit -1``). DELIBERATE divergence from the reference: a model
    whose text already ends in LIMIT nests fine here (Spark composes
    limits) where MaxCompute errors with ODPS-0130161 — the error was
    an engine limitation, not a contract; the reference test pins the
    error message only because the engine cannot do better.
    """
    if not isinstance(model, str):
        raise ValueError("show_model requires a SQL-string model")
    from dbt_maxcompute_spark.plans.settings import scoped_confs

    sql = model.strip().rstrip(";")
    if limit is not None and limit >= 0:
        sql = f"select * from ({sql}) as model_limit_subq limit {int(limit)}"
    header = _header_confs(sql_hints, sql_header)
    with scoped_confs(catalog.spark, header):
        return catalog.sql(sql).collect()


def run_test(
    catalog: EngineCatalog,
    name: str,
    model: DataFrame | str,
    store_failures: bool = False,
    audit_schema: str = "dbt_test__audit",
    limit: int | None = None,
    severity: str = "error",
    warn_if: str = ">0",
    error_if: str = ">0",
) -> dict[str, Any]:
    """``dbt test`` — run a test query and report its FAILING rows
    (round-10; reference ``tests/functional/adapter/
    test_store_test_failures.py`` BaseStoreTestFailures). A dbt test
    is a SELECT whose rows are violations: zero rows = pass.

    ``store_failures=True`` additionally CTAS-es the failing rows into
    an audit table ``<audit_schema>.<name>`` (dbt's
    ``<schema>_dbt_test__audit`` shape), REPLACED on every run so the
    audit always reflects the latest invocation; the audit relation
    name is returned so callers can inspect it. The failure count is
    read from the stored table's meta when storing (no second pass
    over the test query) and from one count job otherwise. ``limit``
    caps stored rows (dbt's ``--store-failures --limit``); the
    reported count is the capped count, matching dbt.

    ``severity``/``warn_if``/``error_if`` are dbt's test-config
    thresholds: with ``severity="error"`` (default) the test FAILS when
    ``error_if`` holds against the failure count and WARNS when only
    ``warn_if`` does; ``severity="warn"`` never fails — it warns when
    ``warn_if`` holds. Expressions are dbt's comparison strings
    (``">0"``, ``">= 10"``, ``"!=0"``).

    Returns ``{"name", "status" ("pass"/"warn"/"fail"), "failures",
    "relation" (audit table name or None)}``."""
    if severity not in ("error", "warn"):
        raise ValueError(f"severity must be 'error' or 'warn', got {severity!r}")
    df = _as_df(catalog, model)
    if limit is not None:
        df = df.limit(int(limit))
    relation = None
    if store_failures:
        catalog.create_schema(audit_schema)
        relation = f"{audit_schema}.{name}"
        catalog.create_table(relation, df, mode="overwrite")
        # count from the STORED relation: one metadata-cheap parquet
        # count, and the reported number always matches the audit rows
        failures = int(catalog.read(relation).count())
    else:
        failures = int(df.count())
    if severity == "error" and _eval_threshold(error_if, failures):
        status = "fail"
    elif _eval_threshold(warn_if, failures):
        status = "warn"
    else:
        status = "pass"
    return {
        "name": name,
        "status": status,
        "failures": failures,
        "relation": relation,
    }


def _eval_threshold(expr: str, n: int) -> bool:
    """Evaluate a dbt test threshold (``error_if``/``warn_if``) like
    ``">0"``, ``">= 10"``, ``"!=0"`` against a failure count."""
    import re

    m = re.fullmatch(r"\s*(>=|<=|!=|>|<|=)\s*(\d+)\s*", expr)
    if not m:
        raise ValueError(f"unsupported threshold expression {expr!r}")
    op, k = m.group(1), int(m.group(2))
    return {
        ">": n > k, ">=": n >= k, "<": n < k,
        "<=": n <= k, "=": n == k, "!=": n != k,
    }[op]


def run_unit_test(
    catalog: EngineCatalog,
    name: str,
    model: str,
    given: dict[str, Any],
    expect: Any,
) -> dict[str, Any]:
    """dbt UNIT TEST (round-10; reference
    ``tests/functional/adapter/test_unit_testings.py`` — dbt-core's
    BaseUnitTestCase): run a SQL model against FIXTURE inputs instead
    of the real refs and compare the result to expected rows.

    ``given`` maps each referenced relation name (bare names — dbt refs
    are model names) to fixture rows: a DataFrame, or a list of dicts
    in dbt's ``format: dict`` shape. Dict fixtures may specify a SUBSET
    of the relation's columns — when the relation exists in the
    catalog, missing columns backfill NULL and values cast to the
    relation's types (dbt's fixture coercion); an empty list is an
    empty fixture with the relation's schema. Fixtures shadow the refs
    via a WITH prologue: CTE names take precedence over
    temp-view/catalog resolution in Spark's analyzer, so the model SQL
    runs UNCHANGED — no rewriting of its references, no catalog
    mutation, and relations not in ``given`` still resolve normally.

    ``expect`` is a list of dicts or a DataFrame; comparison is
    order-insensitive on the full multiset with expected values cast to
    the actual output types by column name.

    Returns ``{"name", "status" ("pass"/"fail"), "actual_rows",
    "expected_rows", "mismatches"}`` — mismatches lists up to 5
    (row, direction) examples on failure."""
    import re

    from pyspark.sql import functions as F

    spark = catalog.spark
    if not isinstance(model, str):
        raise ValueError("run_unit_test requires a SQL-string model")

    def _fixture_df(ref: str, rows: Any) -> DataFrame:
        if isinstance(rows, DataFrame):
            return rows
        target = catalog.read(ref).schema if catalog.exists(ref) else None
        if target is None:
            if not rows:
                raise ValueError(
                    f"fixture for unknown relation {ref!r} needs at least one "
                    "row (or pass a DataFrame) — there is no schema to borrow"
                )
            return spark.createDataFrame([dict(r) for r in rows])
        if not rows:
            return local_frame(spark, [], target)
        keys = {k for r in rows for k in r}
        unknown = keys - {f.name for f in target}
        if unknown:
            raise ValueError(
                f"fixture for {ref!r} names columns {sorted(unknown)} that "
                "the relation does not have"
            )
        # dbt's coercion: build from the given columns as strings,
        # cast to the relation's types, NULL-backfill the rest
        ordered = sorted(keys)
        data = [
            tuple(str(r.get(k)) if r.get(k) is not None else None for k in ordered)
            for r in rows
        ]
        raw = local_frame(
            spark, data, ", ".join(f"`{k}` string" for k in ordered)
        )
        cols = []
        for f in target:
            if f.name in keys:
                cols.append(F.col(f"`{f.name}`").cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return raw.select(*cols)

    ctes = []
    for i, (ref, rows) in enumerate(given.items()):
        if not re.fullmatch(r"[A-Za-z_]\w*", ref):
            raise ValueError(
                f"given fixture {ref!r}: unit-test refs are bare model "
                "names (a CTE cannot shadow a qualified name)"
            )
        view = f"__ut_{i}_{ref}"
        _fixture_df(ref, rows).createOrReplaceTempView(view)
        ctes.append(f"{ref} AS (SELECT * FROM {view})")

    m = model.strip().rstrip(";")
    if ctes:
        # the WITH detection must see past leading comments (models
        # routinely open with a `-- description` header or a /* block
        # */): splicing the prologue BEFORE a comment that precedes the
        # model's own WITH would otherwise produce `WITH f AS (...)
        # -- header\nWITH ...` — invalid SQL (round-11 advisory)
        lead = re.match(r"(?s)^(?:\s|--[^\n]*\n|/\*.*?\*/)*", m).end()
        head, body0 = m[:lead], m[lead:]
        prologue = ", ".join(ctes)
        mw = re.match(r"(?i)^WITH\b(\s+RECURSIVE\b)?", body0)
        if mw:
            # RECURSIVE must stay immediately after WITH; fixture CTEs
            # are non-recursive, so hoisting the keyword is sound
            kw = "WITH RECURSIVE" if mw.group(1) else "WITH"
            rest = body0[mw.end():]
            sql = f"{head}{kw} {prologue}, {rest}"
        else:
            sql = f"{head}WITH {prologue} {body0}"
    else:
        sql = m
    actual = catalog.sql(sql, mv_rewrite=False)

    if isinstance(expect, DataFrame):
        expected = expect
    else:
        cols = actual.columns
        data = [
            tuple(str(r.get(c)) if r.get(c) is not None else None for c in cols)
            for r in expect
        ]
        raw = local_frame(
            spark, data, ", ".join(f"`{c}` string" for c in cols)
        )
        expected = raw.select(
            *[
                F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
                for f in actual.schema.fields
            ]
        )

    a_rows = sorted(map(tuple, actual.collect()))
    e_rows = sorted(map(tuple, expected.collect()))
    mismatches: list[tuple] = []
    if a_rows != e_rows:
        from collections import Counter

        ca, ce = Counter(a_rows), Counter(e_rows)
        for row in (ca - ce):
            mismatches.append((row, "actual_only"))
        for row in (ce - ca):
            mismatches.append((row, "expected_only"))
    return {
        "name": name,
        "status": "pass" if not mismatches else "fail",
        "actual_rows": len(a_rows),
        "expected_rows": len(e_rows),
        "mismatches": mismatches[:5],
    }


def _reject_extra(cfg: dict[str, Any]) -> None:
    if cfg:
        raise ValueError(f"unsupported config keys: {sorted(cfg)}")
