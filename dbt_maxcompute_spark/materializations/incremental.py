"""Incremental materialization — the strategy dispatch of the
reference (`/root/reference/dbt/include/maxcompute/macros/
materializations/incremental/incremental.sql:2-114`).

Declared strategies (reference impl.py:435-445): append, merge,
delete+insert, insert_overwrite, microbatch. Default merge
(incremental.sql:11). First run / full_refresh -> plain table build
(incremental.sql:54-63). `append` with a unique_key is a compile
error (incremental.sql:36-38); `merge` without one degenerates to
append (merge.sql:53-57).

The reference materializes the model SELECT into a temp table before
applying DML (incremental.sql:69-71) and drops it after
(incremental.sql:109-111, leak regression
test_incremental_temp_cleanup.py). Spark DataFrames are lazy plans, so
no temp table is needed — the staging write inside the DML planner
plays that role; nothing leaks by construction.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from dbt_maxcompute_spark.catalog import EngineCatalog
from dbt_maxcompute_spark.plans import dml

STRATEGIES = ("append", "merge", "delete+insert", "insert_overwrite", "microbatch")
SCHEMA_CHANGE_MODES = ("ignore", "append_new_columns", "sync_all_columns", "fail")


def apply_schema_change(
    catalog: EngineCatalog, name: str, model: DataFrame, mode: str = "ignore"
) -> DataFrame:
    """on_schema_change handling (reference macros/adapters/columns.sql:
    6-25 + dbt-core semantics; hint odps.sql.allow.schema.evolution is
    default-on here):

    - ignore: new source columns are dropped on insert; a *removed*
      source column fails at alignment (dbt behavior).
    - append_new_columns: target gains new source columns; removed
      target columns stay and NULL-fill for new rows.
    - sync_all_columns: target gains new and drops removed columns.
    - fail: any difference raises.

    Partition columns (incl. auto-generated ones) never count as
    removed. Returns the model, NULL-padded where needed.
    """
    if mode not in SCHEMA_CHANGE_MODES:
        raise ValueError(f"unknown on_schema_change mode {mode!r}")
    tgt = {f.name: f.dataType.simpleString() for f in catalog.read(name).schema.fields}
    src = {f.name: f.dataType.simpleString() for f in model.schema.fields}
    pt = set(catalog.meta(name).all_partition_cols())
    new = [c for c in src if c not in tgt]
    removed = [c for c in tgt if c not in src and c not in pt]
    if mode == "ignore" or (not new and not removed):
        return model
    if mode == "fail":
        raise ValueError(
            f"schema changed for {name}: new={new} removed={removed} (on_schema_change=fail)"
        )
    if mode == "append_new_columns":
        if new:
            catalog.add_remove_columns(name, add={c: src[c] for c in new})
        for c in removed:
            model = model.withColumn(c, F.lit(None).cast(tgt[c]))
        return model
    # sync_all_columns
    catalog.add_remove_columns(
        name, add={c: src[c] for c in new} or None, remove=removed or None
    )
    return model


def run_incremental(
    catalog: EngineCatalog,
    name: str,
    model: DataFrame,
    strategy: str = "merge",
    unique_key: list[str] | str | None = None,
    full_refresh: bool = False,
    incremental_predicates: list[str] | None = None,
    merge_update_columns: list[str] | None = None,
    merge_exclude_columns: list[str] | None = None,
    partitions: list[dict] | None = None,
    event_time: str | None = None,
    begin: Any = None,
    end: Any = None,
    batch_size: str = "day",
    on_schema_change: str = "ignore",
    **create_opts: Any,
) -> str:
    """Run one incremental build; returns the action taken."""
    if strategy not in STRATEGIES:
        raise ValueError(
            f"invalid incremental strategy {strategy!r} (reference impl.py:435-445)"
        )
    if strategy == "append" and unique_key:
        raise ValueError(
            "append strategy does not support unique_key (reference incremental.sql:36-38)"
        )
    if full_refresh or not catalog.is_table(name):
        catalog.create_table(name, model, mode="overwrite", **create_opts)
        return "create"

    model = apply_schema_change(catalog, name, model, on_schema_change)

    # Insert-time constraint enforcement (reference: the warehouse rejects
    # NULLs in NOT NULL columns on every insert, not just at create):
    # re-validate the incremental batch against the table's stored contract.
    meta = catalog.meta(name)
    if meta.contract:
        from dbt_maxcompute_spark import contracts as _contracts

        c = _contracts.ModelContract.parse(meta.contract)
        if c.enforced:
            _contracts.validate_not_null(
                model, [col for col in c.not_null_columns() if col in model.columns]
            )

    if strategy == "append":
        dml.append(catalog, name, model)
    elif strategy == "merge":
        if unique_key:
            dml.merge(
                catalog,
                name,
                model,
                unique_key,
                merge_update_columns=merge_update_columns,
                merge_exclude_columns=merge_exclude_columns,
                incremental_predicates=incremental_predicates,
            )
        else:
            dml.append(catalog, name, model)  # merge.sql:53-57
    elif strategy == "delete+insert":
        if not unique_key:
            raise ValueError("delete+insert requires unique_key")
        dml.delete_insert(
            catalog, name, model, unique_key, incremental_predicates=incremental_predicates
        )
    elif strategy == "insert_overwrite":
        dml.insert_overwrite(catalog, name, model, partitions=partitions)
    elif strategy == "microbatch":
        if event_time is None or begin is None or end is None:
            raise ValueError("microbatch requires event_time, begin, end")
        dml.microbatch(
            catalog, name, model, event_time, begin, end, batch_size=batch_size
        )
    return strategy
