"""Snapshot (SCD Type-2) materialization.

Re-expresses the reference's snapshot path
(`/root/reference/dbt/include/maxcompute/macros/materializations/
snapshots/snapshot.sql`):

- scd_id hashing via `snapshot_hash_arguments` (snapshot.sql:2-7):
  md5 of pipe-joined coalesced string casts.
- `timestamp` strategy (compare updated_at) and `check` strategy
  (compare a column list), per dbt-core semantics (tested in the
  reference at tests/functional/adapter/test_basic.py:73-88).
- `invalidate_hard_deletes` closes out rows whose key vanished from
  the source (showcase examples/.../snapshots/orders_cdc.sql:8).
- staging = insertions ∪ updates ∪ deletes, then an SCD2 MERGE
  (snapshot.sql:51-74) — here: one join computing close-outs + a
  union of new versions, written back as a rewrite (the reference
  requires `transactional=true` targets for the same reason:
  row-level updates need a table format or a rewrite).
- missing-column expansion: new source columns are added to the
  target in one pass (snapshot.sql:38-48 batch ADD COLUMNS).

Meta columns: dbt_scd_id, dbt_updated_at, dbt_valid_from,
dbt_valid_to (dbt-core standard set).

Scale: one shuffle join per run (open rows vs source on unique_key)
plus the rewrite. Partition snapshot targets by a date column if they
grow large; close-outs touch only open rows by construction.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_maxcompute_spark.catalog import EngineCatalog
from dbt_maxcompute_spark.functions.scalar import snapshot_hash_arguments

META_COLS = ("dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")


def _keys(unique_key) -> list[str]:
    return [unique_key] if isinstance(unique_key, str) else list(unique_key)


def _with_meta(
    df: DataFrame, keys: list[str], updated_at_col: Column
) -> DataFrame:
    scd_id = snapshot_hash_arguments([F.col(k) for k in keys] + [updated_at_col])
    return (
        df.withColumn("dbt_updated_at", updated_at_col)
        .withColumn("dbt_scd_id", scd_id)
        .withColumn("dbt_valid_from", updated_at_col)
        .withColumn("dbt_valid_to", F.lit(None).cast("timestamp"))
    )


def run_snapshot(
    catalog: EngineCatalog,
    name: str,
    source: DataFrame,
    unique_key,
    strategy: str = "timestamp",
    updated_at: str | None = None,
    check_cols: list[str] | str = "all",
    invalidate_hard_deletes: bool = False,
    snapshot_ts: datetime.datetime | None = None,
) -> str:
    """Run one snapshot pass; returns 'create' or 'merge'."""
    if strategy not in ("timestamp", "check"):
        raise ValueError(f"unknown snapshot strategy {strategy!r}")
    if strategy == "timestamp" and not updated_at:
        raise ValueError("timestamp strategy requires updated_at")
    keys = _keys(unique_key)
    now = snapshot_ts or datetime.datetime.utcnow()

    if strategy == "timestamp":
        upd_col = F.col(updated_at)
    else:
        upd_col = F.lit(now).cast("timestamp")

    if not catalog.is_table(name):
        first = _with_meta(source, keys, upd_col)
        catalog.create_table(
            name, first, transactional=True, primary_keys=["dbt_scd_id"], mode="overwrite"
        )
        return "create"

    tgt = catalog.read(name)

    # column expansion: new source columns appear in the target as NULLs
    new_cols = [c for c in source.columns if c not in tgt.columns]
    if new_cols:
        catalog.add_remove_columns(
            name, add={c: source.schema[c].dataType.simpleString() for c in new_cols}
        )
        tgt = catalog.read(name)

    open_rows = tgt.filter(F.col("dbt_valid_to").isNull()).select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col("dbt_scd_id").alias("__open_scd_id"),
        F.col("dbt_updated_at").alias("__open_updated_at"),
        *[
            F.col(c).alias(f"__open_{c}")
            for c in (
                _check_list(check_cols, source, keys) if strategy == "check" else []
            )
        ],
    )
    src = _with_meta(source, keys, upd_col)

    cond = None
    for k in keys:
        c = src[k] == open_rows[f"__k_{k}"]
        cond = c if cond is None else cond & c
    j = src.join(open_rows, cond, "left")

    matched = F.col("__open_scd_id").isNotNull()
    if strategy == "timestamp":
        changed = matched & (F.col("dbt_updated_at") > F.col("__open_updated_at"))
    else:
        diff = F.lit(False)
        for c in _check_list(check_cols, source, keys):
            diff = diff | ~F.col(c).eqNullSafe(F.col(f"__open_{c}"))
        changed = matched & diff

    # new versions to insert: brand-new keys or changed rows
    inserts = j.filter(~matched | changed).select(*src.columns)
    # close-outs: (scd_id -> new valid_to) for changed rows
    closeouts = j.filter(changed).select(
        F.col("__open_scd_id").alias("dbt_scd_id"),
        F.col("dbt_updated_at").alias("__new_valid_to"),
    )
    if invalidate_hard_deletes:
        gone = open_rows.join(
            source.select(*[F.col(k).alias(f"__s_{k}") for k in keys]),
            [F.col(f"__k_{k}") == F.col(f"__s_{k}") for k in keys],
            "left_anti",
        ).select(
            F.col("__open_scd_id").alias("dbt_scd_id"),
            F.lit(now).cast("timestamp").alias("__new_valid_to"),
        )
        closeouts = closeouts.unionByName(gone)

    updated_tgt = (
        tgt.join(closeouts, "dbt_scd_id", "left")
        .withColumn("dbt_valid_to", F.coalesce("dbt_valid_to", "__new_valid_to"))
        .drop("__new_valid_to")
    )
    result = updated_tgt.unionByName(inserts.select(*updated_tgt.columns))

    meta = catalog.meta(name)
    if meta.transactional:
        # the SCD2 merge is one log commit: data files are immutable, so
        # the (lazy) result plan can read the current snapshot while the
        # new files stage — no stage-and-swap needed, and every snapshot
        # run is a time-travelable version
        catalog.txn(name).overwrite(result)
    else:
        catalog.replace(name, result, meta)
    return "merge"


def _check_list(check_cols, source: DataFrame, keys: list[str]) -> list[str]:
    if check_cols == "all":
        return [c for c in source.columns if c not in keys]
    return list(check_cols)
