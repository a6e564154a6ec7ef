"""Materialized view: managed table + stored defining query.

Spark has no native MV; the reference's MV surface
(`/root/reference/dbt/adapters/maxcompute/relation_configs/
_materialized_view.py:15-128`, `impl.py:112-158`) maps to:

- CREATE: run the defining query, store it + the MV config
  (lifecycle, build_deferred, disable_rewrite, partitioning,
  tblproperties) in table metadata. `build_deferred=True` creates
  the metadata with an empty table (reference `_materialized_view.py:21`).
- REFRESH (`ALTER MATERIALIZED VIEW ... REBUILD`,
  macros/relations/materialized_view/refresh.sql:2): re-run the
  stored query, INSERT OVERWRITE the table.
- on config change: diff stored vs new config — changes to the
  defining query or partitioning require a replace (built beside,
  swapped in); anything else is satisfiable by REBUILD
  (reference impl.py:112-158 returns RelationConfigChangeAction).

`disable_rewrite` gates the automatic query rewrite implemented in
plans/mv_rewrite.py: catalog.sql() answers exact-text and
container-rollup matches from the MV unless the flag is set
(reference `_materialized_view.py:24,116-117`).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame

from dbt_maxcompute_spark.catalog import EngineCatalog, TableMeta


def create_materialized_view(
    catalog: EngineCatalog,
    name: str,
    defining_sql: str,
    partition_by: list[str] | None = None,
    lifecycle: int | None = None,
    build_deferred: bool = False,
    disable_rewrite: bool = False,
    tblproperties: dict[str, str] | None = None,
    columns: dict[str, str] | None = None,
) -> None:
    """CREATE [OR REPLACE] MATERIALIZED VIEW: the rows and the MV
    sidecar stage together and swap in over whatever is at ``name``."""
    df = catalog.sql(defining_sql, mv_rewrite=False)
    if build_deferred:
        df = df.limit(0)
    cfg = _mv_config(
        partition_by, lifecycle, build_deferred, disable_rewrite, tblproperties, columns
    )
    meta = TableMeta(
        name=name,
        table_type="materialized_view",
        partition_by=cfg["partition_by"],
        lifecycle=lifecycle,
        tblproperties=cfg["tblproperties"],
        view_sql=defining_sql,
        mv_config={**cfg, "built_at": time.time()},
        schema_json=df.schema.json(),
        created_at=time.time(),
    )
    catalog.replace(name, df, meta)


def _mv_config(
    partition_by: list[str] | None = None,
    lifecycle: int | None = None,
    build_deferred: bool = False,
    disable_rewrite: bool = False,
    tblproperties: dict[str, str] | None = None,
    columns: dict[str, str] | None = None,
) -> dict[str, Any]:
    return dict(
        partition_by=list(partition_by or []), lifecycle=lifecycle,
        build_deferred=build_deferred, disable_rewrite=disable_rewrite,
        tblproperties=dict(tblproperties or {}), columns=dict(columns or {}),
    )


def refresh_materialized_view(catalog: EngineCatalog, name: str) -> None:
    """REBUILD: re-run the stored query, overwrite in place — the table
    identity (created_at) is preserved, mirroring the reference's
    creation_time-witnessed REBUILD (test_mv_configuration_changes.py)."""
    meta = catalog.meta(name)
    if meta.table_type != "materialized_view":
        raise ValueError(f"{name} is not a materialized view")
    _rebuild(catalog, name, meta)


def _rebuild(catalog: EngineCatalog, name: str, meta: TableMeta) -> None:
    """Re-run the stored query; the rows swap in with ``meta``, so a
    config change lands only with the rows built under it."""
    df = catalog.sql(meta.view_sql, mv_rewrite=False)
    meta.mv_config["built_at"] = time.time()
    catalog.replace(name, df, meta)


def merge_additive_rollup(
    old: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """Incremental (delta) maintenance for additive rollups: merge a
    delta-aggregate into the stored rollup instead of re-running the
    defining query over all history. At 100 TB this is the difference
    between a refresh that scans the new partition and one that scans
    the table — REBUILD (refresh_materialized_view) stays the fallback
    for non-additive definitions.

    Contract: ``old`` and ``delta`` share a schema of ``keys`` +
    additive measures — counts and DECIMAL sums. A rollup storing
    DOUBLE sums cannot be incrementally maintained (addition-order
    drift accumulates across refreshes); store decimal sums + counts
    and derive doubles/averages at read time. One shuffle, sized by
    |old| + |delta| — i.e. rollup-cardinality, not fact-table, rows."""
    measures = [c for c in old.columns if c not in keys]
    missing = [c for c in old.columns if c not in delta.columns]
    if missing:
        raise ValueError(f"delta rollup missing measure columns: {missing}")
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    for c in measures:
        if isinstance(old.schema[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"measure {c!r} is floating-point; additive maintenance "
                "requires exact (count/decimal) mergeable state"
            )
    merged = (
        old.unionByName(delta.select(old.columns))
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in measures])
    )
    # re-pin measure types: sum() widens decimal precision per merge,
    # which would drift the stored schema across refreshes
    return merged.select(
        *keys,
        *[F.col(c).cast(old.schema[c].dataType).alias(c) for c in measures],
    )


def rollup_delta_from_feed(
    feed: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    count_col: str = "n",
) -> DataFrame:
    """SIGNED delta-aggregate from a row-level change feed
    (``TxnTable.change_feed``): inserts contribute +value/+1, deletes
    -value/-1, so an update (its delete+insert pair) nets to the
    value difference. ``sums`` maps rollup measure name -> source
    column; sums accumulate as DECIMAL(28,6) (exact, mergeable — the
    same contract merge_additive_rollup enforces). One shuffle, sized
    by the CHANGES, never the base table."""
    from pyspark.sql import functions as F

    ins = F.col("_change_type") == "insert"
    return feed.groupBy(*keys).agg(
        *[
            F.sum(
                F.when(ins, F.col(src)).otherwise(-F.col(src)).cast("decimal(28,6)")
            )
            .cast("decimal(28,6)")
            .alias(name)
            for name, src in sums.items()
        ],
        F.sum(F.when(ins, F.lit(1)).otherwise(F.lit(-1))).cast("long").alias(count_col),
    )


def maintain_rollup_from_changes(
    old: DataFrame,
    feed: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    count_col: str = "n",
) -> DataFrame:
    """Incremental-view-maintenance step for a sum/count rollup from a
    change feed — the extension of merge_additive_rollup (append-only
    deltas) to UPDATE/DELETE history via TxnTable.change_feed.

    The maintained invariant: result == re-aggregating the source at
    the feed's end version, for count + decimal-sum measures (AVG
    derives at read time as sum/count — the same decomposition the MV
    rewriter uses). Groups whose row count reaches zero are REMOVED
    (a recompute would not emit them). Cost: |rollup| + |changes| —
    at 100 TB the rollup and the day's changes, never the fact table.
    """
    from pyspark.sql import functions as F

    delta = rollup_delta_from_feed(feed, keys, sums, count_col)
    return merge_additive_rollup(old, delta, keys).filter(F.col(count_col) > 0)


def maintain_minmax_rollup_from_changes(
    old: DataFrame,
    feed: DataFrame,
    source_now: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    mins: dict[str, str],
    maxs: dict[str, str],
    count_col: str = "n",
) -> DataFrame:
    """IVM for a rollup that also stores MIN/MAX measures — the
    non-additive extension of :func:`maintain_rollup_from_changes`.

    MIN/MAX are not group-invertible: a delete of the stored extreme
    cannot be un-aggregated from the rollup alone. The classic bounded
    recompute applies instead:

    * inserts tighten extremes monotonically — ``least(old_min,
      min(inserted))`` / ``greatest(old_max, max(inserted))``, pure
      feed-sized arithmetic;
    * a delete STRICTLY INSIDE the stored bounds cannot move them —
      no recompute;
    * only groups where a deleted value TOUCHES a stored bound
      (``del_min <= old_min`` or ``del_max >= old_max``, per measure)
      re-aggregate their extremes from ``source_now``, with the scan
      filtered by a broadcast semi-join on exactly those group keys.
      With AQE on (session default), an empty touched set collapses
      the join to an empty relation and the source scan never runs.

    Sums/count stay additively maintained (the
    :func:`merge_additive_rollup` contract); groups reaching zero rows
    are removed. Cost: |rollup| + |changes| + (source scan filtered to
    touched-extreme groups — at 100 TB the rare case, and partition-
    aligned keys prune it further).

    ``old`` schema: keys + sums + mins + maxs + count_col. ``mins`` /
    ``maxs`` map stored measure name -> source column (SQL NULL
    semantics: NULL measure values never participate in extremes)."""
    from pyspark.sql import functions as F

    names = list(sums) + list(mins) + list(maxs) + [count_col]
    if len(set(names)) != len(names):
        raise ValueError(
            "maintain_minmax_rollup_from_changes: stored measure names "
            "must be unique across sums/mins/maxs/count_col"
        )

    ins = F.col("_change_type") == "insert"
    mm_delta = feed.groupBy(*keys).agg(
        *[
            F.sum(
                F.when(ins, F.col(src)).otherwise(-F.col(src)).cast("decimal(28,6)")
            )
            .cast("decimal(28,6)")
            .alias(name)
            for name, src in sums.items()
        ],
        F.sum(F.when(ins, F.lit(1)).otherwise(F.lit(-1)))
        .cast("long")
        .alias(count_col),
        *[
            F.min(F.when(ins, F.col(src))).alias(f"__ins_min_{name}")
            for name, src in mins.items()
        ],
        *[
            F.max(F.when(ins, F.col(src))).alias(f"__ins_max_{name}")
            for name, src in maxs.items()
        ],
        *[
            F.min(F.when(~ins, F.col(src))).alias(f"__del_min_{name}")
            for name, src in mins.items()
        ],
        *[
            F.max(F.when(~ins, F.col(src))).alias(f"__del_max_{name}")
            for name, src in maxs.items()
        ],
    )
    o = old.select(
        *keys,
        *[F.col(c).alias(f"__old_{c}") for c in old.columns if c not in keys],
    )
    j = o.join(mm_delta, keys, "full_outer")
    new_n = F.coalesce(F.col(f"__old_{count_col}"), F.lit(0)) + F.coalesce(
        F.col(count_col), F.lit(0)
    )
    j = j.withColumn("__new_n", new_n).filter(F.col("__new_n") > 0)

    touch_terms = []
    for name in mins:
        touch_terms.append(
            F.coalesce(
                F.col(f"__del_min_{name}") <= F.col(f"__old_{name}"),
                F.lit(False),
            )
        )
    for name in maxs:
        touch_terms.append(
            F.coalesce(
                F.col(f"__del_max_{name}") >= F.col(f"__old_{name}"),
                F.lit(False),
            )
        )
    any_touched = touch_terms[0] if touch_terms else F.lit(False)
    for term in touch_terms[1:]:
        any_touched = any_touched | term
    # a group with deletes but NO stored row (shouldn't exist in a
    # consistent log) also recomputes, fail-safe
    any_touched = any_touched | (
        F.col(f"__old_{count_col}").isNull()
        & (F.coalesce(F.col(count_col), F.lit(0)) < F.lit(0))
    )
    j = j.withColumn("__recompute", any_touched)
    # j is rollup-sized (|rollup| + |changed groups| rows) but its
    # subplan contains the whole change-feed aggregate; touched_keys
    # below references j a SECOND time (the broadcast semi-join side),
    # so without persistence the feed — multi-version DV reconciliation
    # included — evaluates twice per sync. Persist the model-sized
    # frame once; lifetime is this maintenance step's write.
    j = j.persist()

    touched_keys = j.filter(F.col("__recompute")).select(*keys)
    recomputed = (
        source_now.join(F.broadcast(touched_keys), keys, "left_semi")
        .groupBy(*keys)
        .agg(
            *[
                F.min(F.col(src)).alias(f"__rc_min_{name}")
                for name, src in mins.items()
            ],
            *[
                F.max(F.col(src)).alias(f"__rc_max_{name}")
                for name, src in maxs.items()
            ],
        )
    )
    j = j.join(recomputed, keys, "left_outer")

    out_cols: list = [F.col(k) for k in keys]
    for name in sums:
        out_cols.append(
            (
                F.coalesce(F.col(f"__old_{name}"), F.lit(0).cast("decimal(28,6)"))
                + F.coalesce(F.col(name), F.lit(0).cast("decimal(28,6)"))
            )
            .cast(old.schema[name].dataType)
            .alias(name)
        )
    for name in mins:
        out_cols.append(
            F.when(F.col("__recompute"), F.col(f"__rc_min_{name}"))
            .otherwise(F.least(F.col(f"__old_{name}"), F.col(f"__ins_min_{name}")))
            .cast(old.schema[name].dataType)
            .alias(name)
        )
    for name in maxs:
        out_cols.append(
            F.when(F.col("__recompute"), F.col(f"__rc_max_{name}"))
            .otherwise(
                F.greatest(F.col(f"__old_{name}"), F.col(f"__ins_max_{name}"))
            )
            .cast(old.schema[name].dataType)
            .alias(name)
        )
    out_cols.append(F.col("__new_n").cast("long").alias(count_col))
    return j.select(*out_cols).select(*old.columns)


def sync_rollup_exactly_once(
    source,
    target,
    keys: list[str],
    sums: dict[str, str],
    count_col: str = "n",
    app_id: str = "cdf_rollup_sync",
) -> int:
    """One exactly-once step of a resumable CDF -> rollup pipeline
    between two :class:`~dbt_maxcompute_spark.txnlog.TxnTable`\\ s.

    The CURSOR (last applied source version) is the Delta ``txn``
    idempotence marker on the TARGET's own log — cursor advance and
    rollup replacement land in ONE commit, so a crash between steps,
    a replayed step, or a racing second syncer (CommitConflict on the
    pinned base) can never double-apply an interval. First call
    bootstraps with a full aggregate of the source snapshot; every
    later call applies only the change-feed interval
    ``(cursor, latest]`` at |rollup| + |changes| cost.

    Returns the number of source versions applied (0 = already caught
    up — including any replay of a committed step)."""
    from pyspark.sql import functions as F

    cur = source.latest_version()
    last = target.last_batch(app_id) if target.exists() else None
    if last is not None and cur <= last:
        return 0
    marker = {"app_id": app_id, "batch_id": cur}
    if last is None:
        full = source.read(cur).groupBy(*keys).agg(
            *[
                F.sum(F.col(src).cast("decimal(28,6)"))
                .cast("decimal(28,6)")
                .alias(name)
                for name, src in sums.items()
            ],
            F.count(F.lit(1)).alias(count_col),
        )
        if target.exists():
            target.overwrite_from(target.latest_version(), full, txn=marker)
        else:
            target.create(full, txn=marker)
        return cur + 1
    feed = source.change_feed(last, cur)
    base_v = target.latest_version()
    new = maintain_rollup_from_changes(
        target.read(base_v), feed, keys, sums, count_col
    )
    target.overwrite_from(base_v, new, txn=marker)
    return cur - last


def sync_minmax_rollup_exactly_once(
    source,
    target,
    keys: list[str],
    sums: dict[str, str],
    mins: dict[str, str],
    maxs: dict[str, str],
    count_col: str = "n",
    app_id: str = "cdf_minmax_sync",
) -> int:
    """:func:`sync_rollup_exactly_once` for a rollup that also stores
    MIN/MAX measures — same cursor-rides-the-target-commit exactly-once
    contract, refresh step :func:`maintain_minmax_rollup_from_changes`
    (extreme-touching groups re-aggregate from the source snapshot at
    the interval end; everything else is feed-sized)."""
    from pyspark.sql import functions as F

    cur = source.latest_version()
    last = target.last_batch(app_id) if target.exists() else None
    if last is not None and cur <= last:
        return 0
    marker = {"app_id": app_id, "batch_id": cur}

    def _full(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            *[
                F.sum(F.col(src).cast("decimal(28,6)"))
                .cast("decimal(28,6)")
                .alias(name)
                for name, src in sums.items()
            ],
            *[F.min(F.col(src)).alias(name) for name, src in mins.items()],
            *[F.max(F.col(src)).alias(name) for name, src in maxs.items()],
            F.count(F.lit(1)).alias(count_col),
        )

    if last is None:
        full = _full(source.read(cur))
        if target.exists():
            target.overwrite_from(target.latest_version(), full, txn=marker)
        else:
            target.create(full, txn=marker)
        return cur + 1
    feed = source.change_feed(last, cur)
    base_v = target.latest_version()
    new = maintain_minmax_rollup_from_changes(
        target.read(base_v),
        feed,
        source.read(cur),
        keys,
        sums,
        mins,
        maxs,
        count_col,
    )
    target.overwrite_from(base_v, new, txn=marker)
    return cur - last


# ---------------------------------------------------------------------------
# join-rollup IVM: rollup over fact JOIN dim, both sides mutable
# ---------------------------------------------------------------------------


def _join_side_columns(
    fact_cols: list[str],
    dim_cols: list[str],
    on: list[str],
    keys: list[str],
    sums: dict[str, str],
) -> tuple[list[str], list[str]]:
    """Column pruning + ambiguity check for the join-rollup family.
    Every group key and measure source must live on exactly ONE side
    (join keys live on both and unify via the list-form join)."""
    needed = [c for c in list(keys) + list(sums.values()) if c not in on]
    f_keep, d_keep = list(on), list(on)
    for c in needed:
        in_f, in_d = c in fact_cols, c in dim_cols
        if in_f and in_d:
            raise ValueError(
                f"column {c!r} exists on both join sides — rename one "
                "(join-rollup maintenance needs an unambiguous source)"
            )
        if not in_f and not in_d:
            raise ValueError(f"column {c!r} found on neither join side")
        (f_keep if in_f else d_keep).append(c)
    return f_keep, d_keep


def _signed(feed: DataFrame, keep: list[str]) -> DataFrame:
    from pyspark.sql import functions as F

    w = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    return feed.select(*keep, w.alias("__w"))


def _weighted_rollup(
    joined: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    count_col: str,
) -> DataFrame:
    from pyspark.sql import functions as F

    return joined.groupBy(*keys).agg(
        *[
            F.sum((F.col("__w") * F.col(src)).cast("decimal(28,6)"))
            .cast("decimal(28,6)")
            .alias(name)
            for name, src in sums.items()
        ],
        F.sum("__w").cast("long").alias(count_col),
    )


def join_rollup_delta_from_feeds(
    fact_feed: DataFrame | None,
    fact_old: DataFrame | None,
    dim_feed: DataFrame | None,
    dim_new: DataFrame,
    on: list[str],
    keys: list[str],
    sums: dict[str, str],
    count_col: str = "n",
) -> DataFrame | None:
    """SIGNED delta-aggregate for a rollup over ``fact JOIN dim``
    (equi-join on ``on``), from change feeds on EITHER OR BOTH sides.

    The bag-algebra identity (DBSP / incremental view maintenance,
    Budiu et al., VLDB 2023): with F0→F1 and D0→D1,

        Δ(F ⋈ D) = ΔF ⋈ D1  +  F0 ⋈ ΔD

    — exact including the ΔF⋈ΔD interaction term, because the first
    term joins the fact feed against the NEW dim and the second joins
    the OLD fact against the dim feed. Feed rows weigh ±1 by
    ``_change_type`` and joined rows inherit the feed side's weight,
    so a dim UPDATE (delete+insert pair) MOVES every matching fact
    row's contribution from the old group to the new one in one pass.

    Scale shape: term 1 is |fact changes| ⋈ dim (the everyday case —
    dim broadcastable or AQE-planned); term 2 only exists when the dim
    actually changed, and its dim side is the (tiny) dim feed,
    broadcast explicitly — the fact scan it implies prunes to feed
    keys via the broadcast hash join. Pass ``None`` for an unchanged
    side and that term (and its scans) vanish from the plan entirely.

    Returns None when both feeds are None/empty-by-contract."""
    from pyspark.sql import functions as F

    if fact_feed is None and dim_feed is None:
        return None
    if dim_feed is not None and fact_old is None:
        raise ValueError("dim_feed given but fact_old missing")
    f_keep, d_keep = _join_side_columns(
        list(fact_old.columns) if fact_old is not None else list(fact_feed.columns),
        list(dim_new.columns),
        on,
        keys,
        sums,
    )
    parts = []
    if fact_feed is not None:
        parts.append(_signed(fact_feed, f_keep).join(dim_new.select(*d_keep), on))
    if dim_feed is not None:
        parts.append(
            fact_old.select(*f_keep).join(F.broadcast(_signed(dim_feed, d_keep)), on)
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _weighted_rollup(u, keys, sums, count_col)


def maintain_join_rollup_from_changes(
    old: DataFrame,
    fact_feed: DataFrame | None,
    fact_old: DataFrame | None,
    dim_feed: DataFrame | None,
    dim_new: DataFrame,
    on: list[str],
    keys: list[str],
    sums: dict[str, str],
    count_col: str = "n",
) -> DataFrame:
    """IVM step for a sum/count rollup over ``fact JOIN dim``: merge
    the signed join delta into the stored rollup; groups whose joined
    row count reaches zero are removed (recompute-identical). Cost:
    |rollup| + |fact changes ⋈ dim| + (|old fact ⋈ dim changes| iff
    the dim changed) — never a full re-join when only one side moved."""
    from pyspark.sql import functions as F

    delta = join_rollup_delta_from_feeds(
        fact_feed, fact_old, dim_feed, dim_new, on, keys, sums, count_col
    )
    if delta is None:
        return old
    return merge_additive_rollup(old, delta, keys).filter(F.col(count_col) > 0)


def sync_join_rollup_exactly_once(
    fact,
    dim,
    target,
    on: list[str],
    keys: list[str],
    sums: dict[str, str],
    count_col: str = "n",
    app_id: str = "cdf_join_rollup_sync",
) -> int:
    """Exactly-once resumable sync of a fact⋈dim rollup from the
    change feeds of TWO txn tables. Both cursors (last applied fact
    version, last applied dim version) ride the target's commit as a
    LIST of Delta ``txn`` markers — one atomic commit advances both,
    so a crash, replay, or racing syncer can never apply a fact
    interval without its dim interval (or vice versa). Returns total
    source versions applied (0 = caught up / replay)."""
    from pyspark.sql import functions as F

    fv, dv = fact.latest_version(), dim.latest_version()
    fa, da = f"{app_id}#fact", f"{app_id}#dim"
    last_f = target.last_batch(fa) if target.exists() else None
    last_d = target.last_batch(da) if target.exists() else None
    markers = [
        {"app_id": fa, "batch_id": fv},
        {"app_id": da, "batch_id": dv},
    ]
    if last_f is None or last_d is None:
        f_keep, d_keep = _join_side_columns(
            fact.read(fv).columns, dim.read(dv).columns, on, keys, sums
        )
        full = _weighted_rollup(
            fact.read(fv)
            .select(*f_keep)
            .join(dim.read(dv).select(*d_keep), on)
            .withColumn("__w", F.lit(1)),
            keys,
            sums,
            count_col,
        )
        if target.exists():
            target.overwrite_from(target.latest_version(), full, txn=markers)
        else:
            target.create(full, txn=markers)
        return (fv + 1) + (dv + 1)
    if fv <= last_f and dv <= last_d:
        return 0
    fact_feed = fact.change_feed(last_f, fv) if fv > last_f else None
    dim_feed = dim.change_feed(last_d, dv) if dv > last_d else None
    fact_old = fact.read(last_f) if dim_feed is not None else None
    base_v = target.latest_version()
    new = maintain_join_rollup_from_changes(
        target.read(base_v),
        fact_feed,
        fact_old,
        dim_feed,
        dim.read(dv),
        on,
        keys,
        sums,
        count_col,
    )
    target.overwrite_from(base_v, new, txn=markers)
    return (fv - last_f) + (dv - last_d)


def diff_config(old: dict[str, Any], new: dict[str, Any], old_sql: str, new_sql: str) -> str:
    """Returns 'rebuild' | 'replace' | 'noop' (reference impl.py:112-158)."""
    if old_sql.strip() != new_sql.strip():
        return "replace"
    if old.get("partition_by") != new.get("partition_by"):
        return "replace"
    for key in ("lifecycle", "disable_rewrite", "tblproperties", "columns"):
        if old.get(key) != new.get(key):
            return "rebuild"
    return "noop"


def apply_materialized_view(
    catalog: EngineCatalog,
    name: str,
    defining_sql: str,
    **config: Any,
) -> str:
    """Idempotent MV application: create if missing, otherwise diff the
    stored config (none on another relation type) and REBUILD / replace
    / no-op accordingly. Returns the action taken."""
    meta = catalog.meta(name) if catalog.exists(name) else None
    new_cfg = _mv_config(**config)
    action = "create" if meta is None else diff_config(
        meta.mv_config or {}, new_cfg, meta.view_sql or "", defining_sql
    )
    if action in ("create", "replace"):
        create_materialized_view(catalog, name, defining_sql, **config)
    elif action == "rebuild":
        meta.mv_config.update(new_cfg)
        meta.lifecycle = new_cfg["lifecycle"]
        meta.tblproperties = new_cfg["tblproperties"]
        _rebuild(catalog, name, meta)
    return action
