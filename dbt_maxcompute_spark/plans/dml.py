"""DML planner: row-level DML as partition-pruned parquet rewrites.

The reference generates MERGE / DELETE+INSERT / INSERT [OVERWRITE]
against a warehouse that supports row-level DML on transactional
tables (`/root/reference/dbt/include/maxcompute/macros/materializations/
incremental/incremental_strategy/merge.sql`, `insert_overwrite.sql`).
Vanilla-parquet Spark has none of that, so each statement becomes a
declarative rewrite (SURVEY.md §4.3):

- **merge**   = one full-outer join on the unique key producing the
  post-merge row set, written back with partition pruning.
- **delete+insert** = left-anti join (drop matched keys) ∪ source.
- **append**  = plain partitioned append.
- **insert_overwrite** = dynamic partition overwrite (only partitions
  present in the source are replaced), or static (user-listed
  partition values deleted + re-inserted).
- **microbatch** = a batch loop of dynamic overwrites over
  event-time slices (exact reference semantics, microbatch.sql:20-28).

Scale design:
- Partitioned targets rewrite ONLY affected partitions. The affected
  set comes from `source.select(pt).distinct()` — a metadata-sized
  collect (same cardinality as the reference's static partition list).
- Unpartitioned merges rewrite the whole table (unavoidable without a
  table format; the reference requires `transactional=true` i.e. a
  bucketed delta table for the same reason). For merge-heavy tables,
  partition them — same guidance as the reference's bucket sizing.
- The merge itself is ONE shuffle (full-outer sort-merge join on the
  key). Update-set semantics, partition-column exclusion from UPDATE
  (merge.sql:7-16), and incremental_predicates (merge.sql:2,26-33)
  are column-level expressions on top.
- Writes go through ``EngineCatalog.replace``: stage to a sibling
  directory, then swap in the affected partitions (or the whole table)
  — a parquet path can't be read and overwritten in the same job (the
  reference's temp-table pattern, incremental.sql:69-71). This module
  plans rows; it never touches table files itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_maxcompute_spark.catalog import EngineCatalog, TableMeta
from dbt_maxcompute_spark.localframe import local_frame
from dbt_maxcompute_spark.txnlog import retry_commit

_T, _S = "__dml_tgt_present", "__dml_src_present"


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _key_condition(tgt: DataFrame, src: DataFrame, keys: list[str]) -> Column:
    cond = None
    for k in keys:
        c = tgt[k] == src[k]
        cond = c if cond is None else cond & c
    return cond


def _affected_partitions(src: DataFrame, pt_cols: list[str]) -> list[dict]:
    """Distinct partition tuples present in the source. Metadata-sized:
    equivalent to the reference's `partitions` config list
    (insert_overwrite.sql:29-33)."""
    rows = src.select(*pt_cols).distinct().collect()
    return [r.asDict() for r in rows]


def _matched_partitions(
    tgt: DataFrame, src: DataFrame, keys: list[str], pt_cols: list[str]
) -> list[dict]:
    """Distinct partition tuples of target rows whose unique_key appears
    in the source.  Key-only semi-join: the target scan prunes to
    key+partition columns (ReadSchema), the source side broadcasts its
    distinct key tuples, and the result is metadata-sized.  Needed only
    when partition cols are not part of the key — the price of general
    MERGE semantics across partitions."""
    src_keys = src.select(*keys).distinct()
    rows = (
        tgt.join(F.broadcast(src_keys), on=keys, how="left_semi")
        .select(*pt_cols)
        .distinct()
        .collect()
    )
    return [r.asDict() for r in rows]


def _replace_set(
    tgt: DataFrame, src: DataFrame, keys: list[str], pt_cols: list[str]
) -> list[dict]:
    """The distinct partitions a key-matched rewrite must replace: the
    source's, plus — when partition cols are not all part of the key —
    those of target rows whose key the source matches, which may live
    outside the source partitions."""
    parts = _affected_partitions(src, pt_cols)
    if not set(pt_cols) <= set(keys):
        seen = {tuple(p[c] for c in pt_cols) for p in parts}
        parts += [
            p for p in _matched_partitions(tgt, src, keys, pt_cols)
            if tuple(p[c] for c in pt_cols) not in seen
        ]
    return parts


def _partition_filter(pt_cols: list[str], parts: list[dict]) -> Column:
    cond = F.lit(False)
    for p in parts:
        this = F.lit(True)
        for c in pt_cols:
            v = p[c]
            this = this & (F.col(c).eqNullSafe(F.lit(v)))
        cond = cond | this
    return cond


# Above this many affected partitions the literal OR-chain bloats the
# Catalyst plan/codegen; switch to a broadcast left-semi join on the
# partition tuple instead (the tuple list itself is still metadata-sized).
_PARTITION_FILTER_MAX_LITERALS = 100


def _scope_to_partitions(df: DataFrame, pt_cols: list[str], parts: list[dict]) -> DataFrame:
    """Restrict `df` to the given partition tuples.

    Small sets become a literal predicate (partition-prunable at the
    scan); large sets become a broadcast semi-join so a merge touching
    tens of thousands of partitions doesn't compile an OR-chain of the
    same size into the plan.
    """
    if len(parts) <= _PARTITION_FILTER_MAX_LITERALS:
        return df.filter(_partition_filter(pt_cols, parts))
    spark = df.sparkSession
    ptf = local_frame(
        spark,
        [tuple(p[c] for c in pt_cols) for p in parts],
        df.select(*pt_cols).schema,
    )
    renamed = ptf.select(*[F.col(c).alias(f"__pt_{c}") for c in pt_cols])
    cond = None
    for c in pt_cols:
        this = df[c].eqNullSafe(renamed[f"__pt_{c}"])
        cond = this if cond is None else cond & this
    return df.join(F.broadcast(renamed), cond, "left_semi")


# Distinct-key ceiling for the deletion-vector upsert fast path: the op
# broadcasts source.select(keys).distinct(), so above this the batch
# routes to the copy-on-write recompute instead of risking a broadcast/
# driver OOM. ~1M short key tuples ≈ tens of MB broadcast — comfortably
# inside Spark's defaults; override for fat multi-column string keys.
DV_BROADCAST_MAX_KEYS = 1_000_000


def _dv_key_set_fits_broadcast(src: DataFrame, keys: list[str]) -> bool:
    """True when the source's distinct key-tuple count is small enough
    to broadcast. The probe is bounded: limit(N+1).count() stops
    counting at the ceiling instead of materializing the full distinct
    cardinality."""
    n = (
        src.select(*keys)
        .distinct()
        .limit(DV_BROADCAST_MAX_KEYS + 1)
        .count()
    )
    return n <= DV_BROADCAST_MAX_KEYS


def _derive_auto(meta: TableMeta, df: DataFrame) -> DataFrame:
    """Auto-partition targets derive the hidden pt column at write time
    (reference impl.py:206-214: generated column excluded from INSERT
    lists, computed server-side)."""
    if meta.auto_partition:
        gen = meta.auto.generated_column
        if gen in df.columns:
            df = df.drop(gen)
        df = meta.auto.derive(df)
    return df


def _align_columns(df: DataFrame, like: DataFrame) -> DataFrame:
    """Project + coerce to the target's column order and types (the
    implicit cast INSERT INTO performs)."""
    return df.select(
        *[F.col(f.name).cast(f.dataType) for f in like.schema.fields]
    )


# ---------------------------------------------------------------------------
# append (reference merge.sql:120-146 maxcompute__get_incremental_append_sql)
# ---------------------------------------------------------------------------

def append(catalog: EngineCatalog, name: str, source: DataFrame) -> None:
    meta = catalog.meta(name)
    src = _derive_auto(meta, source)
    src = _align_columns(src, catalog.read(name))
    if meta.transactional:
        # append-only commits never conflict semantically; a version
        # race just re-commits at the next number
        t = catalog.txn(name)
        retry_commit(lambda: t.append(src))
        return
    catalog.append_files(name, src)


# ---------------------------------------------------------------------------
# merge / upsert (reference merge.sql:1-58)
# ---------------------------------------------------------------------------

def merge(
    catalog: EngineCatalog,
    name: str,
    source: DataFrame,
    unique_key: list[str] | str,
    merge_update_columns: list[str] | None = None,
    merge_exclude_columns: list[str] | None = None,
    incremental_predicates: list[str] | None = None,
) -> None:
    """MERGE INTO tgt USING src ON keys
    WHEN MATCHED [AND predicates] THEN UPDATE SET <update set>
    WHEN NOT MATCHED THEN INSERT *.

    Update-set rules (reference merge.sql:7-16): explicit
    merge_update_columns wins; else all source columns minus
    merge_exclude_columns; partition columns are always excluded from
    UPDATE (no row movement across partitions for matched rows).

    No unique_key -> degenerate append (reference merge.sql:53-57).

    Duplicate keys in the source are an error: SQL MERGE (and the
    MaxCompute engine behind the reference's merge.sql) raises when one
    target row matches multiple source rows; a silent full-outer fan-out
    would duplicate matched target rows instead.
    """
    if not unique_key:
        append(catalog, name, source)
        return
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    meta = catalog.meta(name)
    tgt = catalog.read(name)
    src = _derive_auto(meta, source)
    src = _align_columns(src, tgt)
    _assert_unique_source_keys(src, keys)

    pt_cols = meta.all_partition_cols()
    update_cols = _update_set(meta, tgt.columns, keys, merge_update_columns, merge_exclude_columns)

    if meta.transactional:
        # log-committed merge: the post-merge row set computes from a
        # PINNED snapshot and commits as exactly one version on top of
        # it — one merge, one commit in history(); conflicts recompute
        catalog.txn(name).overwrite_recomputed(
            lambda snap_tgt: _merge_result(
                snap_tgt, src, keys, update_cols, incremental_predicates
            )
        )
        return

    replace_parts = None
    if pt_cols:
        # Prune: only partitions the merge can change are rewritten.
        # When partition cols ⊆ unique_key, a matched target row is
        # necessarily in a source partition and pruning to source
        # partitions is free.  Otherwise a source row may match (by key)
        # a target row living OUTSIDE the source partitions — reference
        # MERGE updates that row in place in its own partition
        # (merge.sql:36-45 matches on the key alone) — so those matched
        # partitions must join the replace set.  Finding them costs one
        # key-column-only semi-join scan of the target; the alternative
        # (inserting the source row as a fresh row in its own partition)
        # silently duplicates the unique key.
        replace_parts = _replace_set(tgt, src, keys, pt_cols)
        tgt = _scope_to_partitions(tgt, pt_cols, replace_parts)

    result = _merge_result(tgt, src, keys, update_cols, incremental_predicates)
    catalog.replace(name, result, meta, partitions=replace_parts)


def _merge_result(
    tgt: DataFrame,
    src: DataFrame,
    keys: list[str],
    update_cols: set[str],
    incremental_predicates: list[str] | None,
) -> DataFrame:
    """The post-merge row set: one full-outer join on the key.

    The two sides carry the reference dialect's aliases
    (merge.sql:36-37: ``merge into {{target}} as DBT_INTERNAL_DEST using
    {{source}} as DBT_INTERNAL_SOURCE``) so user-written
    incremental_predicates like ``DBT_INTERNAL_DEST.ts > '2024-01-01'``
    resolve exactly as they would in the generated MERGE.  Bare
    ambiguous column names raise, as in real SQL with both sides in
    scope.  Predicates join the ON condition (merge.sql:26-33,38): a
    matched-but-predicate-false pair does NOT match — the target row
    survives unchanged and the source row takes the NOT MATCHED branch
    and is inserted.  That is genuine MERGE-with-ON-predicate
    semantics, not a planner quirk.
    """
    t = tgt.withColumn(_T, F.lit(True)).alias("DBT_INTERNAL_DEST")
    s = src.withColumn(_S, F.lit(True)).alias("DBT_INTERNAL_SOURCE")
    cond = _key_condition(t, s, keys)
    for pred in incremental_predicates or []:
        cond = cond & F.expr(pred)
    joined = t.join(s, cond, "full_outer")

    matched = t[_T].isNotNull() & s[_S].isNotNull()
    cols = []
    for c in tgt.columns:
        if c in keys:
            col = F.coalesce(s[c], t[c])
        elif c in update_cols:
            # matched -> source value; target-only -> target; source-only -> source
            col = F.when(matched, s[c]).otherwise(F.coalesce(t[c], s[c]))
        else:
            # not in update set: matched keeps target value; inserts take source
            col = F.when(t[_T].isNotNull(), t[c]).otherwise(s[c])
        cols.append(col.alias(c))
    return joined.select(*cols)


def _delete_insert_survivors(
    tgt: DataFrame,
    src: DataFrame,
    keys: list[str],
    incremental_predicates: list[str] | None,
) -> DataFrame:
    """Target rows surviving ``DELETE WHERE (keys) IN (SELECT keys FROM
    src) [AND preds]`` (reference merge.sql:75-96).

    In that dialect the source exists only inside the IN-subquery, so
    user predicates name TARGET columns — bare or
    ``DBT_INTERNAL_DEST``-qualified.  The source side is reduced to its
    distinct key tuples under prefix-renamed columns before the
    anti-join, so a bare ``order_status = 'O'`` resolves unambiguously
    to the target row (and the anti-join shuffles key tuples only, not
    source payloads)."""
    t = tgt.alias("DBT_INTERNAL_DEST")
    s = src.select(*[F.col(k).alias(f"__src_{k}") for k in keys]).distinct()
    cond = None
    for k in keys:
        c = t[k] == s[f"__src_{k}"]
        cond = c if cond is None else cond & c
    for pred in incremental_predicates or []:
        cond = cond & F.expr(pred)
    return t.join(s, cond, "left_anti")


def _assert_unique_source_keys(src: DataFrame, keys: list[str]) -> None:
    """One map-side-combinable agg over the (incremental-sized) source;
    surfaces the first offending key tuple in the error."""
    dup = (
        src.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        bad = {k: dup[0][k] for k in keys}
        raise ValueError(
            f"merge source has duplicate rows for unique_key {keys}: first duplicate {bad} "
            "(SQL MERGE rejects multi-match; deduplicate the source or use delete+insert)"
        )


def _update_set(
    meta: TableMeta,
    all_cols: list[str],
    keys: list[str],
    update_columns: list[str] | None,
    exclude_columns: list[str] | None,
) -> set[str]:
    pt = set(meta.all_partition_cols())
    if update_columns:
        cols = set(update_columns)
    else:
        cols = set(all_cols) - set(keys) - set(exclude_columns or [])
    return cols - pt  # partition fields default-excluded (merge.sql:11-16)


# ---------------------------------------------------------------------------
# delete+insert (reference merge.sql:61-117)
# ---------------------------------------------------------------------------

def delete_insert(
    catalog: EngineCatalog,
    name: str,
    source: DataFrame,
    unique_key: list[str] | str,
    incremental_predicates: list[str] | None = None,
) -> None:
    """DELETE FROM tgt WHERE (keys) IN (SELECT keys FROM src) [AND preds]
    then INSERT — list unique_key uses tuple matching (regression:
    test_delete_insert_list_unique_key.py). Rewrite: left-anti join ∪
    source."""
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    meta = catalog.meta(name)
    tgt = catalog.read(name)
    src = _derive_auto(meta, source)
    src = _align_columns(src, tgt)
    pt_cols = meta.all_partition_cols()

    if meta.transactional:
        if not incremental_predicates and _dv_key_set_fits_broadcast(src, keys):
            # Row-level fast path (Delta DV shape): the delete phase is
            # exactly "keys in source", so the commit is a deletion
            # vector + appended source files — zero data-file rewrites,
            # bounded by |source| + |matched| instead of every file a
            # hot key touches. delete+insert INSERTs every source row
            # (duplicates included), hence allow_duplicate_keys. A
            # commit race re-reads and recomputes inside the op.
            # Gated on the distinct-key count: delete_insert_dv
            # broadcasts the key set, so a batch whose keys would blow
            # the broadcast/driver limit falls through to the
            # snapshot-pinned COW recompute below instead of failing.
            t = catalog.txn(name)
            retry_commit(
                lambda: t.delete_insert_dv(src, keys, allow_duplicate_keys=True)
            )
            return

        # predicate-scoped deletes (the predicate narrows the delete
        # set in ways the DV matcher does not model) and batches whose
        # key set is too large to broadcast fall back to the
        # snapshot-pinned full recompute — copy-on-write is the right
        # trade once the upsert is a meaningful fraction of the table
        def compute(snap_tgt: DataFrame) -> DataFrame:
            return _delete_insert_survivors(
                snap_tgt, src, keys, incremental_predicates
            ).unionByName(src)

        catalog.txn(name).overwrite_recomputed(compute)
        return

    replace_parts = None
    if pt_cols:
        # Same pruning-soundness rule as merge(): the reference's DELETE
        # matches on the key alone (merge.sql:75-83), so when partition
        # cols are not part of the key a doomed target row may live
        # outside the source partitions — its partition must be
        # rewritten too or the delete silently misses it.
        replace_parts = _replace_set(tgt, src, keys, pt_cols)
        tgt_scope = _scope_to_partitions(tgt, pt_cols, replace_parts)
    else:
        tgt_scope = tgt

    survivors = _delete_insert_survivors(tgt_scope, src, keys, incremental_predicates)
    result = survivors.unionByName(src)
    catalog.replace(name, result, meta, partitions=replace_parts)


# ---------------------------------------------------------------------------
# insert_overwrite (reference insert_overwrite.sql:1-81)
# ---------------------------------------------------------------------------

def insert_overwrite(
    catalog: EngineCatalog,
    name: str,
    source: DataFrame,
    partitions: list[dict] | None = None,
) -> list[dict]:
    """Dynamic (default): replace exactly the partitions present in the
    source. Static (`partitions` given): delete those partitions and
    insert only source rows belonging to them (insert_overwrite.sql:39-63).
    Requires a partitioned target (L4-9 parity). Returns the replaced
    partition list (empty = no-op)."""
    meta = catalog.meta(name)
    pt_cols = meta.all_partition_cols()
    if not pt_cols:
        raise ValueError("insert_overwrite requires a partitioned target (reference parity)")
    src = _derive_auto(meta, source)
    src = _align_columns(src, catalog.read(name))
    if partitions is not None:
        src = _scope_to_partitions(src, pt_cols, partitions)
        replace = partitions
    else:
        replace = _affected_partitions(src, pt_cols)
    if not replace:
        return []  # empty source: nothing to overwrite
    catalog.replace(name, src, meta, partitions=replace)
    return replace


# ---------------------------------------------------------------------------
# microbatch (reference microbatch.sql:1-28)
# ---------------------------------------------------------------------------

def microbatch(
    catalog: EngineCatalog,
    name: str,
    source: DataFrame,
    event_time: str,
    begin,
    end,
    batch_size: str = "day",
) -> int:
    """Validates target partitioned & granularity == batch_size
    (microbatch.sql:1-18), then per-batch executes the insert_overwrite
    path. Returns the number of batches executed.

    dbt-core slices time; here the loop is internal. Each slice is an
    independent dynamic partition overwrite — idempotent re-runs,
    exactly the reference's retry-a-batch semantics."""
    meta = catalog.meta(name)
    if not meta.all_partition_cols():
        raise ValueError("microbatch requires a partitioned target")
    if meta.auto_partition and meta.auto.granularity != batch_size:
        raise ValueError(
            f"microbatch batch_size {batch_size!r} must equal partition granularity "
            f"{meta.auto.granularity!r} (reference microbatch.sql:1-18)"
        )
    slices = []
    cur = begin
    while cur < end:
        slices.append(cur)
        cur = _bump(cur, batch_size)
    n = 0
    for lo in slices:
        hi = _bump(lo, batch_size)
        batch = source.filter(
            (F.col(event_time) >= F.lit(lo)) & (F.col(event_time) < F.lit(hi))
        )
        # emptiness is decided by the overwrite's own affected-partition
        # probe — no separate existence-scan job per slice
        if insert_overwrite(catalog, name, batch):
            n += 1
    return n


def _bump(ts, batch_size: str):
    from datetime import timedelta

    if batch_size == "hour":
        return ts + timedelta(hours=1)
    if batch_size == "day":
        return ts + timedelta(days=1)
    if batch_size == "month":
        y, m = ts.year, ts.month
        if m == 12:
            return ts.replace(year=y + 1, month=1)
        return ts.replace(month=m + 1)
    if batch_size == "year":
        return ts.replace(year=ts.year + 1)
    raise ValueError(f"unsupported batch_size {batch_size!r}")
