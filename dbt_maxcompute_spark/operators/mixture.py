"""Data-mixture sampling: hit a target per-group weight mixture under a
global budget, deterministically.

A training-data pipeline rarely trains on the corpus as-is — it trains
on a MIXTURE ("50% web, 30% books, 20% code, 2T tokens total").  This
operator selects documents so each group contributes (close to) its
target share of the budget, with three properties that matter at
100 TB:

* **deterministic**: selection order inside a group is a portable
  integer hash of the id (Knuth multiplicative, plain INT64 arithmetic
  any engine reproduces — no engine-specific hash), so the same call
  yields the same corpus on any cluster layout, and an independent SQL
  engine can verify the exact selection;
* **budget-exact**: a group's running weight (e.g. token count) in
  hash order is cut at its quota — the selected mass never exceeds the
  quota, and under-provisioned groups simply contribute everything
  they have (the achieved-vs-target gap is part of the output);
* **no group-wide sort**: the naive form is a per-group window cumsum,
  which funnels each group through ONE task.  Instead, phase 1 builds
  a (group x 256-range-bucket) weight histogram — one map-side-
  combinable aggregate, metadata-sized result — and the driver finds
  each group's boundary bucket; phase 2 runs the exact window cumsum
  ONLY inside boundary buckets (~1/256 of each group).  Bucket ranges
  are hash-prefix ranges, so bucket order == hash order and the
  two-phase selection is provably identical to the global cumsum (the
  equivalence is pinned in tests/test_mixture.py).

No reference counterpart (extension, like the other pipeline
operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbt_maxcompute_spark.localframe import local_frame
from dbt_maxcompute_spark.plans.sqltext import quote

# Knuth multiplicative hash over 32 bits: portable plain-SQL integer
# arithmetic (id * 2654435761 mod 2^32), reproducible in any engine.
_KNUTH = 2654435761
_MOD = 1 << 32
_BUCKETS = 256
_BUCKET_BITS = 24  # bucket = hash >> 24 -> 256 RANGE buckets


def _hash_col(id_col: str):
    return (F.col(id_col) * F.lit(_KNUTH)) % F.lit(_MOD)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight_col: str,
    targets: dict[str, float],
    budget: float,
) -> DataFrame:
    """Rows of ``df`` selected for the mixture.

    ``targets`` maps group value -> share of ``budget``; groups absent
    from ``targets`` are dropped.  A row is selected iff its group's
    running ``weight_col`` sum — ordered by the portable hash of
    ``id_col``, ties by id — stays within ``budget * targets[group]``.
    """
    h = _hash_col(id_col)
    base = (
        df.filter(F.col(group_col).isin(list(targets)))
        .withColumn("__h", h)
        .withColumn("__b", F.shiftright(F.col("__h"), _BUCKET_BITS).cast("int"))
    )

    # phase 1: (group, bucket) weight histogram — metadata-sized
    hist = {
        (r["g"], r["b"]): r["w"]
        for r in base.groupBy(
            F.col(group_col).alias("g"), F.col("__b").alias("b")
        )
        .agg(F.sum(weight_col).alias("w"))
        .collect()
    }
    groups = sorted({g for g, _ in hist})
    plan = []  # (group, boundary_bucket, mass_before_boundary)
    for g in groups:
        quota = budget * targets[g]
        cum = 0.0
        boundary = _BUCKETS  # all buckets fit -> no boundary needed
        before = 0.0
        for b in range(_BUCKETS):
            w = hist.get((g, b), 0)
            if cum + w > quota:
                boundary = b
                before = cum
                break
            cum += w
        plan.append((g, boundary, before))

    spark = df.sparkSession
    plan_df = F.broadcast(
        local_frame(
            spark, plan, f"{group_col} string, __boundary int, __before double"
        )
    )
    joined = base.join(plan_df, group_col)

    whole = joined.filter(F.col("__b") < F.col("__boundary"))

    # phase 2: exact cut inside each group's boundary bucket only
    # (~1/256 of the group passes through the window)
    edge = joined.filter(F.col("__b") == F.col("__boundary"))
    win = (
        Window.partitionBy(group_col)
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    quota_expr = F.lit(budget) * _targets_expr(group_col, targets)
    edge_kept = edge.withColumn(
        "__cum", F.col("__before") + F.sum(weight_col).over(win)
    ).filter(F.col("__cum") <= quota_expr)

    drop = ["__h", "__b", "__boundary", "__before", "__cum"]
    return whole.drop(*drop).unionByName(edge_kept.drop(*drop))


def _targets_expr(group_col: str, targets: dict[str, float]):
    expr = F.lit(None).cast("double")
    for g, t in targets.items():
        expr = F.when(F.col(group_col) == g, F.lit(float(t))).otherwise(expr)
    return expr


def mixture_report(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight_col: str,
    targets: dict[str, float],
    budget: float,
) -> DataFrame:
    """Per-group audit of the selection: docs kept, mass kept, achieved
    share of budget vs target (the under-provisioned-group gap is the
    number a mixture owner actually watches)."""
    sel = mixture_sample(df, id_col, group_col, weight_col, targets, budget)
    return (
        sel.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(weight_col).cast("long").alias("mass"),
        )
        .withColumn(
            "target_share",
            F.round(_targets_expr(group_col, targets), 6),
        )
        .withColumn(
            "achieved_share",
            F.round(F.col("mass") / F.lit(float(budget)), 6),
        )
    )


def oracle_sql_for_mixture(
    table: str,
    id_col: str,
    group_col: str,
    weight_col: str,
    targets: dict[str, float],
    budget_sql: str,
) -> str:
    """The equivalent single-window ANSI SQL (global per-group cumsum in
    hash order) — what the two-phase plan must equal, row for row.

    ``budget_sql`` is a scalar SQL expression (e.g. a subquery over the
    same table) so the oracle stays a static string; it must reproduce
    the Python-side budget with the same IEEE operation order."""
    cases = " ".join(
        f"WHEN {quote(g)} THEN {float(t)!r}" for g, t in targets.items()
    )
    in_list = ", ".join(quote(g) for g in targets)
    return f"""
WITH b AS (SELECT CAST(({budget_sql}) AS DOUBLE) AS budget),
ranked AS (
  SELECT {id_col}, {group_col}, {weight_col}, budget,
         ({id_col} * {_KNUTH}) % {_MOD} AS h,
         CAST(CASE {group_col} {cases} END AS DOUBLE) AS tgt,
         CAST(budget * CASE {group_col} {cases} END AS DOUBLE) AS quota,
         sum({weight_col}) OVER (
           PARTITION BY {group_col}
           ORDER BY ({id_col} * {_KNUTH}) % {_MOD}, {id_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM {table} CROSS JOIN b
  WHERE {group_col} IN ({in_list})
)
SELECT {group_col},
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum({weight_col}) AS BIGINT) AS mass,
       round(max(tgt), 6) AS target_share,
       round(CAST(sum({weight_col}) AS DOUBLE) / max(budget), 6) AS achieved_share
FROM ranked
WHERE cum <= quota
GROUP BY {group_col}
"""


__all__ = [
    "mixture_sample",
    "mixture_report",
    "oracle_sql_for_mixture",
]
