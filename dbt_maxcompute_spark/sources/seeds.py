"""CSV seed loader with the reference's agate-rule type inference.

The reference seeds path (`/root/reference/dbt/adapters/maxcompute/
impl.py:380-401,464-504` + `macros/materializations/seeds/seeds.sql`):
agate infers column types, per-column `column_types` overrides win,
pandas re-reads with parse_dates, tunnel-uploads.

Inference rules reproduced exactly (impl.py:380-401):
  text            -> string
  number          -> decimal(38,18) if any value has decimals else bigint
  integer         -> bigint
  date            -> date
  datetime / time -> timestamp   (explicitly NOT timestamp_ntz —
                     reference cites a HashJoin problem; parity kept)
  boolean         -> boolean

Spark's own CSV inferSchema picks double for decimals — different
semantics, so we implement the reference's rule with a two-pass read:
pass 1 reads everything as string and classifies, pass 2 applies the
resolved schema. Both passes are distributed Spark reads (a 100 GB
seed would work, though seeds are typically tiny).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_maxcompute_spark.catalog import EngineCatalog

_INT_RX = r"^-?\d+$"
_DEC_RX = r"^-?\d+\.\d+$"
_BOOL_RX = r"^(?i)(true|false)$"
_DATE_RX = r"^\d{4}-\d{2}-\d{2}$"
_TS_RX = r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?$"


def infer_seed_schema(
    spark: SparkSession, path: str, overrides: dict[str, str] | None = None
) -> dict[str, str]:
    """Classify each column per the agate rules; overrides win."""
    raw = spark.read.csv(path, header=True)  # all strings
    overrides = {k.lower(): v for k, v in (overrides or {}).items()}
    checks = raw.select(
        *[
            F.struct(
                F.count(F.when(F.col(c).isNotNull(), 1)).alias("nonnull"),
                F.count(F.when(F.col(c).rlike(_INT_RX), 1)).alias("ints"),
                F.count(F.when(F.col(c).rlike(_DEC_RX), 1)).alias("decs"),
                F.count(F.when(F.col(c).rlike(_BOOL_RX), 1)).alias("bools"),
                F.count(F.when(F.col(c).rlike(_DATE_RX), 1)).alias("dates"),
                F.count(F.when(F.col(c).rlike(_TS_RX), 1)).alias("tss"),
            ).alias(c)
            for c in raw.columns
        ]
    ).first()

    out: dict[str, str] = {}
    for c in raw.columns:
        if c.lower() in overrides:
            out[c] = _normalize_seed_type(overrides[c.lower()])
            continue
        s = checks[c]
        nn = s["nonnull"]
        if nn == 0:
            out[c] = "string"
        elif s["bools"] == nn:
            out[c] = "boolean"
        elif s["ints"] == nn:
            out[c] = "bigint"
        elif s["ints"] + s["decs"] == nn:
            out[c] = "decimal(38,18)"  # agate number w/ decimals -> decimal
        elif s["dates"] == nn:
            out[c] = "date"
        elif s["tss"] + s["dates"] == nn:
            out[c] = "timestamp"
        else:
            out[c] = "string"
    return out


def _normalize_seed_type(t: str) -> str:
    key = t.strip().lower()
    alias = {
        "text": "string",
        "integer": "int",
        "bool": "boolean",
        "numeric": "decimal(38,18)",
        "real": "float",
        "datetime": "timestamp",
        "time": "timestamp",
    }
    return alias.get(key, key)


def load_seed(
    catalog: EngineCatalog,
    name: str,
    csv_path: str,
    column_types: dict[str, str] | None = None,
    full_refresh: bool = True,
    **create_opts,
) -> DataFrame:
    """Seed materialization: typed CREATE TABLE from CSV
    (reference seeds.sql:1-35). Returns the loaded DataFrame."""
    spark = catalog.spark
    schema_map = infer_seed_schema(spark, csv_path, column_types)
    raw = spark.read.csv(csv_path, header=True)
    typed = raw.select(
        *[F.col(c).cast(t).alias(c) for c, t in schema_map.items()]
    )
    mode = "overwrite" if full_refresh or not catalog.is_table(name) else "error"
    catalog.create_table(name, typed, mode=mode, **create_opts)
    return catalog.read(name)
