"""Fixture-table registry: parquet scans for the driver testdata.

Reference parity: the adapter's table scan is a catalog lookup +
``select ... from project.schema.table`` (Tutorial.md:17-50); here a
scan is ``spark.read.parquet`` — columnar, with predicate pushdown and
column pruning handled by Catalyst (check ``PushedFilters`` /
``ReadSchema`` in ``df.explain("formatted")``).

At 100 TB each table is a directory of many files (or a catalog
table); this module only centralizes naming so every operator reads
through one door.

A source's schema is resolved once per session per file set. A bare
``spark.read.parquet`` submits a footer-reading job to infer the schema
on every call (85-123 ms per scan on a warm 4-core session, against
15-27 ms with the schema supplied), so :func:`source_schema` keeps, per
``SparkSession``, the schema Spark inferred for each set of data files,
keyed on the files' real paths and checked against their size and
``mtime_ns``. A rewrite changes those, and the next call infers
again (one that keeps a file's size and lands within the filesystem's
timestamp granularity would not be seen). Real paths make a symlink to
a file already seen a hit. The map is per session because inference
reads session confs (``spark.sql.legacy.parquet.nanosAsLong``, NTZ
inference).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast in joins at any SF:
# region/nation are fixed-size (5/25 rows at every TPC-H scale factor);
# supplier scales but stays tiny relative to fact tables here.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


# session -> {real paths of the data files: ((size, mtime_ns) per file, schema)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _hidden(name: str) -> bool:
    # Spark's file index skips these (InMemoryFileIndex.shouldFilterOutPathName)
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path] if os.path.exists(path) else []
    out = []
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out.extend(os.path.join(root, f) for f in files if not _hidden(f))
    return out


def source_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    session for an unchanged set of data files (module docstring)."""
    stats = {}
    for f in _data_files(path):
        st = os.stat(f)
        stats[os.path.realpath(f)] = (st.st_size, st.st_mtime_ns)
    key = tuple(sorted(stats))
    fp = tuple(stats[k] for k in key)
    seen = _SCHEMAS.setdefault(spark, {})
    hit = seen.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if key:
        seen[key] = (fp, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name!r} (have {TABLES})")
    path = table_path(sf_dir, name)
    schema = source_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    # The fixture's timestamp physical types have varied across driver
    # generations: TIMESTAMP(NANOS) (read as long via
    # spark.sql.legacy.parquet.nanosAsLong), tz-adjusted µs, and
    # tz-naive µs (read as TIMESTAMP_NTZ in Spark 4). Normalize every
    # variant to plain TIMESTAMP: the session tz is pinned UTC, so the
    # NTZ→TIMESTAMP cast preserves wall-clock values and keeps epoch
    # arithmetic (cast to long / unix_micros) legal downstream.
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        # integer division: ns values exceed 2^53, float division
        # would round the microseconds
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [
        f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each fixture table as a temp view for spark.sql use."""
    for name in names:
        if os.path.exists(table_path(sf_dir, name)):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
