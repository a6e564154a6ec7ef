"""SET-statement preamble extraction and scoped application.

Reference parity: the adapter strips leading ``set k=v;`` statements
from every submitted script with a comment-aware character scanner and
ships them as per-query hints
(`/root/reference/dbt/adapters/maxcompute/setting_parser.py:20-126`,
unit-tested in `tests/unit_test/setting_parser_test.py`). Semantics
reproduced here:

- only the *preamble* is scanned: the scan stops at the first
  non-comment, non-SET content (a later ``set ...`` belongs to the
  query text);
- ``--`` line comments and ``/* */`` block comments (lexed by
  ``sqltext``, as Spark lexes them) may interleave the preamble and
  survive into the remaining query;
- values may escape semicolons as ``\\;``;
- malformed statements (missing ``=``, empty key, missing ``;``)
  are reported as errors and left in place.

Spark mapping: ``spark.*``/``dbt_maxcompute_spark.*`` keys apply as
session confs scoped to one statement (set, run, restore); ``odps.*``
hints are recorded but inert — the reference forwards them to a
warehouse we replace (its global defaults at ``context.py:3-13`` are
Spark defaults already: full scans, cartesian joins, schema evolution
all allowed). The pseudo-hints ``dbt.execution_mode``/
``dbt.quota_name`` are consumed and never applied, mirroring
``wrapper.py:78-104``.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from dbt_maxcompute_spark.plans.sqltext import skip_comments

# hints the reference consumes without sending anywhere (wrapper.py:84-94)
PSEUDO_HINTS = ("dbt.execution_mode", "dbt.quota_name")


@dataclass
class ParsedScript:
    settings: dict[str, str] = field(default_factory=dict)
    remaining_query: str = ""
    errors: list[str] = field(default_factory=list)


def _scan_kv(s: str, i: int) -> tuple[int, str | None]:
    """Scan to the closing unescaped ';'. Returns (pos_after, kv_text)
    with kv_text None when no terminator was found."""
    start = i
    while i < len(s):
        if s[i] == ";" and (i == start or s[i - 1] != "\\"):
            return i + 1, s[start:i]
        i += 1
    return i, None


def parse_set_preamble(script: str) -> ParsedScript:
    """Extract leading ``set key=value;`` statements from a SQL script."""
    out = ParsedScript()
    cut: list[tuple[int, int]] = []  # [start, end) ranges to remove
    i, n = 0, len(script)
    while (i := skip_comments(script, i)) < n:
        if script[i : i + 3].lower() == "set" and i + 3 < n and script[i + 3].isspace():
            stmt_start = i
            j = i + 4
            while j < n and script[j].isspace():
                j += 1
            if j >= n:
                out.errors.append("invalid SET statement: nothing after 'set'")
                break
            j, kv = _scan_kv(script, j)
            if kv is None:
                out.errors.append("invalid SET statement: missing ';'")
                break
            key, eq, value = kv.partition("=")
            key = key.strip()
            if not eq:
                out.errors.append(f"invalid SET statement {kv!r}: missing '='")
            elif not key:
                out.errors.append(f"invalid SET statement {kv!r}: empty key")
            else:
                out.settings[key] = value.strip().replace("\\;", ";")
                cut.append((stmt_start, j))
            i = j
        else:
            break  # first real content: preamble over

    pieces, pos = [], 0
    for a, b in cut:
        pieces.append(script[pos:a])
        pos = b
    pieces.append(script[pos:])
    out.remaining_query = "".join(pieces)
    return out


def split_hints(settings: dict[str, str]) -> tuple[dict[str, str], dict[str, str]]:
    """(applicable_spark_confs, recorded_inert_hints). Pseudo-hints and
    odps.* are inert; spark.* and anything else apply as confs."""
    apply, record = {}, {}
    for k, v in settings.items():
        if k in PSEUDO_HINTS or k.startswith("odps."):
            record[k] = v
        else:
            apply[k] = v
    return apply, record


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set confs for one statement, restoring prior values after —
    the Spark analog of per-query hints."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, old)
