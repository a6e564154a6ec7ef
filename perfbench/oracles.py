"""Correctness checks against the DuckDB oracles.

The comparison is the tier-1 tests' pandas-level comparator
(``tests/oracle.py``). The DuckDB side is cached beside the fixture: an
oracle is a fixed function of its SQL and the fixture tables, and a
fixture rewrite removes the cache with it.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os


class CheckFailed(Exception):
    """A model's output differs from its oracle's."""


def load_comparator(root: str):
    """The repository's ``tests/oracle.py`` module."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(root, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def ready_marker(data_dir: str, workload: str) -> str:
    return os.path.join(data_dir, "_oracle", f"{workload}.ready")


def expected(oracle, sql: str, data_dir: str):
    """The oracle's result as a pandas frame, computed once per fixture."""
    import pandas as pd

    path = os.path.join(data_dir, "_oracle", hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = oracle.duckdb_connection(data_dir)
    try:
        pdf = con.execute(sql).df()
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_pickle(path)
    return pdf


def compare(oracle, got_pdf, sql: str, data_dir: str) -> None:
    """Raise ``CheckFailed`` unless ``got_pdf`` equals the oracle's result
    as the tier-1 comparator canonicalizes both."""
    got_cols, got = oracle._pdf_canon(got_pdf)
    want_cols, want = oracle._pdf_canon(expected(oracle, sql, data_dir))
    if got_cols != want_cols:
        raise CheckFailed(f"column mismatch: spark={got_cols} oracle={want_cols}")
    if len(got) != len(want):
        raise CheckFailed(f"row count: spark={len(got)} oracle={len(want)}")
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    if bad:
        raise CheckFailed(f"{len(bad)} value mismatches; first: {bad[0]}")
