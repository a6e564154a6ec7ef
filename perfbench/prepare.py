#!/usr/bin/env python3
"""Build a workload's inputs: its fixture tables and cached oracle results.

    python3 perfbench/prepare.py <workload>

Run from the repository root. ``run.py`` calls it in a child process the
first time a checkout runs a workload, so the measured process's peak
RSS never includes fixture generation or the DuckDB oracles.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import oracles  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def data_root(root: str) -> str:
    return os.path.join(root, ".bench_build", "perfbench", "data")


def main(workload: str) -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    wl = WORKLOADS[workload]
    data_dir, _ = fixtures.ensure(data_root(root), wl.sf)

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    oracle = oracles.load_comparator(root)
    for name in wl.models:
        oracles.expected(oracle, sqls[name], data_dir)
    with open(oracles.ready_marker(data_dir, wl.name), "w"):
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
