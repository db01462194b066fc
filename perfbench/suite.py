"""The operator query suite: registered queries over generated tables.

Each query runs through ``toPandas`` (the result is consumed inside
the timed region) and is checked afterwards against the registry's
``oracle_sql()`` with DuckDB, using the canonical form and dtype-kind
rule of ``tools/check_parity.py``.
"""

from __future__ import annotations

import importlib.util
import os

# The btrank and graph round loops ROADMAP direction 3 targets (see
# METRICS.md for why the suite is this small).
QUERIES = ["bt_strengths", "pagerank"]


def load_check_parity(repo: str):
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(repo, "tools", "check_parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_connection(tables: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(parity, con, oracle_sql: str, got) -> list[str]:
    """Row count, column names, dtype kinds and canonical values of a
    query's pandas result against its DuckDB oracle."""
    want = con.execute(oracle_sql).fetchdf()
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    gk, wk = parity.dtype_kinds(got), parity.dtype_kinds(want)
    bad = {c: (gk[c], wk[c]) for c in gk if gk[c] != wk[c]
           and not (gk[c] == "object" and got[c].isna().all())
           and not (wk[c] == "object" and want[c].isna().all())}
    if bad:
        return [f"dtype kinds differ: {bad}"]
    a, b = parity.canon(got), parity.canon(want)
    n_bad = sum(1 for x, y in zip(a, b) if x != y)
    return [f"{n_bad}/{len(a)} rows differ"] if n_bad else []
