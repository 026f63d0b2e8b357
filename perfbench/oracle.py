"""Check a run's collected outputs against their DuckDB oracles, in a
process of its own so that DuckDB's CPU and memory stay out of the
engine's figures.

    python3 -m perfbench.oracle DATA_DIR OUT_DIR

``OUT_DIR`` holds ``oracles.json`` (row name to oracle SQL, or null for
a row without one) and one pickled pandas frame ``<row>.pkl`` per row.
The comparison is the engine test suite's ``compare_with_oracle``.
Prints one JSON object mapping each row to its verdict: ``match``,
``rows only`` (no oracle) or what differs.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import duckdb
import pandas as pd

from tests.oracle_utils import compare_with_oracle, duckdb_con


def verdict(con, sql: str | None, got: pd.DataFrame) -> str:
    if sql is None:
        return "rows only"  # no oracle: the cross-pass check applies
    try:
        g, w = compare_with_oracle(SimpleNamespace(toPandas=lambda: got), con, sql)
    except AssertionError as e:
        return f"oracle strictness: {e}"
    except duckdb.Error as e:
        return f"oracle error: {e}"
    if g != w:
        return f"oracle mismatch: {len(g)} rows vs {len(w)} expected"
    return "match"


def main(data_dir: str, out_dir: str) -> None:
    with open(os.path.join(out_dir, "oracles.json")) as f:
        oracles = json.load(f)
    con = duckdb_con(data_dir)
    try:
        out = {
            q: verdict(con, sql, pd.read_pickle(os.path.join(out_dir, f"{q}.pkl")))
            for q, sql in oracles.items()
        }
    finally:
        con.close()
    print(json.dumps(out))


if __name__ == "__main__":
    main(*sys.argv[1:])
