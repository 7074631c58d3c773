"""DuckDB oracle for the query_sweep outputs.

Each query's rows, as the engine produced them in a timed pass, are
compared with the rows of its oracle SQL (`SparkEntry.oracleSql`) run by
DuckDB over the same tables, by the rule of `devtools/compare.py`: same
column-name set, same row count, and the same rows once rows are sorted
and columns ordered by name. Floats compare by their exact repr; nothing
is rounded or exempted here. A query without oracle SQL fails.
"""
import json
import os
import sys

import duckdb

# the comparison rule is the project's own (devtools/compare.py)
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "devtools"))
from compare import TABLES, canon  # noqa: E402


def check(run_dir, data_dir):
    """Returns {(pass, query): reason} for every output that differs from
    its oracle."""
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    expected = {}
    failures = {}
    out = os.path.join(run_dir, "out")
    for unit in sorted(os.listdir(out), key=int) if os.path.isdir(out) else []:
        for name in sorted(os.listdir(os.path.join(out, unit))):
            key = (int(unit), name)
            try:
                if name not in expected:
                    ora = con.sql(oracles[name])
                    o_cols, o_rows = [d[0] for d in ora.description], ora.fetchall()
                    expected[name] = (sorted(o_cols), len(o_rows), canon(o_rows, o_cols))
                eng = con.sql(f"SELECT * FROM '{out}/{unit}/{name}/*.parquet'")
                e_cols, e_rows = [d[0] for d in eng.description], eng.fetchall()
            except Exception as exc:  # an oracle or read error fails the query
                failures[key] = f"oracle compare raised {exc}"
                continue
            cols, n, rows = expected[name]
            if sorted(e_cols) != cols:
                failures[key] = f"columns {sorted(e_cols)}, oracle {cols}"
            elif len(e_rows) != n:
                failures[key] = f"{len(e_rows)} rows, oracle {n}"
            else:
                got = canon(e_rows, e_cols)
                diff = next((g, w) for g, w in zip(got, rows) if g != w) if got != rows else None
                if diff:
                    failures[key] = f"row {diff[0]} where the oracle has {diff[1]}"
    return failures
