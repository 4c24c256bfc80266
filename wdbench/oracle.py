"""DuckDB oracle check of registry query results.

For each query the Spark result (one parquet directory, written in the
set-up pass) is compared with the query's `SparkEntry.oracleSql` run in
DuckDB over the same input tables, exactly as the project's oracle gate
`tools/local_verify.py` compares them: its `canon` normalizes both
frames (columns sorted by name, floats rounded, rows sorted), then the
column names, the row count and the row values must all be equal.
"""
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from local_verify import TABLES, canon  # noqa: E402


def check(tables_dir, results_dir, queries):
    """Return {query: {"ok", "rows", "err"}} where rows is the
    oracle's row count (None when the oracle could not run)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(tables_dir, t + ".parquet")))
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    out = {}
    for q in queries:
        res = {"ok": False, "rows": None, "err": None}
        out[q] = res
        if q not in sql:
            res["err"] = "no oracle SQL"
            continue
        try:
            want = canon(con.execute(sql[q]).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            res["err"] = "oracle: %s" % str(e)[:300]
            continue
        res["rows"] = len(want)
        path = os.path.join(results_dir, q)
        if not os.path.isdir(path):
            res["err"] = "no Spark result"
            continue
        got = canon(pd.read_parquet(path))
        if list(got.columns) != list(want.columns):
            res["err"] = "columns %s != %s" % (list(got.columns), list(want.columns))
        elif len(got) != len(want):
            res["err"] = "rows %d != %d" % (len(got), len(want))
        elif got.values.tolist() != want.values.tolist():
            res["err"] = "values differ"
        else:
            res["ok"] = True
    con.close()
    return out
