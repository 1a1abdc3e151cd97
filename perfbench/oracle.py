"""DuckDB oracle check of query_suite results.

The runner writes each query's result as parquet once per run, with the
query's oracle SQL from SparkEntry.oracleSql. Both sides are compared as
multisets of rows under the rules of tools/check.py: columns by name,
exact for integers and strings, floats equal or within 1e-9, and nulls
equal to nulls. Dtype differences alone are not failures.
"""
import glob
import json
import math

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (0, "") if math.isnan(v) else (1, v)
    try:
        if pd.isna(v):
            return (0, "")
    except (TypeError, ValueError):
        pass
    return (2, str(v))


def _rows(df):
    df = df[sorted(df.columns)]
    return sorted((tuple(_key(v) for v in row) for row in df.itertuples(index=False, name=None)),
                  key=lambda r: tuple((k, v if k == 1 else 0.0, v if k == 2 else "") for k, v in r))


def _cell_eq(a, b):
    if a[0] != b[0]:
        return False
    if a[0] == 1:
        return a[1] == b[1] or math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check(data_dir, out_dir):
    """Return {query: None if it matches its oracle, else a reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    result = {}
    for name, sql in oracles.items():
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not sql:
            result[name] = "no oracle SQL"
            continue
        if not files:
            result[name] = "no result written"
            continue
        got_df = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        try:
            exp_df = con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            result[name] = f"oracle error: {e}"[:300]
            continue
        if sorted(got_df.columns) != sorted(exp_df.columns):
            result[name] = f"columns {sorted(got_df.columns)} != {sorted(exp_df.columns)}"
            continue
        got, exp = _rows(got_df), _rows(exp_df)
        if len(got) != len(exp):
            result[name] = f"rows {len(got)} != {len(exp)}"
            continue
        bad = next((i for i, (g, e) in enumerate(zip(got, exp))
                    if not all(_cell_eq(x, y) for x, y in zip(g, e))), None)
        result[name] = None if bad is None else f"row {bad}: {got[bad]} != {exp[bad]}"[:300]
    return result
