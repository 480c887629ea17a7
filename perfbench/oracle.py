"""DuckDB oracle for the catalog workload.

Each query's output (parquet, written by the correctness pass) must equal
its `SparkEntry.oracleSql` evaluated by DuckDB over the same input tables,
compared as sorted row sets with columns in name order.
"""
import json
import os

TABLES = ["documents", "orders", "customer", "nation"]


def _norm(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def compare(input_dir, check_dir):
    """Returns a list of (query, ok, detail)."""
    import duckdb

    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(input_dir, t + ".parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    results = []
    for name, sql in sorted(oracle.items()):
        try:
            want = con.execute(sql).fetchdf()
            got_path = os.path.join(check_dir, name, "*.parquet")
            got = duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{got_path}')").fetchdf()
            if sorted(want.columns) != sorted(got.columns):
                results.append((name, False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"))
                continue
            ok = _norm(want).equals(_norm(got))
            results.append((name, ok, f"{len(got)} rows vs {len(want)} expected"))
        except Exception as e:  # a query whose output cannot be read failed
            results.append((name, False, repr(e)[:200]))
    return results
