"""Batch output check: each query's checked output against its oracle SQL
run by DuckDB on the same fixture parquet, by the rules of the
repository's oracle compare (columns sorted by name, then identical column
names, row counts, dtypes and values).

The fixtures are fixed, so the oracle's answer to a given SQL text is too:
it is computed once and kept as a digest under the cache directory, keyed
by the SQL text and the fixture version. The program's output is digested
the same way on every run.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

from fixtures import LAYOUT_VERSION, TABLES


def digest(df):
    """Columns, dtypes, row count and a hash of every value, columns in
    name order; two frames get equal digests iff DataFrame.equals holds
    (up to hash collisions)."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    rows = pd.util.hash_pandas_object(df, index=False).values.tobytes()
    return {"columns": list(df.columns),
            "dtypes": [str(t) for t in df.dtypes],
            "rows": len(df), "hash": hashlib.sha256(rows).hexdigest()}


def diff(got, want):
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} vs {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} vs {want['rows']}"
    if got["dtypes"] != want["dtypes"]:
        return f"dtypes {got['dtypes']} vs {want['dtypes']}"
    if got["hash"] != want["hash"]:
        return "values differ"
    return None


def compare(fixture_dir, outputs_dir, oracle_sql, cache_dir):
    """Return {query: error string or None} for every query in oracle_sql."""
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture_dir}/{t}.parquet')")
    result = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(outputs_dir, name, "*.parquet"))
        if not files:
            result[name] = "no checked output"
            continue
        key = hashlib.sha256(
            f"{LAYOUT_VERSION}\n{fixture_dir}\n{sql}".encode()).hexdigest()
        path = os.path.join(cache_dir, f"{name}-{key[:16]}.json")
        try:
            if os.path.exists(path):
                with open(path) as f:
                    want = json.load(f)
            else:
                want = digest(con.execute(sql).fetchdf())
                with open(path + ".tmp", "w") as f:
                    json.dump(want, f)
                os.replace(path + ".tmp", path)
            got = digest(con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf())
        except Exception as e:  # an oracle that cannot run is a failure
            result[name] = f"oracle error: {e}"
            continue
        result[name] = diff(got, want)
    con.close()
    return result
