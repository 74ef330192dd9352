"""Compares analytics results with the program's DuckDB oracle SQL.

Schema and exact row multiset, columns sorted by name and rows sorted, the
way the repository's tools/check.py gates correctness.
"""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(data_dir, results_dir, oracle_sql):
    """{query: reason} for every query whose result differs from its
    oracle; empty when all match."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = canon(con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'").df())
            want = canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns):
                bad[name] = f"columns {list(got.columns)} != {list(want.columns)}"
            elif [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
                bad[name] = f"dtypes {list(got.dtypes)} != {list(want.dtypes)}"
            elif len(got) != len(want):
                bad[name] = f"rows {len(got)} != {len(want)}"
            elif not got.equals(want):
                bad[name] = "values differ"
        except Exception as e:  # a failed query is a failed check
            bad[name] = f"{type(e).__name__}: {e}"
    con.close()
    return bad
