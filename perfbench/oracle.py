"""Compare the engine's query results with their DuckDB oracle SQL.

Spark writes each query's rows as parquet; the oracle runs over the same
generated tables in DuckDB. Columns are matched by name and rows compared
as sorted multisets; floats must agree to 1e-9 relative, everything else
exactly.
"""
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["documents", "embeddings", "events"]


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(list(v)) if isinstance(v, np.ndarray)
                              else str(v))
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort") \
             .reset_index(drop=True)


def _diff(spark_df, duck_df):
    """None when equal, else a one-line reason."""
    s, d = _normalize(spark_df), _normalize(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        if np.issubdtype(s[c].dtype, np.number) and np.issubdtype(d[c].dtype, np.number):
            a = s[c].to_numpy(dtype=float)
            b = d[c].to_numpy(dtype=float)
            ok = np.isclose(a, b, rtol=1e-9, atol=1e-12) | (np.isnan(a) & np.isnan(b))
        else:
            ok = (s[c].astype(str).to_numpy() == d[c].astype(str).to_numpy())
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{c} row {i}: {s[c].iloc[i]!r} vs {d[c].iloc[i]!r}"
    return None


def check(tables_dir, results, sqls):
    """{query: reason} for every query whose rows differ from its oracle;
    `results` maps query -> parquet dir, `sqls` query -> oracle SQL."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for q, sql in sorted(sqls.items()):
        try:
            spark_df = pd.read_parquet(results[q])
            duck_df = con.execute(sql).df()
            why = _diff(spark_df, duck_df)
        except Exception as e:                    # noqa: BLE001 - report, not raise
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            bad[q] = why
    con.close()
    return bad
