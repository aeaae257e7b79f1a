"""DuckDB oracle check of curation outputs.

Each entry's rows (parquet written by the untimed warm pass) are compared
with the entry's registered oracle SQL run by DuckDB over the same corpus,
under the repository's comparison rules: columns sorted by name, rows
sorted, strings compared as text, floats rounded to 6 places, dates
without a time part compared as dates, then values compared with
rtol 1e-9 / atol 1e-6.
"""
import glob
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            dt = pd.to_datetime(df[c])
            if (dt.dt.time == pd.Timestamp("00:00:00").time()).all():
                df[c] = dt.dt.date.astype(str)
            else:
                df[c] = dt.astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(corpus, out_dir, entries, oracle_sql):
    """Returns {entry: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet/*.parquet'")
    verdict = {}
    for name in entries:
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(p) for p in files]) if files else None
            if got is None:
                verdict[name] = "no output"
                continue
            if name not in oracle_sql:
                verdict[name] = None if len(got) else "no rows"
                continue
            s, d = _canon(got), _canon(con.sql(oracle_sql[name]).df())
            if list(s.columns) != list(d.columns):
                verdict[name] = f"columns {list(s.columns)} != oracle {list(d.columns)}"
            elif len(s) != len(d):
                verdict[name] = f"rows {len(s)} != oracle {len(d)}"
            else:
                pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=False,
                                              rtol=1e-9, atol=1e-6)
                verdict[name] = None
        except Exception as e:  # a failed comparison is a failed check, reported
            verdict[name] = f"{type(e).__name__}: {str(e)[:300]}"
    con.close()
    return verdict
