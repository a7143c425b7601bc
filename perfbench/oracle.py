"""DuckDB oracle check for the `corpus` workload.

Each query's result, written as parquet by the warm-up pass, must equal
its declared oracle SQL run by DuckDB over the same generated inputs:
same columns, same row count, same rows after sorting, floats compared
at 6 decimals (the normalisation of the engine's own oracle gate).
"""
import glob
import json
import os

import duckdb
import pandas as pd


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(in_dir, out_dir):
    """Return {query: failure reason} for every query that disagrees."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{in_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    failures = {}
    for name, sql in sorted(oracles.items()):
        if not sql:
            failures[name] = "no oracle SQL declared"
            continue
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            failures[name] = "no engine output"
            continue
        try:
            got = _norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            want = _norm(con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            failures[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if list(got.columns) != list(want.columns):
            failures[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            failures[name] = f"rows {len(got)} vs {len(want)}"
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                              check_exact=False, rtol=1e-9, atol=1e-9)
            except AssertionError as e:
                failures[name] = str(e).splitlines()[0][:200]
    return failures
