"""DuckDB oracle check for the graph-small workload.

Each query's parquet dump is compared with its `SparkEntry.oracleSql`
statement run by DuckDB over the same generated tables. Both sides are
canonicalized the way tools/oracle_check.py does it: columns sorted by
name, rows sorted by raw values, values rendered with floats to 6
significant digits and NULL/NaN as \\N. A query without an oracle must at
least produce its dump.
"""
import glob
import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def canon_val(v):
    if v is None or v is pd.NaT or \
            (isinstance(v, (float, np.floating)) and math.isnan(float(v))):
        return "\\N"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "0" if v == 0 else f"{v:.6g}"
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(canon_val(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canon_df(df):
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(list(df.columns))
    return [tuple(canon_val(v) for v in row)
            for row in df.itertuples(index=False, name=None)]


def compare(spark_df, duck_df):
    """None when the two frames agree after canonicalization, else why not."""
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    s, d = canon_df(spark_df), canon_df(duck_df)
    if s == d:
        return None
    only_s = [r for r in s if r not in set(d)][:2]
    only_d = [r for r in d if r not in set(s)][:2]
    return f"{len(s)} rows vs {len(d)} oracle rows; engine-only {only_s}, oracle-only {only_d}"


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def check(data_dir, dump_dir, oracle_json, queries):
    """Returns one message per query whose dump is missing or disagrees."""
    with open(oracle_json) as fh:
        oracle = json.load(fh)
    con = connect(data_dir)
    bad = []
    for q in queries:
        files = glob.glob(os.path.join(dump_dir, q, "*.parquet"))
        if not files:
            bad.append(f"{q}: no output")
            continue
        if q not in oracle:
            continue
        try:
            why = compare(pq.read_table(files).to_pandas(date_as_object=False),
                          con.execute(oracle[q]).df())
        except Exception as e:  # an oracle or canonicalization error fails the check
            why = repr(e)
        if why:
            bad.append(f"{q}: {why}")
    return bad
