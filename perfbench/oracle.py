"""Compares the engine's checked outputs with their registered DuckDB
oracle queries over the same input tables, the way the repository's
correctness gate does: columns sorted by name, rows sorted, values and
dtypes compared exactly."""
import glob
import hashlib
import os

import duckdb
import pandas as pd


def compare(data_dir, checks, tables, cache_dir, data_key):
    """Runs each check's oracle SQL over `data_dir`; returns
    (names that matched, failure messages). Oracle results are cached
    under `cache_dir` by (data_key, SQL): the inputs are a pure function
    of the seed and scale that `data_key` names."""
    con = duckdb.connect()
    # it runs after the harness JVM has exited: every core is free
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    os.makedirs(cache_dir, exist_ok=True)

    def oracle_df(sql):
        key = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".pkl")
        if os.path.isfile(path):
            return pd.read_pickle(path)
        df = con.execute(sql).fetchdf()
        df.to_pickle(path + f".{os.getpid()}")
        os.replace(path + f".{os.getpid()}", path)
        return df

    ok, fails = [], []
    for c in checks:
        name = c["name"]
        try:
            files = glob.glob(f"{c['dir']}/*.parquet")
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            duck_df = oracle_df(c["sql"])
        except Exception as e:  # a failing oracle is a failed check
            fails.append(f"{name}: {type(e).__name__}: {e}")
            continue
        why = _diff(spark_df, duck_df)
        if why:
            fails.append(f"{name}: {why}")
        else:
            ok.append(name)
    con.close()
    return ok, fails


def _diff(s, d):
    s = s.reindex(sorted(s.columns), axis=1)
    d = d.reindex(sorted(d.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    s = s.sort_values(list(s.columns)).reset_index(drop=True)
    d = d.sort_values(list(d.columns)).reset_index(drop=True)
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            return f"dtype[{c}] {s[c].dtype} vs {d[c].dtype}"
        neq = ~((s[c] == d[c]) | (s[c].isna() & d[c].isna()))
        if neq.any():
            i = neq.idxmax()
            return f"value[{c}] row {i}: {s[c][i]!r} vs {d[c][i]!r}"
    return None
