"""Output check: each query's result against its DuckDB oracle.

The rules are those of the project's oracle compare (dev/check.py):
columns sorted by name, rows sorted by every column, equal row counts,
matching dtype kinds, floats equal exactly (NaN matching NaN) and every
other column equal as strings. Oracle results are cached by the hash of
their SQL and the data set, because the data is fixed.
"""
import glob
import hashlib
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(data_dir, tmp_dir):
    import duckdb
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle(con, sql, cache_dir, data_id):
    import pandas as pd
    key = hashlib.sha256((data_id + "\n" + sql).encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.isfile(path):
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def compare(exp, got):
    """None when equal under the oracle rules, else the first difference."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"cols exp={list(exp.columns)} got={list(got.columns)}"
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind != g.dtype.kind:
            return f"col {c} dtype kind differs: exp={e.dtype} got={g.dtype}"
        if e.dtype.kind == "f":
            same = (e.isna() & g.isna()) | (e == g)
        else:
            same = e.astype(str).fillna("<NA>") == g.astype(str).fillna("<NA>")
        if not same.all():
            bad = (~same).idxmax()
            return f"col {c} differs, e.g. row {bad}: exp={e[bad]!r} got={g[bad]!r}"
    return None


def check(names, oracle_sql, results_dir, data_dir, work_dir, data_id, errors):
    """{query name: failure text} for every query whose output is wrong or
    missing; `errors` are the harness's exceptions from the output pass."""
    con = connect(data_dir, os.path.join(work_dir, "duckdb_tmp"))
    failed = {}
    for n in names:
        if n in errors:
            failed[n] = errors[n]
            continue
        if n not in oracle_sql:
            failed[n] = "no oracle SQL"
            continue
        files = glob.glob(os.path.join(results_dir, n, "*.parquet"))
        if not files:
            failed[n] = "no output written"
            continue
        try:
            exp = oracle(con, oracle_sql[n], os.path.join(work_dir, "oracle"), data_id)
            got = con.sql(f"SELECT * FROM read_parquet('{results_dir}/{n}/*.parquet')").df()
            diff = compare(exp, got)
        except Exception as ex:  # an oracle or read error fails the query
            diff = f"{type(ex).__name__}: {ex}"
        if diff:
            failed[n] = diff
    con.close()
    return failed
