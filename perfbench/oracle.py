"""Output checks against DuckDB.

`compare` applies the exact rules of the engine's local oracle gate
(tools/local_verify.py): same column set, no HUGEINT/DECIMAL leaking from
the oracle, same dtype kind per column, then row count and values compared
exactly after sorting (NaN equals NaN, floats compared with ==).
"""
import hashlib
import os


def read(con, pdir):
    return con.sql(f"SELECT * FROM read_parquet('{pdir}/*.parquet')")


def compare(con, pdir, sql):
    """None when the Spark output under `pdir` equals the oracle's result,
    else the first difference."""
    if not os.path.isdir(pdir):
        return "no spark output"
    try:
        spark_df = read(con, pdir).df()
        rel = con.sql(sql)
        duck_df = rel.df()
    except Exception as e:
        return f"read error: {e}"
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return f"columns spark={sc} duck={dc}"
    leaks = [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
             if "HUGEINT" in t.upper() or "DECIMAL" in t.upper()]
    if leaks:
        return f"oracle emits HUGEINT/DECIMAL: {leaks}"
    kinds = [f"{c}: spark={spark_df[c].dtype} duck={duck_df[c].dtype}"
             for c in sc if spark_df[c].dtype.kind != duck_df[c].dtype.kind]
    if kinds:
        return f"dtype kind mismatch {kinds}"
    s = spark_df[sc].sort_values(sc).reset_index(drop=True)
    d = duck_df[dc].sort_values(dc).reset_index(drop=True)
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in sc:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            neq = ~((a.isna() & b.isna()) | (a == b))
        else:
            neq = ~((a.isna() & b.isna()) | (a.astype(object) == b.astype(object)))
        if neq.any():
            i = neq.idxmax()
            return f"col {c} row {i}: spark={a[i]!r} duck={b[i]!r}"
    return None


def digest(con, pdir):
    """(row count, SHA-256 of the sorted rows) of a Spark output."""
    if not os.path.isdir(pdir):
        return 0, None
    rows = sorted(repr(r) for r in read(con, pdir).fetchall())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()
