#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: read Verify.scala's
parquet dumps + oracle_sql.json, run each oracle in DuckDB against the
same test tables, compare schema + sorted values exactly.

With a third argument, a parent Verify dump directory, every query
dumped in both directories (the no-oracle ones too) is also compared
with the parent's rows under the same exact rules; any drift is a FAIL.

Usage: python3 tools/local_verify.py [sfdir] [outdir] [parentdir]
(run `sbt "runMain graft.Verify <sfdir> <outdir>"` first)
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
parentdir = sys.argv[3] if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")


def dump(d, name):
    return con.sql(f"SELECT * FROM read_parquet('{d}/{name}/*.parquet')").df()


def dumped(d):
    return {os.path.basename(p.rstrip('/')) for p in glob.glob(f"{d}/*/")}


def mismatch(got, want, labels=("spark", "duck")):
    """The first difference between two frames under the gate's rules
    (same columns, same dtype kinds, same sorted values exactly), or
    None when they are equal."""
    gl, wl = labels
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gl}={gc} {wl}={wc}"
    # the driver's hash is dtype-sensitive: an uncast DuckDB HUGEINT /
    # DECIMAL aggregate surfaces as float64 against Spark's int64 and
    # fails the gate even when values are equal (r10 t21)
    kinds = [f"{c}: {gl}={got[c].dtype} {wl}={want[c].dtype}"
             for c in gc if got[c].dtype.kind != want[c].dtype.kind]
    if kinds:
        return f"dtype kind mismatch {kinds}"
    s = got[gc].sort_values(gc).reset_index(drop=True)
    d = want[wc].sort_values(wc).reset_index(drop=True)
    if len(s) != len(d):
        return f"rows {gl}={len(s)} {wl}={len(d)}"
    # exact value compare (driver hashes values; emulate with exact match)
    for c in gc:
        a, b = s[c], d[c]
        if a.dtype.kind == 'f' or b.dtype.kind == 'f':
            neq = ~((a.isna() & b.isna()) | (a == b))
        else:
            neq = ~((a.isna() & b.isna()) | (a.astype(object) == b.astype(object)))
        if neq.any():
            i = neq.idxmax()
            return f"col {c} row {i}: {gl}={a[i]!r} {wl}={b[i]!r}"
    return None


oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# Verify.scala's failure manifest: any query that threw is a hard FAIL
# here even though it has no output dir (r13: 20 silent absences read
# as all-green); the expected/dumped counts also gate coverage shrinkage
try:
    errs = json.load(open(f"{outdir}/errors.json"))
    man = json.load(open(f"{outdir}/manifest.json"))
except FileNotFoundError:
    errs, man = {}, None
for k, v in sorted(errs.items()):
    print(f"FAIL {k}: query threw: {v[:160]}")
if man:
    print(f"manifest: expected={man['expected']} dumped={man['dumped']} failed={man['failed']}")
# dev knob mirroring Verify.scala's SPARK_GRAFT_ONLY subset dumps
only = os.environ.get("SPARK_GRAFT_ONLY")
if only:
    keep = {k.strip() for k in only.split(",")}
    oracle = {k: v for k, v in oracle.items() if k in keep}
ok = fail = 0
for name, sql in sorted(oracle.items()):
    if name in errs:
        continue  # already a hard FAIL via the errors.json count below
    pdir = f"{outdir}/{name}"
    if not os.path.isdir(pdir):
        print(f"FAIL {name}: no spark output dir"); fail += 1; continue
    try:
        spark_df = dump(outdir, name)
        duck_df = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {e}"); fail += 1; continue
    # the declared-type leak, caught before the dtype-kind check
    rel = con.sql(sql)
    leaks = [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
             if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()]
    if leaks:
        print(f"FAIL {name}: oracle emits HUGEINT/DECIMAL (cast to BIGINT/DOUBLE): {leaks}")
        fail += 1; continue
    try:
        m = mismatch(spark_df, duck_df)
    except Exception as e:
        m = f"compare error {e}"
    if m:
        print(f"FAIL {name}: {m}"); fail += 1
    else:
        print(f"OK   {name} ({len(spark_df)} rows)"); ok += 1

# queries without oracle: rows-only
for name in sorted(dumped(outdir)):
    if name in oracle: continue
    try:
        df = dump(outdir, name)
        n = len(df)
        # the driver sorts rows-only outputs too — reproduce its crash
        # on unhashable (ndarray) cells so it can't ship again (r10 a14/t22)
        df.sort_values(list(df.columns))
        print(f"ROWS {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
    except Exception as e:
        print(f"ROWS {name}: read/sort error {e}"); fail += 1

# parent compare: every query dumped in both directories, oracle or not
if parentdir:
    ours, theirs = dumped(outdir), dumped(parentdir)
    same = 0
    for name in sorted(ours & theirs):
        try:
            m = mismatch(dump(outdir, name), dump(parentdir, name), ("new", "parent"))
        except Exception as e:
            m = f"compare error {e}"
        if m:
            print(f"FAIL {name}: differs from parent: {m}"); fail += 1
        else:
            print(f"SAME {name}"); same += 1
    print(f"parent: {same}/{len(ours & theirs)} dumps equal; "
          f"only new: {sorted(ours - theirs)}; only parent: {sorted(theirs - ours)}")

fail += len(errs)
# enforce the manifest, don't just print it: a reused outdir with stale
# dirs (or dumps missing without an errors.json entry) must fail the gate
if man:
    actual_dirs = len(dumped(outdir))
    if actual_dirs != man['dumped']:
        print(f"FAIL manifest: dumped={man['dumped']} but {actual_dirs} output dirs found")
        fail += 1
print(f"\n{ok} OK, {fail} FAIL")
sys.exit(1 if fail else 0)
