#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/selfcheck.py <verify_out_dir> <sf_dir> [query ...]

Reads each <out>/<name> parquet written by graft.Verify, runs the matching
oracle SQL from <out>/oracle_sql.json in DuckDB over the same test-data
parquet, and compares as the driver does: columns sorted by name, rows
sorted, values normalized (timestamps → µs ints, floats rounded).
"""
import json, sys, glob, os, tempfile
import duckdb

def norm_cell(v):
    # Mirror the driver: values are hashed RAW (floats compared exactly,
    # not rounded) — a local pass must never be weaker than the driver's.
    import datetime, math
    if isinstance(v, datetime.datetime):
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v
    return v

def frame_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # A bounded buffer pool that spills to a private dir under /tmp. At
    # 4 GB q150's oracle runs out of memory; q227's fails to pin a block at
    # 4, 6 and 8 GB and at DuckDB's default (80% of RAM) on a 15 GB host.
    spill = tempfile.TemporaryDirectory(prefix="selfcheck-duckdb-", dir="/tmp")
    con = duckdb.connect(config={"temp_directory": spill.name,
                                 "memory_limit": "8GB"})
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = 0
    names = sorted(oracles) if not only else sorted(only)
    for name in names:
        sql = oracles.get(name)
        res_dir = f"{out_dir}/{name}"
        if not glob.glob(f"{res_dir}/*.parquet"):
            print(f"[FAIL] {name}: no spark result parquet")
            failures += 1
            continue
        got_q = f"SELECT * FROM '{res_dir}/*.parquet'"
        got = con.execute(got_q)
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        # Exact logical types via DESCRIBE: the DB-API .description type
        # code collapses BIGINT and HUGEINT into one code ('NUMBER'), which
        # is exactly how the r9 local sweep certified q277 while the driver
        # (hashing raw arrow values, where HUGEINT != int64) failed it.
        got_types = dict(
            (r[0], r[1]) for r in con.execute(f"DESCRIBE {got_q}").fetchall())
        if sql is None:
            print(f"[rows-only] {name}: {len(got_rows)} rows")
            continue
        try:
            exp_types = dict(
                (r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall())
            exp = con.execute(sql)
            exp_cols = [d[0] for d in exp.description]
            exp_rows = exp.fetchall()
        except Exception as e:
            print(f"[FAIL] {name}: oracle error: {e}")
            failures += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"[FAIL] {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            failures += 1
            continue
        # Any HUGEINT/DECIMAL in the ORACLE output is an unconditional fail:
        # no Spark type can hash-match it at the driver, whatever the values.
        bad_oracle = {c: t for c, t in exp_types.items()
                      if "HUGEINT" in str(t) or "DECIMAL" in str(t)}
        if bad_oracle:
            print(f"[FAIL] {name}: oracle emits driver-unhashable types: {bad_oracle}")
            failures += 1
            continue
        ty_diff = {c: (got_types[c], exp_types[c]) for c in got_types
                   if got_types[c] != exp_types[c]
                   # TIMESTAMP_NS vs TIMESTAMP etc. normalize in norm_cell
                   and not (str(got_types[c]).startswith("TIMESTAMP")
                            and str(exp_types[c]).startswith("TIMESTAMP"))}
        if ty_diff:
            print(f"[FAIL] {name}: column types diverge (spark, oracle): {ty_diff}")
            failures += 1
            continue
        g, e = frame_key(got_rows, got_cols), frame_key(exp_rows, exp_cols)
        if g == e:
            print(f"[OK]   {name}: {len(g)} rows")
        else:
            failures += 1
            print(f"[FAIL] {name}: {len(g)} vs {len(e)} rows")
            diff_g = [r for r in g if r not in set(e)][:3]
            diff_e = [r for r in e if r not in set(g)][:3]
            print(f"   spark-only: {diff_g}")
            print(f"   oracle-only: {diff_e}")
    print(f"== {failures} failures / {len(names)} queries")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
