#!/usr/bin/env python3
"""Regenerate lakebench/expected.json, the expected result of every
olap_short operation on the generated sf0.1 tables.

    python3 lakebench/oracle.py

For each parity query with a SQL oracle (`SparkEntry.oracleSql`) the
expected digest is DuckDB's result of that SQL; for the serving panels,
which have none, it is the engine's own result when this script is run.
Each entry records its source, its row count, and whether the result is
empty at sf0.1. Engine results that disagree with their oracle are listed
on stderr and the script exits non-zero, after writing the file.

The digest is the one `Digest.of` computes in the benchmark: columns in
name order, cells rendered type-insensitively (numbers rounded to 12
significant digits, timestamps as epoch microseconds), MD5 per row, and
the row count with the 64-bit wrapping sum of row hashes.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
SIG12 = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)
TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents"]


def number(d):
    r = SIG12.plus(d)
    return "0" if r == 0 else format(r.normalize(SIG12), "f")


def cell(v):
    """Mirrors Digest.cell for the result types of the benchmark's queries."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, datetime.datetime):
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)  # strings and integers


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        s = "\x1f".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{total % (1 << 64):016x}"


def main():
    record = os.path.join(HERE, "work", "record.json")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "olap_short",
                    "--seed", "0", "--seconds", "0", "--record", record], check=True)
    with open(record) as fh:
        engine = json.load(fh)
    con = duckdb.connect()
    sf = os.path.join(HERE, "work", "data", "sf0.1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    expected, mismatched = {}, []
    for name in sorted(engine):
        e = engine[name]
        if e.get("oracle"):
            res = con.execute(e["oracle"])
            cols = [d[0] for d in res.description]
            want = digest(cols, res.fetchall())
            source = f"duckdb {duckdb.__version__} oracle"
            if want != e["digest"]:
                mismatched.append(f"{name}: engine {e['digest']}, oracle {want}")
        else:
            want, source = e["digest"], "engine (no oracle)"
        rows = int(want.split(":")[0])
        expected[name] = {"digest": want, "rows": rows, "empty": rows == 0, "source": source}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for m in mismatched:
        print(f"MISMATCH {m}", file=sys.stderr)
    empty = [n for n, e in expected.items() if e["empty"]]
    print(f"{len(expected)} operations, {len(mismatched)} disagree with their oracle, "
          f"empty at sf0.1: {empty or 'none'}")
    sys.exit(1 if mismatched else 0)


if __name__ == "__main__":
    main()
