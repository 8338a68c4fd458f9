#!/usr/bin/env python3
"""Cross-checks the recorded answer fingerprints (fingerprints.json)
against DuckDB running each gate's oracle SQL (graft.SparkEntry.oracleSql)
over the same fixture.

    python3 perfbench/oracle_check.py [gate ...]

Run from the root of a checkout; needs the duckdb Python module. The
canonical row form matches perfbench/src/.../Fingerprint.scala: values in
column-name order, non-integral numbers rounded to 9 significant digits,
and the hash is the 64-bit wrapping sum of each row's SHA-256 prefix.
Exits 1 when any fingerprint differs.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile

import run

DIGITS = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)


def num(f):
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "Inf" if f > 0 else "-Inf"
    if f == math.floor(f) and abs(f) < 1e15:
        return str(int(f))
    return format(DIGITS.plus(decimal.Decimal(f)).normalize(DIGITS), "f")


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value() and abs(v) < decimal.Decimal("1e15"):
            return str(int(v))
        return num(float(v))
    if isinstance(v, float):
        return num(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{canon(k)}={canon(x)}" for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        line = "\u0001".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")
    return f"{len(rows)}:{total & (2**64 - 1):016x}"


def main():
    import duckdb
    build_dir = os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = run.build(build_dir)
    with tempfile.TemporaryDirectory(dir=build_dir) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(run.java_cmd(classpath, tmp) + ["perfbench.DumpOracle", out],
                       check=True, cwd=tmp)
        oracle = json.load(open(out))
    recorded = json.load(open(os.path.join(run.HERE, "fingerprints.json")))
    gates = sys.argv[1:] or sorted(g for g in oracle if g in recorded)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(run.SF_DIR, "*.parquet")):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad = 0
    for g in gates:
        cur = con.execute(oracle[g])
        names = [d[0] for d in cur.description]
        got = fingerprint(names, cur.fetchall())
        ok = got == recorded.get(g)
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {g} duckdb={got} recorded={recorded.get(g)}")
    print(f"{len(gates) - bad} pass, {bad} fail")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
