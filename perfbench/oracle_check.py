#!/usr/bin/env python3
"""Check the benchmark's expected query digests against the DuckDB oracles.

    python3 perfbench/oracle_check.py [--write]

Run from the repository root. Replays each benchmark query's oracle SQL
(graft.SparkEntry.oracleSql, printed by perfbench.OracleSql) in DuckDB over
perfbench/data, digests the rows the way the harness digests Spark's
output (perfbench/src/main/scala/perfbench/Digest.scala), and compares with
perfbench/expected.json. `--write` rewrites that file from the oracles.
Exits non-zero on any mismatch.
"""
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys

import run

EXPECTED = os.path.join(run.HERE, "expected.json")
TABLES = ("orders", "lineitem", "documents")


def canonical(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, decimal.Decimal):
        return "i%d" % int(v.to_integral_exact())
    if isinstance(v, float):
        if math.isnan(v):
            return "dNaN"
        if math.isinf(v):
            return "dInf" if v > 0 else "d-Inf"
        return "d%d" % math.floor(v * 1e6 + 0.5)
    if isinstance(v, str):
        return "s" + v
    return "o" + str(v)


def digest(columns, rows):
    total = 0
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    for r in rows:
        text = "\u0001".join(f"{columns[i]}={canonical(r[i])}" for i in order)
        total += int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{total % 2**64:016x}"


def oracle_sql():
    home = run.spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    run.build(run.source_sha256(), env)
    cp = os.pathsep.join([run.CLASSES, os.path.join(home, "jars", "*")])
    out = subprocess.run(["java", "-cp", cp, "perfbench.OracleSql"], env=env,
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.HERE}/data/{t}.parquet'")
    got = {}
    for q, sql in sorted(oracle_sql().items()):
        cur = con.execute(sql)
        got[q] = digest([d[0] for d in cur.description], cur.fetchall())
    if "--write" in sys.argv:
        with open(EXPECTED, "w") as fh:
            json.dump(got, fh, indent=2, sort_keys=True)
            fh.write("\n")
    with open(EXPECTED) as fh:
        want = json.load(fh)
    bad = 0
    for q in sorted(set(got) | set(want)):
        ok = got.get(q) == want.get(q)
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {q}: oracle {got.get(q)}, expected {want.get(q)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
