#!/usr/bin/env python3
"""Pin the expected output digest of every gate in workloads.json from
its DuckDB oracle SQL (graft.SparkEntry.oracleSql), run on the
benchmark's data with the pinned DuckDB, as tools/oracle_check.py does.
Writes perfbench/expected.json. Run from the repository root:

    python3 perfbench/pin_hashes.py

The digest is the canonical form of graftbench.Canon, re-implemented
here over DuckDB's Python values.
"""
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

PINNED_DUCKDB = "1.0.0"
CTX = decimal.Context(prec=200, rounding=decimal.ROUND_HALF_EVEN)
NINE = decimal.Decimal("1e-9")
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def number(d):
    q = d.quantize(NINE, context=CTX)
    if q == 0:
        return "n0"
    return "n" + format(q.normalize(context=CTX), "f")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "btrue" if v else "bfalse"
    if isinstance(v, int):
        return number(decimal.Decimal(v))
    if isinstance(v, float):
        if v != v:
            return "nNaN"
        if v in (float("inf"), float("-inf")):
            return "nInf" if v > 0 else "n-Inf"
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return "t%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    raise ValueError("no canonical form for %r" % type(v))


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    header = "cols:" + ",".join(cols[i] for i in order)
    ds = sorted(hashlib.sha256("\x1f".join(value(r[i]) for i in order).encode("utf-8"))
                .hexdigest() for r in rows)
    return len(rows), hashlib.sha256((header + "\n" + "\n".join(ds)).encode("utf-8")) \
        .hexdigest()[:16]


def main():
    if duckdb.__version__ != PINNED_DUCKDB:
        sys.exit("duckdb %s != pinned %s" % (duckdb.__version__, PINNED_DUCKDB))
    jars = run.spark_jars()
    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes, _ = run.build(build_dir, jars)
    out = {}
    for wname, w in sorted(run.WORKLOADS.items()):
        if w["kind"] != "gates":
            continue
        sql_path = os.path.abspath(os.path.join(build_dir, "oracle_sql.json"))
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                        "graftbench.Main", "--workload", "oracle_sql",
                        "--gates", ",".join(w["gates"]), "--out", sql_path], check=True)
        sql = json.load(open(sql_path))
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        data = os.path.join(HERE, "data", w["data"])
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                            % (f[:-len(".parquet")], os.path.join(data, f)))
        for g in w["gates"]:
            if g not in sql:
                sys.exit("%s has no oracle SQL" % g)
            rel = con.execute(sql[g])
            rows, d = digest([c[0] for c in rel.description], rel.fetchall())
            out[g] = {"rows": rows, "digest": d}
            print("%s %s rows=%d %s" % (wname, g, rows, d))
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
