"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__ query at sf0.01 in Spark AND its DuckDB
oracle, compares row count, column names, and values (exact after
rounding floats to 9 decimals, see normalize). Usage:

    python3 tools/check_correctness.py [--ansi] [sf_dir] [query ...]

`--ansi` creates the session with spark.sql.ansi.enabled=true — the
driver's session default (Spark 4) — to verify that every query pins
its own semantics via _ensure_nanos_conf. The grade is computed in
that session, not the repo's, so claim-bearing runs should use it.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

import __spark_entry__ as entrymod
from functime_spark.session import get_session
from functime_spark.sources.tables import TABLE_NAMES


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(rows, cols):
    """Sort columns by name, rows by their stringified tuple."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main():
    argv = sys.argv[1:]
    ansi = "--ansi" in argv
    argv = [a for a in argv if a != "--ansi"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    queries = entrymod.queries()
    unknown = sorted(only - set(queries))
    if unknown:
        # a mistyped name would otherwise run nothing and exit 0
        print("unknown queries:", " ".join(unknown))
        sys.exit(2)
    extra = {"spark.sql.ansi.enabled": "true"} if ansi else None
    spark = get_session("correctness", extra_conf=extra)
    if ansi:
        # emulate the driver: ANSI on at session scope; queries must
        # survive via their own _ensure_nanos_conf pinning
        spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)

    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if ansi:
            # re-arm before every query: each must pin its own semantics
            spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows={len(srows)} (rows-only)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error {exc}")
            n_fail += 1
            failures.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
            n_fail += 1
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rows spark={len(srows)} duck={len(drows)}")
            n_fail += 1
            failures.append(name)
            continue
        s_norm = normalize([tuple(r) for r in srows], scols)
        d_norm = normalize(drows, dcols)
        if s_norm != d_norm:
            diff = [
                (a, b) for a, b in zip(s_norm, d_norm) if a != b
            ][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            n_fail += 1
            failures.append(name)
            continue
        print(f"PASS  {name}: rows={len(srows)}")
        n_pass += 1

    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only ==")
    if failures:
        print("failures:", " ".join(failures))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
