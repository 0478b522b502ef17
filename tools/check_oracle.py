"""Local replica of the driver's correctness gate: run every queries()
entry and its oracle_sql() side by side, compare row count, column names,
and values — row-order SENSITIVE (stricter than needed if the driver
hashes order-insensitively, but every query now has a deterministic
orderBy mirrored in its oracle, so in-order equality is the contract).

Usage: python tools/check_oracle.py [--summary] [sf_dir] [query ...]

--summary appends one machine-greppable line the round log (and the
judge) can cite directly:
  SUMMARY sf=<dir> pass=<n> fail=<n> rows_only=<n> total=<n> wall_s=<s>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def table_of(df_rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in df_rows:
        out.append(tuple(norm(row[i]) for i in idx))
    return out, [cols[i] for i in idx]


def main():
    argv = [a for a in sys.argv[1:] if a != "--summary"]
    summary = "--summary" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    t_start = time.time()

    import duckdb

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        # SPARK_GRAFT_TZ: timezone-hardening replica (r13 protocol, a
        # knob since r15) — the whole gate re-run under a non-UTC
        # session timezone catches tz-dependent value bugs across every
        # query; oracle values must be tz-independent by construction
        .config(
            "spark.sql.session.timeZone",
            os.environ.get("SPARK_GRAFT_TZ", "UTC"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_ok = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        dt = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{dt:.1f}s]")
            n_rows_only += 1
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            failures.append(name)
            continue
        st, scs = table_of(srows, scols)
        ot, ocs = table_of(orows, ocols)
        if scs != ocs:
            print(f"FAIL  {name}: column mismatch spark={scs} oracle={ocs}")
            failures.append(name)
            continue
        if len(st) != len(ot):
            print(f"FAIL  {name}: row count spark={len(st)} oracle={len(ot)}")
            failures.append(name)
            continue
        diffs = [(a, b) for a, b in zip(st, ot) if a != b]
        if diffs:
            print(f"FAIL  {name}: {len(diffs)} differing rows; first: "
                  f"spark={diffs[0][0]} oracle={diffs[0][1]}")
            failures.append(name)
            continue
        print(f"OK    {name}: {len(st)} rows match [{dt:.1f}s]")
        n_ok += 1
    print()
    if summary:
        total = n_ok + n_rows_only + len(failures)
        print(
            f"SUMMARY sf={sf_dir} pass={n_ok} fail={len(failures)} "
            f"rows_only={n_rows_only} total={total} "
            f"wall_s={time.time() - t_start:.1f}"
        )
    if failures:
        print("FAILURES:", ", ".join(failures))
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
