"""Local stand-in for the driver's t2 correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB over the same
parquet fixture dir, then compares row count + column names + order-
insensitive values (columns sorted by name, rows sorted, exact equality after
canonicalization). Strict equality is the target — if this passes, any
reasonable value-hash the driver computes will too.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

# The checkout this file lives in, so a copy of the repo checks its own
# package.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # collapse -0.0 and fold to a stable repr
        if v == 0:
            return 0.0
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def sortable(row):
    return tuple((x is None, str(type(x)), x) for x in row)


def compare(name, spark_df, duck_rows, duck_cols):
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    if s_cols != d_cols:
        return f"COLUMN MISMATCH spark={s_cols} duck={d_cols}"
    s_idx = [spark_df.columns.index(c) for c in s_cols]
    d_idx = [duck_cols.index(c) for c in s_cols]
    s_rows = [tuple(canon(r[i]) for i in s_idx) for r in spark_df.collect()]
    d_rows = [tuple(canon(r[i]) for i in d_idx) for r in duck_rows]
    if len(s_rows) != len(d_rows):
        return f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(d_rows)}"
    s_rows.sort(key=sortable)
    d_rows.sort(key=sortable)
    n_bad = 0
    first = None
    for a, b in zip(s_rows, d_rows):
        if a != b:
            n_bad += 1
            if first is None:
                first = (a, b)
    if n_bad:
        err = f"VALUE MISMATCH {n_bad}/{len(s_rows)} rows; first: spark={first[0]} duck={first[1]}"
        # same capture discipline as tests/test_queries.py: persist both
        # full sorted frames so any mismatch (including driver-side
        # recurrences reproduced locally) is diagnosable offline.
        capture = f"/tmp/oracle_diff_{name}.txt"
        try:
            with open(capture, "w") as fh:
                fh.write(f"query: {name}\nerror: {err}\n")
                fh.write(f"\n-- spark rows (cols: {', '.join(s_cols)}) --\n")
                for r in s_rows:
                    fh.write(repr(r) + "\n")
                fh.write(f"\n-- oracle rows (cols: {', '.join(s_cols)}) --\n")
                for r in d_rows:
                    fh.write(repr(r) + "\n")
            err = f"{err} [frames captured: {capture}]"
        except Exception as cap_exc:  # capture must never mask the diff
            err = f"{err} [capture failed: {cap_exc}]"
        return err
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # accept bare names, comma-joined lists, and an optional --only flag
    only = set()
    for arg in sys.argv[2:]:
        if arg == "--only":
            continue
        only.update(x for x in arg.split(",") if x)

    import duckdb

    from steam_prices_data_engineering_spark.plans import registry
    from steam_prices_data_engineering_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = registry.queries()
    oracles = registry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd filter must never pass vacuously as "0 failures"
        print(f"unknown query names: {sorted(unknown)}")
        sys.exit(2)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time

        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                print(f"  {name}: rows-only, {n} rows [{time.time()-t0:.1f}s]")
                continue
            rel = con.execute(oracles[name])
            duck_cols = [d[0] for d in rel.description]
            duck_rows = rel.fetchall()
            err = compare(name, df, duck_rows, duck_cols)
        except Exception as e:  # noqa: BLE001
            err = f"EXCEPTION {type(e).__name__}: {e}"
        if err:
            failures += 1
            print(f"  {name}: FAIL {err}")
        else:
            print(f"  {name}: OK ({len(duck_rows)} rows) [{time.time()-t0:.1f}s]")
    spark.stop()
    print(f"{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
