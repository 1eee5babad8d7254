"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
family, and exact order-insensitive values (columns sorted by name, rows
sorted by all columns).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["events", "documents"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    problems = []
    if len(got) != len(want):
        problems.append(f"rowcount spark={len(got)} oracle={len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns spark={sorted(got.columns)} oracle={sorted(want.columns)}")
        return problems
    g, w = normalize(got), normalize(want)
    if len(g) == len(w):
        for c in g.columns:
            a, b = g[c], w[c]
            try:
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    eq = (a.fillna(-1e308) == b.fillna(-1e308)) | (a.isna() & b.isna())
                else:
                    eq = (a.astype(str) == b.astype(str))
                bad = (~eq).sum()
                if bad:
                    idx = (~eq).idxmax()
                    problems.append(
                        f"col {c}: {bad} mismatches, first at row {idx}: "
                        f"spark={a[idx]!r} oracle={b[idx]!r}"
                    )
            except Exception as e:  # noqa: BLE001
                problems.append(f"col {c}: compare error {e}")
    return problems


def main():
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    import __spark_entry__ as m
    from borsa_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        # Spark-written tables are directories of part files; single-file
        # tables (the driver's testdata) are plain .parquet. DuckDB needs a
        # glob for the former, Spark handles both transparently.
        path = f"{sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')"
            )
        except duckdb.Error:
            # partial table sets (a tier may carry only documents) —
            # queries touching a missing view fail loudly
            pass

    qs, oracles = m.queries(), m.oracle_sql()
    names = only or list(qs)
    passed = failed = 0
    for name in names:
        t0 = time.time()
        try:
            got = qs[name](spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed += 1
            continue
        finally:
            # Lifetime hygiene on EVERY path: some library paths persist
            # intermediates (e.g. shingle checkpoints); drop them once the
            # query has materialized (or failed) so a 90+-query session
            # doesn't accumulate cached blocks.
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(got)})")
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            failed += 1
            continue
        problems = compare(name, got, want)
        dt = time.time() - t0
        if problems:
            failed += 1
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems))
        else:
            passed += 1
            print(f"PASS {name} ({dt:.1f}s, rows={len(got)})")
    print(f"\n{passed} passed, {failed} failed, {len(names)} total")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
