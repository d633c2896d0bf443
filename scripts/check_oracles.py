"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet
tables, compare row count + column names + order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]

Naming a query that is not a ``queries()`` entry exits 1 before Spark
starts.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from record_linkage_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        try:
            if str(df[c].dtype).startswith(("float", "Float")):
                df[c] = df[c].round(6)
            if str(df[c].dtype).startswith(("int", "Int", "uint")):
                df[c] = df[c].astype("int64")
        except Exception:
            pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        sys.exit(f"unknown entries: {', '.join(unknown)}")
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows, {dt:.1f}s (rows-only)")
            if len(sdf) == 0 and not name.startswith("rl_"):
                failures.append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {exc}")
            continue
        ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
        ok_rows = len(sdf) == len(ddf)
        # dtype-KIND parity: the driver's value hash renders ints and
        # floats differently (0 vs 0.0), so a twin that comes back
        # float64 where Spark is int64 (e.g. DuckDB HUGEINT window sums)
        # red-flags here even though values compare equal numerically.
        # int <-> float is tolerated only when the column has nulls on
        # either side (nullable ints surface as float64 in pandas).
        if ok_cols:
            for c in sdf.columns:
                ks, kd = sdf[c].dtype.kind, ddf[c].dtype.kind
                if ks == kd or {ks, kd} <= {"O", "b"}:
                    continue
                nullable = sdf[c].isna().any() or ddf[c].isna().any()
                if {ks, kd} <= {"i", "u", "f"} and nullable:
                    continue
                ok_cols = False
                print(
                    f"      {name} dtype kind mismatch on '{c}': "
                    f"spark={sdf[c].dtype} duckdb={ddf[c].dtype}"
                )
        ok_vals = False
        if ok_cols and ok_rows:
            a, b = normalize(sdf.copy()), normalize(ddf.copy())
            try:
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=False, check_exact=False, rtol=0, atol=1.5e-6
                )
                ok_vals = True
            except AssertionError as exc:
                msg = str(exc).split("\n")[:6]
                print(f"      {name} diff: " + " | ".join(msg))
        status = "OK   " if (ok_cols and ok_rows and ok_vals) else "FAIL "
        if status.startswith("FAIL"):
            failures.append(name)
            print(
                f"{status}{name}: rows {len(sdf)}/{len(ddf)} cols_ok={ok_cols} "
                f"vals_ok={ok_vals} ({dt:.1f}s)"
            )
        else:
            print(f"{status}{name}: {len(sdf)} rows ({dt:.1f}s)")
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
