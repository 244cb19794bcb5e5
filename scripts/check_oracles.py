"""Local replica of the driver's correctness gate: run every queries() entry
in Spark and its oracle_sql() in DuckDB at a given sf, compare row counts +
order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2:]

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-oracles")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    from sentometrics_spark.golden import REFERENCE_ROOT

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_golden = sum(name.startswith("golden_") for name in qs)
    golden = (
        f"{n_golden} golden_* rows present"
        if n_golden
        else f"golden_* rows absent (no reference data under {REFERENCE_ROOT})"
    )
    print(f"contract: {len(qs)} queries, {len(oracles)} oracles, {golden}", flush=True)
    failures = []
    for name, fn in qs.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        ok, msg = compare(got, exp)
        status = "OK  " if ok else "FAIL"
        if not ok:
            failures.append(name)
        print(f"{status}  {name}: {len(got)} rows [{time.time()-t0:.1f}s] {msg}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> tuple[bool, str]:
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"schema mismatch: {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return False, f"row count {len(got)} vs {len(exp)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            # bit-exact, mimicking a value-hash comparison
            ga, ea = gv.astype(float).to_numpy(), ev.astype(float).to_numpy()
            eq = (ga == ea) | (np.isnan(ga) & np.isnan(ea))
            if not eq.all():
                return False, f"value mismatch in {c} ({(~eq).sum()} rows, max diff {np.nanmax(np.abs(ga-ea)):.2e})"
        else:
            if not (gv.astype(str) == ev.astype(str)).all():
                bad = (gv.astype(str) != ev.astype(str)).sum()
                return False, f"value mismatch in {c} ({bad} rows)"
    return True, ""


if __name__ == "__main__":
    sys.exit(main())
