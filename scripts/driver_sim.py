"""Local simulation of the driver's verify: smoke entry(), then run
every queries()[name] against oracle_sql()[name] via DuckDB at the
given sf dir (default sf0.01), comparing row count, column names and
order-insensitive canonical values. Prints one PASS/FAIL/WEAK line
per query and a TOTAL line; exits 1 on any oracle mismatch.

Usage: python scripts/driver_sim.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as e  # noqa: E402
from synthetic_data_pipeline_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df):
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if hasattr(v, "item"):
                v = v.item()
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("∅")
            elif isinstance(v, float):
                row.append(repr(v))
            else:
                row.append(str(v))
        rows.append(tuple(row))
    rows.sort()
    return rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="driver-sim")

    t0 = time.time()
    res = e.entry(spark)
    n = res.count()
    print(f"entry(): {n} rows, schema={res.schema.simpleString()} "
          f"[{time.time() - t0:.1f}s]")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name in sorted(qs):
        t0 = time.time()
        sdf = qs[name](spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"  WEAK  {name}: rows={len(sdf)} (no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            n_weak += 1
            continue
        odf = con.execute(oracles[name]).df()
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        s_rows, o_rows = canon(sdf), canon(odf)
        ok = ok_cols and s_rows == o_rows
        status = "PASS " if ok else "FAIL "
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"  {status}{name}: spark={len(s_rows)} oracle={len(o_rows)} "
              f"cols_ok={ok_cols} [{time.time() - t0:.1f}s]")
        if not ok:
            diff = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
            print(f"        first diffs: {diff}")
    print(f"TOTAL: {n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
