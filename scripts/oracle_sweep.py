#!/usr/bin/env python3
"""Strict oracle sweep: every ``__spark_entry__.queries()`` entry against
its ``oracle_sql()`` DuckDB text, at any scale factor.

The compare is tests/test_entry_oracle.py's (row count, dtype kinds,
column names, order-insensitive rows) with one difference: a float cell
must match to its exact ``repr``, not to 9 significant digits. One line
per query; exit status 1 on any mismatch.

Usage:  python scripts/oracle_sweep.py --sf-dir DIR [QUERY ...]
        (DIR holds one <table>.parquet per entry of __spark_entry__.TABLES;
        run from anywhere; with no QUERY, every query that has an oracle)
"""

from __future__ import annotations

import argparse
import decimal
import importlib.util
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _load_oracle_test():
    spec = importlib.util.spec_from_file_location(
        "test_entry_oracle", os.path.join(REPO, "tests", "test_entry_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", required=True, help="directory of the TABLES parquet files")
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    args = ap.parse_args()

    oracle = _load_oracle_test()
    em = oracle.entry_mod

    def strict_cell(v):
        if isinstance(v, (float, decimal.Decimal)) and not math.isnan(v):
            return repr(float(v) + 0.0)  # -0.0 + 0.0 == 0.0
        return oracle._norm_cell(v)

    names = args.queries or oracle.QUERY_NAMES
    unknown = sorted(set(names) - set(oracle.QUERY_NAMES))
    if unknown:
        ap.error(f"no query with an oracle: {', '.join(unknown)}")

    from jochre3_ocr_spark.plans.pipeline import get_spark

    spark = get_spark("oracle-sweep", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle.duck_connect(args.sf_dir)
    failed = 0
    try:
        for name in names:
            t0 = time.perf_counter()
            try:
                sdf = em.queries()[name](spark, args.sf_dir)
                ddf = con.execute(em.oracle_sql()[name]).fetch_df()
                msg = oracle.mismatch(name, sdf, ddf, strict_cell)
                rows = len(ddf)
            except Exception as e:  # noqa: BLE001 — report and go on
                msg, rows = f"{name}: {type(e).__name__}: {e}", 0
            secs = time.perf_counter() - t0
            if msg is None:
                print(f"ok   {name}  rows={rows}  {secs:.1f}s", flush=True)
            else:
                failed += 1
                print(f"FAIL {msg}  {secs:.1f}s", flush=True)
    finally:
        con.close()
        spark.stop()
    print(f"{len(names) - failed}/{len(names)} match", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
