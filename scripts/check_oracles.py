#!/usr/bin/env python
"""Run every queries() entry against its oracle_sql() via DuckDB — the same
comparison the driver does — and report per-query pass/fail.

Usage: python scripts/check_oracles.py [sf_dir] [query_name ...]
       python scripts/check_oracles.py --full [sf_dir] [...]  # full registry,
       not just the 50 driver slots

An oracle that reads a committed golden (goldens.py) holds the result at
the golden's scale only; at any other scale its query is run and
reported as NO-GOLDEN, counted neither as passed nor as failed.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from hyrise_generalized_dedup_spark.goldens import GOLDEN_DIR, GOLDEN_SF
from hyrise_generalized_dedup_spark.session import get_spark
from hyrise_generalized_dedup_spark.testing import compare_to_duckdb


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--full"]
    use_full = "--full" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    at_golden_sf = os.path.basename(os.path.normpath(sf_dir)) == GOLDEN_SF
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    if use_full:
        queries, oracles = entrymod._full_registries()
    else:
        queries = entrymod.queries()
        oracles = entrymod.oracle_sql()
    failures, no_golden = [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        oracle = oracles.get(name)
        unchecked = oracle is not None and GOLDEN_DIR in oracle and not at_golden_sf
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if oracle is not None and not unchecked:
                ok, msg = compare_to_duckdb(df, oracle, sf_dir)
            else:
                n = df.count()
                ok, msg = n >= 0, f"rows-only check: {n} rows"
        except Exception as e:  # noqa: BLE001
            ok, msg, unchecked = False, f"EXCEPTION: {type(e).__name__}: {e}", False
        dt = time.time() - t0
        status = "NO-GOLDEN" if unchecked else "PASS" if ok else "FAIL"
        print(f"[{status}] {name:35s} {dt:6.1f}s  {msg}")
        if unchecked:
            no_golden.append(name)
        elif not ok:
            failures.append(name)
    spark.stop()
    if no_golden:
        print(f"\n{len(no_golden)} NO-GOLDEN (goldens exist at {GOLDEN_SF} only): {no_golden}")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    n_checked = len([q for q in queries if not only or q in only]) - len(no_golden)
    print(f"\nall {n_checked} checked queries pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
