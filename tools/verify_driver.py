"""Replicate the external driver's environment end to end: a VANILLA
SparkSession (not the repo's tuned factory — no AQE conf, default 200
shuffle partitions; this catches config-dependent bugs the tuned
session hides), the `__spark_entry__` contract, and the oracle compare
over exactly the first 50 registry entries (the driver's hash-check
window).

Usage:
    python tools/verify_driver.py [sf_dir] [n_window]

Defaults: /root/testdata/sf0.01, 50. Exit 0 iff entry() runs and every
window query matches its oracle.
"""

from __future__ import annotations

import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    n_window = int(args[1]) if len(args) > 1 else 50

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").appName(
        "verify-driver-replica"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import __spark_entry__ as e
    from check_oracle import compare, duck_connect

    n_entry = e.entry(spark).count()
    print(f"entry(): {n_entry} rows")

    qs, oracles = e.queries(), e.oracle_sql()
    names = list(qs)[:n_window]
    con = duck_connect(sf_dir)
    n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            problems = compare(
                name, qs[name](spark, sf_dir), con.execute(oracles[name])
            )
        except Exception as ex:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(ex).__name__}: {ex}"]
        if problems:
            n_fail += 1
            print(f"✗ {name}  [{time.time() - t0:.1f}s]")
            for p in problems[:3]:
                print(f"    {p}")
        else:
            print(f"✓ {name}  [{time.time() - t0:.1f}s]")
    print(f"\n{len(names) - n_fail}/{len(names)} window queries match "
          f"under a vanilla session")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
