"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same parquet tables, then compares row count, column names, and values
(column-name-sorted, row-sorted — order-insensitive, exact except a tiny
float tolerance used only for diagnostics; the goal is bit-exact).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from data_engineering_examples_spark.sources.tables import TABLES  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize_cell(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:
        pass
    return v


def frame_to_rows(cols, rows):
    """Sort columns by name, then rows; mirrors an order-insensitive hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def _staged():
    from staged_oracles import STAGED

    return STAGED


def compare(name, spark_df, duck_rel):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols = [d[0] for d in duck_rel.description]
    d_rows = duck_rel.fetchall()

    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount differs: spark={len(s_rows)} duck={len(d_rows)}")
    if problems:
        return problems

    _, sn = frame_to_rows(s_cols, s_rows)
    _, dn = frame_to_rows(d_cols, d_rows)
    n_diff = 0
    for i, (a, b) in enumerate(zip(sn, dn)):
        if a != b:
            n_diff += 1
            if n_diff <= 3:
                problems.append(f"row {i}: spark={a!r} duck={b!r}")
    if n_diff:
        problems.append(f"{n_diff}/{len(sn)} rows differ")
    return problems


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from data_engineering_examples_spark.session import get_spark

    qs = e.queries()
    oracles = e.oracle_sql()
    names = args or list(qs)
    spark = get_spark("check-oracle")
    con = duck_connect(sf_dir)

    n_fail = 0
    for name in names:
        t0 = time.time()
        staged = False
        try:
            if name in _staged():
                # Above each query's monolithic-oracle feasibility
                # bound, verify via the staged equivalent instead of
                # excluding it from the sweep (r10 ask #4, extended to
                # q95/q210 in r11 — see tools/staged_oracles.py).
                needs, staged_fn = _staged()[name]
                if needs(con):
                    staged = True
                    problems = staged_fn(spark, sf_dir)
            if not staged:
                sdf = qs[name](spark, sf_dir)
                if name not in oracles:
                    n = sdf.count()
                    print(
                        f"  {name}: rows-only check, {n} rows  [{time.time()-t0:.1f}s]"
                    )
                    continue
                problems = compare(name, sdf, con.execute(oracles[name]))
        except Exception as ex:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(ex).__name__}: {ex}"]
        tag = " (staged)" if staged else ""
        if problems:
            n_fail += 1
            print(f"✗ {name}{tag}  [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"✓ {name}{tag}  [{time.time()-t0:.1f}s]")
    print(f"\n{len(names)-n_fail}/{len(names)} queries match")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
