"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, column
names, and order-insensitive values. Entries whose oracle is the same SQL
text (dedup_incremental's is dedup_clusters') run it on DuckDB once.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", round(v, 9))
    try:
        import datetime

        if isinstance(v, datetime.datetime):
            return ("t", v.replace(tzinfo=None).isoformat())
    except Exception:
        pass
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from webcrawler_spark.session import get_spark

    spark = get_spark("contract-check", master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.sql.session.timeZone": "UTC"})

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, os_ = e.queries(), e.oracle_sql()
    oracle_results: dict[str, tuple[list, list]] = {}  # SQL text -> (cols, rows)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in os_:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            sql = os_[name]
            if sql not in oracle_results:
                res = con.execute(sql)
                oracle_results[sql] = ([d[0] for d in res.description], res.fetchall())
            dcols, drows = oracle_results[sql]
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if not problems:
            a, b = norm_rows(scols, srows), norm_rows(dcols, drows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(srows)} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
