"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every queries()[name] on Spark and its oracle_sql()[name] on DuckDB over
/root/testdata/sf0.01, comparing row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified with float normalization).
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys

import duckdb

# the checkout this tool lives in, not a fixed path: run from a second copy
# (an A/B parent, a worktree) it must test that copy's package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm(v):
    if v is None:
        return "NULL"
    # Decimal is deliberately NOT normalized to int/float: the driver's hash
    # distinguishes DuckDB HUGEINT/DECIMAL (Arrow decimal128) from Spark's
    # int64/double, and fetchall()-era Python-int coercion hid exactly that
    # divergence twice (r1 sums, r2 sessionize window sum). Tag it so any
    # decimal-typed oracle column hash-fails locally until the SQL casts it.
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(sf_dir="/root/testdata/sf0.01", only=None):
    import __spark_entry__ as entrymod
    from doc_quality_check_spark.session import get_spark
    from doc_quality_check_spark.queries import TABLES

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for tb in TABLES:
        con.execute(f"CREATE VIEW {tb} AS SELECT * FROM '{sf_dir}/{tb}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"  {name:24s} rows={len(srows):6d}  (no oracle — rows-only check)")
            continue
        # Arrow fetch, mirroring the driver: fetchall() coerces HUGEINT to
        # Python int and hides decimal128-vs-int64 divergence (see norm()).
        atable = con.execute(oracles[name]).fetch_arrow_table()
        dcols = atable.column_names
        dcolumns = [atable.column(c).to_pylist() for c in dcols]
        drows = list(zip(*dcolumns)) if dcols else []
        if atable.num_rows and not drows:
            drows = [()] * atable.num_rows
        s_hash = table_hash(scols, [[r[c] for c in scols] for r in srows])
        d_hash = table_hash(dcols, drows)
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_hash = s_hash == d_hash
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(f"  {name:24s} {status}  rows={len(srows)}/{len(drows)} cols={'ok' if ok_cols else (scols, dcols)} hash={'ok' if ok_hash else (s_hash[:8], d_hash[:8])}")
        if status == "FAIL":
            failures.append(name)
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    only = set(sys.argv[1:]) or None
    main(only=only)
