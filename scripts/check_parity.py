"""Local stand-in for the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on
DuckDB at the given SF, then compares row count, column names, and
exact TYPE-TAGGED values (order-insensitive, columns sorted by name).
Since round 2 the compare is type-strict (Decimal != float, int !=
float), which the driver's value-hash also distinguishes — so passing
here implies passing there.

Usage: python scripts/check_parity.py [sf_dir] [query ...]

Exits 0 when every checked query matches, 1 on any mismatch, and 2
(checking nothing) when a named query is not registered.
"""

from __future__ import annotations

import math
import os
import sys

# the checkout this script lives in, for this process and for the
# Spark Python workers it starts (they inherit PYTHONPATH, not sys.path)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))


def normalize(v):
    """Type-TAGGED normal form: a Decimal never equals a float, an int
    never equals a float. Round 1 proved the untagged version masks
    real driver failures (Spark DECIMAL vs DuckDB DOUBLE columns
    compared equal here but hash-mismatched at the gate), so the tag
    is the whole point — this checker must be STRICTER than the gate.
    Only timezone is normalized away (driver compares naive UTC)."""
    import datetime
    import decimal

    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    return (type(v).__name__, v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(normalize(r[i]) for i in order))
    out.sort(key=repr)
    return out


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from gluon_ocr_spark.session import make_session
    from gluon_ocr_spark.queries import TABLES

    argv = sys.argv[1:]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            raise SystemExit("usage: --json <output-path>")
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if a != "--vanilla"]
    vanilla = "--vanilla" in argv
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    qs = entrymod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query names: {unknown}")
        return 2

    if vanilla:
        # rehearse the driver's conditions: stock session, no engine
        # configs — queries must be robust to foreign sessions
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("parity-vanilla").master("local[8]").getOrCreate()
    else:
        spark = make_session(app="parity-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = []
    receipt = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # several operator overrides persist shared projections
            # and have no post-action unpersist hook; drop them here
            # so a 130+-query single-session run doesn't accumulate
            # MEMORY_AND_DISK blocks and evict later queries' caches
            spark.catalog.clearCache()
        except Exception as e:
            failures.append(name)
            receipt[name] = {"status": "spark_error", "err": str(e)[:200]}
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            receipt[name] = {"status": "rows_only", "rows": len(srows)}
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            # fetch through Arrow, like the driver does: duckdb's
            # fetchall() folds HUGEINT to Python int (hiding type
            # divergence), Arrow surfaces it as decimal128 → Decimal
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            dcols = tbl.column_names
            drows = [tuple(row[c] for c in dcols) for row in tbl.to_pylist()]
        except Exception as e:
            failures.append(name)
            receipt[name] = {"status": "duckdb_error", "err": str(e)[:200]}
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            failures.append(name)
            receipt[name] = {"status": "schema_mismatch", "spark": scols, "duck": dcols}
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            receipt[name] = {"status": "rowcount_mismatch", "spark": len(srows), "duck": len(drows)}
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            continue
        sk = rows_key(srows, [c.lower() for c in scols])
        dk = rows_key(drows, [c.lower() for c in dcols])
        if sk != dk:
            failures.append(name)
            receipt[name] = {"status": "value_mismatch", "rows": len(srows)}
            diffs = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
            print(f"FAIL {name}: value mismatch; first diffs: {diffs}")
            continue
        receipt[name] = {"status": "exact", "rows": len(srows)}
        print(f"ok   {name}: {len(srows)} rows, exact match")

    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "n": len(receipt), "results": receipt}, f, indent=1, sort_keys=True)
        print(f"receipt -> {json_path}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
