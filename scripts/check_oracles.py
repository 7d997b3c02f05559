"""Driver-style oracle check: run every queries()[k] on Spark at sf0.01 and
compare to oracle_sql()[k] in DuckDB — row count, column names, and exact
sorted values (floats compared bit-exactly, as the driver's value hash does).
A query that raises prints ERROR and the sweep goes on; the run ends with an
OK/FAIL/ERROR tally and exits 0 only when every query is OK.

Usage: python3 scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from ontologybasedkgcreation_spark.session import get_spark

    cpus = os.cpu_count() or 1
    spark = get_spark(
        "oracle-check", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    results = {"OK": [], "FAIL": [], "ERROR": []}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            status = _check(name, fn, spark, sf_dir, con, oracles)
        except Exception as exc:  # one raising query must not end the sweep
            status = "ERROR"
            print(f"{name:22s} ERROR  {type(exc).__name__}: {exc}"[:400])
            traceback.print_exc(limit=3, file=sys.stderr)
        results[status].append(name)
    for status in ("FAIL", "ERROR"):
        if results[status]:
            print(f"{status}:", results[status])
    print(" ".join(f"{s}={len(v)}" for s, v in results.items()))
    return 1 if results["FAIL"] or results["ERROR"] else 0


def _check(name, fn, spark, sf_dir, con, oracles) -> str:
    """One query against its oracle: prints its line, returns OK or FAIL.
    A query without an oracle cannot be checked and counts as FAIL."""
    sdf = fn(spark, sf_dir)
    srows = sdf.collect()
    scols = sorted(sdf.columns)
    sset = sorted(tuple(_norm(r[c]) for c in scols) for r in srows)
    if name not in oracles:
        print(f"{name:22s} FAIL  {len(srows)} rows, no oracle")
        return "FAIL"
    ores = con.execute(oracles[name])
    ocols_raw = [d[0] for d in ores.description]
    orows = ores.fetchall()
    ocols = sorted(ocols_raw)
    oset = sorted(
        tuple(_norm(row[ocols_raw.index(c)]) for c in ocols) for row in orows
    )
    ok_cols = scols == ocols
    ok_count = len(sset) == len(oset)
    status = "OK" if (ok_cols and ok_count and sset == oset) else "FAIL"
    print(
        f"{name:22s} {status}  spark={len(sset)} duck={len(oset)} "
        f"cols={'=' if ok_cols else f'{scols} vs {ocols}'}"
    )
    if status == "FAIL":
        if ok_cols and ok_count:
            for a, b in zip(sset, oset):
                if a != b:
                    print(f"   first diff:\n   spark: {a}\n   duck : {b}")
                    break
        elif ok_cols:
            sa, sb = set(sset), set(oset)
            print(f"   only-spark: {list(sa - sb)[:2]}")
            print(f"   only-duck : {list(sb - sa)[:2]}")
    return status


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


if __name__ == "__main__":
    sys.exit(main())
