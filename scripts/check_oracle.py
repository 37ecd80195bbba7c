"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares
row count, column names, and an order-insensitive value hash.

Usage: python scripts/check_oracle.py [--json OUT] [sf_dir] [query ...]

``--json OUT`` additionally writes a machine-readable per-query map —
used to regenerate the committed full-registry artifact
(CORRECTNESS_FULL.json).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def value_key(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = f"{v:.6f}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:  # accept the flag at any position
        i = args.index("--json")
        if i + 1 >= len(args):
            print(
                "usage: python scripts/check_oracle.py [--json OUT] [sf_dir] [query ...]"
            )
            return 2
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    import __spark_entry__ as entrymod
    from smartpool_bigdata_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        # a typo'd (or misplaced-flag) name must not silently run zero
        # queries and print "all green"
        print(f"unknown queries: {sorted(unknown)}")
        spark.stop()
        return 2
    failures = []
    results = {}
    for name, build in queries.items():
        if only and name not in only:
            continue
        sdf = build(spark, sf_dir)
        srows = [r.asDict() for r in sdf.collect()]
        scols = sorted(sdf.columns)
        if name not in oracles:
            print(f"  {name:34s} rows-only: {len(srows)} rows")
            results[name] = {"rows_only": True, "spark_rows": len(srows), "err": None}
            continue
        ddf = con.execute(oracles[name]).fetch_arrow_table()
        drows = ddf.to_pylist()
        dcols = sorted(ddf.column_names)
        status = []
        tmism = {}
        if len(srows) != len(drows):
            status.append(f"ROWCOUNT {len(srows)} vs {len(drows)}")
        if scols != dcols:
            status.append(f"SCHEMA {scols} vs {dcols}")
        else:
            # typed compare (driver's value-hash is typed — r2's only red
            # row was a DuckDB HUGEINT/INTEGER vs Spark BIGINT widening
            # with equal values, invisible to the stringified compare)
            from tests.conftest import canon_arrow_type, canon_spark_type

            stypes = {f.name: canon_spark_type(f.dataType) for f in sdf.schema.fields}
            dtypes = {f.name: canon_arrow_type(f.type) for f in ddf.schema}
            tmism = {c: (stypes[c], dtypes[c]) for c in scols if stypes[c] != dtypes[c]}
            if tmism:
                status.append(f"TYPES {tmism}")
        if not status:
            sk, dk = value_key(srows, scols), value_key(drows, dcols)
            if sk != dk:
                diff = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                status.append(f"VALUES differ, e.g. {diff}")
        if status:
            failures.append(name)
            print(f"  {name:34s} FAIL: {'; '.join(status)}")
        else:
            print(f"  {name:34s} ok ({len(srows)} rows)")
        results[name] = {
            "rows_match": len(srows) == len(drows),
            "schema_match": scols == dcols and not tmism,
            "hash_match": not status,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": "; ".join(status) or None,
        }

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1, sort_keys=True)
            f.write("\n")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
