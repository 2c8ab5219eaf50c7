"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf, compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
       python tools/check_oracles.py [sf_dir] --json CORRECTNESS_local.json

--json also writes the driver-file shape ({name: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}) so a full-registry run can be
committed each round — the driver's own gate records only the first 50
registry entries, this file signs the rest.

The session takes ``SPARK_GRAFT_CPUS`` cores, every core when it is unset
(``SPARK_GRAFT_MASTER`` overrides the master; see ``session.get_spark``).
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

sys.path.insert(0, ".")


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    report: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from loongcollector_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.sql.mapKeyDedupPolicy": "LAST_WIN"})
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from loongcollector_spark.functions import dedup

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "err": f"spark: {e}"[:300]}
            failures += 1
            continue
        finally:
            # a query that raised must not leave its persisted frames
            # cached for every later query
            dedup.release_persisted()
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(srows),
                            "oracle_rows": None, "err": None}
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = list(ddf.columns)
            drows = [tuple(r) for r in ddf.fetchall()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": len(srows),
                            "oracle_rows": None, "err": f"duckdb: {e}"[:300]}
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} != {len(drows)}")
        if not problems and table_hash(scols, srows) != table_hash(dcols, drows):
            problems.append("value hash mismatch")
            sset = {"|".join(norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows}
            dset = {"|".join(norm_cell(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows}
            for x in list(sset - dset)[:3]:
                problems.append(f"  spark-only: {x[:160]}")
            for x in list(dset - sset)[:3]:
                problems.append(f"  duck-only : {x[:160]}")
        report[name] = {
            "rows_match": len(srows) == len(drows),
            "schema_match": sorted(scols) == sorted(dcols),
            "hash_match": table_hash(scols, srows) == table_hash(dcols, drows),
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK    {name}: {len(srows)} rows")
    spark.stop()
    if json_out:
        import json as _json

        with open(json_out, "w") as fh:
            _json.dump({"sf_dir": sf_dir, "results": report}, fh, indent=1)
        print(f"wrote {json_out} ({len(report)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
