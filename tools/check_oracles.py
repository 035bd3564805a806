"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count, schema (column names), and order-insensitive values.

Usage: python tools/check_oracles.py [--json OUT.json] [name ...]

With --json, also writes a driver-style record per query:
{name: {rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}}

Pinned intermediates are parquet here as everywhere (operators/dedup._pin),
so the gate runs the plan shape the jobs run. They land under
SPARK_GRAFT_MATERIALIZE_DIR when it is set, else in a per-application
directory that is deleted when the JVM exits.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.4f}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def check(only: list[str], sf_dir: str = SF_DIR, spark=None) -> list[str]:
    """Run the driver-style compare; returns the list of failed names."""
    import duckdb

    import __spark_entry__ as entrymod
    from ocr_endpoint_project_spark.session import build_session

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    own_spark = spark is None
    if own_spark:
        spark = build_session(app_name="oracle-check", master="local[8]", shuffle_partitions=8)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = only or list(queries)
    failed = []
    record: dict = {}
    for name in names:
        record[name] = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            sdf = queries[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"  {name}: rows-only ({len(s_rows)} rows) — no oracle")
                record[name].update(spark_rows=len(s_rows), err="rows-only")
                continue
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
            ok_cols = sorted(s_cols) == sorted(d_cols)
            ok_count = len(s_rows) == len(d_rows)
            ok_vals = ok_cols and ok_count and norm_rows(s_cols, s_rows) == norm_rows(d_cols, d_rows)
            # the driver's value-hash is pandas-dtype-sensitive: DuckDB HUGEINT
            # (sum of ints) lands as object/float where Spark gives int64, and
            # the hashes diverge even with equal values — compare dtypes too
            ok_types = True
            if ok_cols:
                s_pd = sdf.toPandas()
                d_pd = rel.df()
                # int width doesn't matter to the driver (int32 row_number vs
                # BIGINT hashed equal in r1); kind does (int vs float/object)
                def kind(dt):
                    s = str(dt)
                    return "int" if s.startswith(("int", "uint")) else s
                for c in s_cols:
                    sd, dd = kind(s_pd[c].dtype), kind(d_pd[c].dtype)
                    if sd != dd:
                        ok_types = False
                        print(f"    dtype mismatch on {c}: spark={sd} duck={dd}")
            status = "OK" if (ok_cols and ok_count and ok_vals and ok_types) else "FAIL"
            record[name].update(
                rows_match=ok_count, schema_match=ok_cols,
                hash_match=bool(ok_vals and ok_types),
                spark_rows=len(s_rows), oracle_rows=len(d_rows),
            )
            print(
                f"  {name}: {status} spark={len(s_rows)} duck={len(d_rows)} "
                f"cols={'=' if ok_cols else f'{sorted(s_cols)} vs {sorted(d_cols)}'}"
            )
            if status == "FAIL":
                failed.append(name)
                if ok_cols and ok_count:
                    a = norm_rows(s_cols, s_rows)
                    b = norm_rows(d_cols, d_rows)
                    diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    for x, y in diffs:
                        print(f"    spark: {x}\n    duck : {y}")
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            record[name]["err"] = f"{type(e).__name__}: {str(e)[:300]}"
            print(f"  {name}: ERROR {type(e).__name__}: {str(e)[:300]}")
    if own_spark:
        spark.stop()
    print(f"{len(names) - len(failed)}/{len(names)} OK; failed: {failed}")
    check.last_record = record
    return failed


if __name__ == "__main__":
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    rc = 1 if check(args) else 0
    if json_out:
        import json as _json

        with open(json_out, "w", encoding="utf-8") as f:
            _json.dump(check.last_record, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    raise SystemExit(rc)
