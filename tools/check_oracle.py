"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and the matching `oracle_sql()` on
DuckDB over the same parquet tables, then compares:
  1. row count
  2. schema (sorted column names)
  3. order-insensitive value hash (cells stringified with float rounding,
     rows sorted)

Usage: python tools/check_oracle.py [sf_dir] [name_substr ...]

With name filters, only queries whose name contains any of them run.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_extractor_spark.operators.registry import TABLES  # noqa: E402
from pdf_extractor_spark.session import get_spark  # noqa: E402


def canon_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for line in canon_rows(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    if os.environ.get("ORACLE_ADVERSARIAL"):
        # simulate a foreign harness session: different timezone, AQE off,
        # oversized shuffle — the ops must still hash-match (they pin UTC at
        # plan build and restore, and depend on no AQE behavior)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "200")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark(app_name="check_oracle", master="local[8]", shuffle_partitions=16)

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and not any(o in name for o in only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
        except Exception as exc:
            print(f"FAIL  {name:28s} SPARK ERROR: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name:28s} rows={len(s_rows)} (no oracle — rows-only)")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = [c.lower() for c in rel.columns]
            d_rows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL  {name:28s} DUCKDB ERROR: {str(exc)[:140]}")
            n_fail += 1
            continue

        s_cols_l = [c.lower() for c in s_cols]
        problems = []
        if sorted(s_cols_l) != sorted(d_cols):
            problems.append(f"schema spark={sorted(s_cols_l)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rows spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            hs = value_hash(s_cols_l, s_rows)
            hd = value_hash(d_cols, d_rows)
            if hs != hd:
                problems.append(f"valuehash spark={hs} duck={hd}")
                # show a sample diff (same canonicalization as the hash)
                ss = canon_rows(s_cols_l, s_rows)
                dd = canon_rows(d_cols, d_rows)
                for a, b in zip(ss, dd):
                    if a != b:
                        problems.append(f"  first diff:\n   spark: {a[:200]}\n   duck : {b[:200]}")
                        break
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name:28s} " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"pass  {name:28s} rows={len(s_rows):6d}  {dt:5.1f}s")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
