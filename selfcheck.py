"""Driver-mirror correctness gate, runnable locally before each round closes.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables (default
sf0.01, the driver's correctness scale), comparing row count, sorted column
names, and an order-insensitive canonicalized value hash — the same three
signals the driver records in CORRECTNESS_r{N}.json.

Usage:  python selfcheck.py [--sf /root/testdata/sf0.01] [--only name,name]
Prints one JSON object per query and a trailing summary line; exit code 1 if
any checked entry mismatches.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import time

import duckdb

from data_warehouse_spark.schemas import TESTDATA_TABLES
from data_warehouse_spark.session import get_spark


def canon_cell(v):
    import datetime
    import decimal
    import math

    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "~"
    if isinstance(v, (decimal.Decimal, float)):
        f = float(v)
        return repr(round(f, 6))
    if isinstance(v, int):
        return repr(round(float(v), 6)) if abs(v) < 2**52 else str(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def value_hash(df) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "|".join(canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import importlib.util

    spec = importlib.util.spec_from_file_location("entry_mod", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    queries, oracles = mod.queries(), mod.oracle_sql()
    only = {n for n in args.only.split(",") if n}
    unknown = only - set(queries)
    if unknown:
        # a typo'd --only must fail loudly, not report a vacuous green gate
        print(json.dumps({"error": "unknown_queries", "names": sorted(unknown)}))
        return 1

    spark = get_spark(app_name="dwh-selfcheck", shuffle_partitions=32)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    bad = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        rec = {"name": name}
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf).toPandas()
            rec["spark_rows"] = len(sdf)
            if name in oracles:
                odf = con.execute(oracles[name]).df()
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                rec["hash_match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and value_hash(sdf) == value_hash(odf)
                )
                if not rec["hash_match"]:
                    bad += 1
                    if not rec["schema_match"]:
                        rec["spark_cols"] = sorted(sdf.columns)
                        rec["oracle_cols"] = sorted(odf.columns)
            else:
                rec["err"] = "no_oracle"
        except Exception as exc:  # noqa: BLE001 — report and keep checking
            bad += 1
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["sec"] = round(time.time() - t0, 2)
        print(json.dumps(rec), flush=True)

    print(json.dumps({"checked": len(only) or len(queries), "mismatched": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
