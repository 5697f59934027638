#!/usr/bin/env python
"""Full driver-contract parity sweep at an arbitrary scale factor.

Simulates the external grading driver: a VANILLA SparkSession (none of
the engine's session tuning) runs every `queries()` op and compares it
against `oracle_sql()` executed by DuckDB over the same parquet tables
— sorted column names, row count, and an order-insensitive multiset of
canonicalized rows (floats via `float.hex()`, timestamps ISO-8601).

The external driver certifies at sf0.01; running this sweep at sf0.1
(the bench scale, 10× the data) guards against fixture-size blind
spots — e.g. an aggregate whose double rounding only diverges once
partial aggregation actually kicks in across many partitions.

Usage:
    python tools/parity_sweep.py [sf_dir] [op ...]
    # default sf_dir: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.01
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def canon(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(v).hex()
    if isinstance(v, decimal.Decimal):
        return float(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    # Anything path-shaped is an explicit sf_dir: a MISSING dir must be
    # a loud usage error, never silently reinterpreted as an op name —
    # tools/full_check.py passes a regenerated fixture dir here, and a
    # failed regen would otherwise make the sweep fall through to the
    # friendly default fixture and print a vacuous PASS row (same class
    # as the driver_canon_probe guard).
    if args and (os.sep in args[0] or args[0] in (".", "..") or os.path.isdir(args[0])):
        if not os.path.isdir(args[0]):
            print(f"error: fixture dir does not exist: {args[0]}", file=sys.stderr)
            sys.exit(2)
        sf_dir, args = args[0], args[1:]
    only = set(args) or None

    qs, oracles = E.queries(), E.oracle_sql()
    if only:
        unknown = sorted(only - set(qs))
        if unknown:
            # a mistyped op name must not silently shrink the sweep;
            # checked before the JVM starts so the error is immediate
            print(f"error: unknown op name(s): {unknown}", file=sys.stderr)
            sys.exit(2)

    # Hostile-config knobs: the driver chooses its own session, so
    # results must be identical under any parallelism / partition
    # count / session timezone (order-independent aggregation is a
    # core engine claim — exercise it, don't assume it).
    master = os.environ.get("SPARK_GRAFT_SWEEP_MASTER", "local[8]")
    parts = os.environ.get("SPARK_GRAFT_SWEEP_PARTITIONS", "8")
    tz = os.environ.get("SPARK_GRAFT_SWEEP_TZ")
    b = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", parts)
        .appName("parity-sweep")
    )
    if tz:
        b = b.config("spark.sql.session.timeZone", tz)
    # arbitrary extra confs, ';'-separated k=v (e.g. AQE off)
    for kv in filter(None, os.environ.get("SPARK_GRAFT_SWEEP_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    names = [x for x in qs if not only or x in only]
    fails: list[tuple[str, str]] = []
    for i, op in enumerate(names):
        try:
            df = qs[op](spark, sf_dir)
            scols = sorted(df.columns)
            smul = sorted(
                ",".join(canon(r[c]) for c in scols) for r in df.collect()
            )
            res = con.sql(oracles[op])
            dcols = sorted(res.columns)
            colidx = {c: j for j, c in enumerate(res.columns)}
            dmul = sorted(
                ",".join(canon(r[colidx[c]]) for c in dcols) for r in res.fetchall()
            )
            if [c.lower() for c in scols] != [c.lower() for c in dcols]:
                fails.append((op, f"cols {scols} vs {dcols}"))
                status = "COLS"
            elif len(smul) != len(dmul):
                fails.append((op, f"rows {len(smul)} vs {len(dmul)}"))
                status = "ROWS"
            elif smul != dmul:
                bad = next((a, b) for a, b in zip(smul, dmul) if a != b)
                fails.append((op, f"hash: {bad[0][:120]} vs {bad[1][:120]}"))
                status = "HASH"
            else:
                status = "MATCH"
            print(f"[{i + 1}/{len(names)}] {op}: {status}", flush=True)
        except Exception as e:  # noqa: BLE001 — report and continue the sweep
            fails.append((op, f"ERR {type(e).__name__}: {str(e)[:200]}"))
            print(f"[{i + 1}/{len(names)}] {op}: ERR {str(e)[:200]}", flush=True)
        spark.catalog.clearCache()
    print(f"\n{len(names) - len(fails)}/{len(names)} MATCH at {sf_dir}")
    for op, why in fails:
        print(f"FAIL {op}: {why}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
