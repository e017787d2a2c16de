"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()``
twin on DuckDB over the same parquet tables, then compares
row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, floats canonicalized).

Results must not depend on the Spark configuration: ``--conf K=V``
(repeatable) starts the session with those confs on top of the
engine's, e.g. ``--conf spark.sql.shuffle.partitions=200`` (Spark's
stock default) or ``--conf spark.sql.adaptive.enabled=false``.

Usage:
    python tools/check_oracle.py [--sf SF_DIR] [--conf K=V]... [query ...]

``--sf`` defaults to $SF_DIR, else the sf0.01 fixture.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.session import drain_driver_backlog, get_spark
from irio2024_mapreduce_spark.sources.tables import TABLE_NAMES


def _canon(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    confs = dict(c.partition("=")[::2] for c in args.conf)

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    spark = get_spark("oracle-check", extra_conf=confs)
    qs = registry.queries()
    # data-dependent oracles (similarity_ivf's injected centroids)
    # rebuilt for THIS sf dir — the driver itself grades at sf0.01,
    # where oracle_sql_for == oracle_sql
    oracles = registry.oracle_sql_for(args.sf)
    names = args.names or list(qs)

    failures = 0
    for name in names:
        # 50-query loop = the exact shape that breeds py4j detach
        # storms (SCALE.md round-5) — drain between queries
        drain_driver_backlog(spark)
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue

        probs = []
        if sorted(s_cols) != sorted(d_cols):
            probs.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            probs.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not probs:
            sh = value_hash(s_cols, s_rows)
            dh = value_hash(d_cols, d_rows)
            if sh != dh:
                probs.append("value-hash mismatch")
                # show a few differing lines to debug
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ls = sorted("|".join(_canon(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("|".join(_canon(r[i]) for i in order_d) for r in d_rows)
                diffs = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                for a, b in diffs:
                    probs.append(f"  spark: {a[:200]}")
                    probs.append(f"  duck : {b[:200]}")
        if probs:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(probs[:1]))
            for p in probs[1:]:
                print(f"      {p}")
        else:
            print(f"PASS  {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
