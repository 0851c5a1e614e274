#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and its
``oracle_sql()`` on DuckDB over the same parquet tables, then compares:
row count, column-name set, and an order-insensitive value hash
(columns sorted by name, rows sorted by their string form).

Usage:  python tools/check_correctness.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # Do NOT fold whole-number floats into ints: the driver's pandas
        # path renders DuckDB HUGEINT as float64 ('3.0'), and folding here
        # would mask exactly that cross-engine type drift (round-1 lesson:
        # rollup_directory_sizes passed locally, failed the driver gate).
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def run(sf_dir: str, only: list[str], json_out: str | None = None) -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from fs_indexer_elasticsearch_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = only or list(qs)
    n_pass = n_fail = n_weak = 0
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "FAIL", "err": str(e)[:500]}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows={len(srows)} (no oracle, rows-only check)")
            results[name] = {"status": "WEAK", "rows": len(srows)}
            n_weak += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            results[name] = {"status": "FAIL", "err": str(e)[:500]}
            n_fail += 1
            continue
        # The driver fetches oracle results through pandas, where HUGEINT
        # (DuckDB's sum-of-integer type) degrades to float64 and flips the
        # value hash against Spark's BIGINT. Any HUGEINT output column is
        # an oracle bug: wrap the aggregate in CAST(... AS BIGINT).
        huge = [c for c, t in zip(ocols, otypes) if "HUGEINT" in t.upper()]
        if huge:
            print(f"FAIL {name}: oracle emits HUGEINT column(s) {huge} — cast to BIGINT")
            results[name] = {"status": "FAIL", "err": f"HUGEINT columns {huge}"}
            n_fail += 1
            continue
        sn, sh = table_hash(scols, srows)
        on, oh = table_hash(ocols, orows)
        dt = time.time() - t0
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            results[name] = {"status": "FAIL", "err": "column mismatch"}
            n_fail += 1
        elif sn != on:
            print(f"FAIL {name}: rowcount spark={sn} oracle={on}")
            results[name] = {"status": "FAIL", "err": f"rows {sn} vs {on}"}
            n_fail += 1
        elif sh != oh:
            print(f"FAIL {name}: value hash mismatch ({sn} rows)")
            _diff_sample(scols, srows, ocols, orows)
            results[name] = {"status": "FAIL", "err": "hash mismatch"}
            n_fail += 1
        else:
            print(f"PASS {name}: rows={sn} hash={sh} ({dt:.1f}s)")
            results[name] = {"status": "PASS", "rows": sn, "hash": sh, "sec": round(dt, 2)}
            n_pass += 1
    print(f"\n{n_pass} pass / {n_weak} weak / {n_fail} fail")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "total": len(names),
                    "pass": n_pass,
                    "weak": n_weak,
                    "fail": n_fail,
                    "results": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if n_fail else 0


def _diff_sample(scols, srows, ocols, orows, k: int = 4) -> None:
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
    sset = sorted("\x1f".join(_norm_cell(r[i]) for i in so) for r in srows)
    oset = sorted("\x1f".join(_norm_cell(r[i]) for i in oo) for r in orows)
    s_only = [x for x in sset if x not in set(oset)][:k]
    o_only = [x for x in oset if x not in set(sset)][:k]
    for x in s_only:
        print("   spark-only:", x.replace("\x1f", " | ")[:200])
    for x in o_only:
        print("  oracle-only:", x.replace("\x1f", " | ")[:200])


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--json", default=None, help="write machine-readable results here")
    ap.add_argument("names", nargs="*")
    a = ap.parse_args()
    sys.exit(run(a.sf_dir, a.names, a.json))
