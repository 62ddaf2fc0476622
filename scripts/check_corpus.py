#!/usr/bin/env python
"""Run every registered query against the DuckDB oracle at a given sf.

Usage: python scripts/check_corpus.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pserv_spark.registry import build_queries, build_oracles
from pserv_spark.session import get_session
from pserv_spark.testing import compare_df_to_duckdb


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_session("check_corpus")
    queries, oracles = build_queries(), build_oracles()
    failures = []
    t0 = time.time()
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                res = compare_df_to_duckdb(name, df, oracles[name], sf_dir)
            else:
                n = df.count()
                res = type("R", (), {"ok": True, "spark_rows": n, "detail": "rows-only"})()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: EXCEPTION {type(e).__name__}: {e}")
            continue
        status = "ok" if res.ok else "FAIL"
        print(f"{status:4} {name:24} rows={res.spark_rows:<8} {time.time()-t:5.2f}s {getattr(res, 'detail', '')}")
        if not res.ok:
            failures.append(name)
            for d in getattr(res, "mismatches", [])[:3]:
                print(f"      spark={d[0]}\n      duck ={d[1]}")
    print(f"\n{len(failures)} failures / {len(only) or len(queries)} queries in {time.time()-t0:.1f}s")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
