#!/usr/bin/env python
"""Re-measure the naive-Spark-SQL + DuckDB baseline (BASELINE.md).

Same method as the original 2026-08-13 measurement — warm-up, then
median of 3 with full collect()/fetchall() — but at the SAME master the
driver's bench uses (local[$SPARK_GRAFT_CPUS], shuffle partitions from
$SPARK_GRAFT_SHUFFLE), so BENCH_r{N} ratios are apples-to-apples
(VERDICT r1 next-round #4; the original table ran local[8] vs bench's
local[32]).

"Naive" = the validated Appendix-A SQL strings run via spark.sql over
the registered views — no DataFrame re-expressions, no operator-level
tuning.  Usage: python scripts/measure_baseline.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FLAGSHIP = [
    "scan_project", "agg_groupby_q1", "join_multiway_q5", "join_left_outer",
    "win_topk_per_group", "agg_grouping_sets", "topk_global", "sessionize",
    "window_tumbling", "fn_explode_wordcount", "vec_knn", "dedup_exact",
    "join_asof", "agg_percentile", "tfidf",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pserv_spark import corpus
    from pserv_spark.catalog import load_tables
    from pserv_spark.registry import build_oracles
    from pserv_spark.session import get_session

    spark = get_session("baseline_naive_sql")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)

    spark_t: dict[str, float] = {}
    for name in FLAGSHIP:
        sql = corpus.SPARK_SQL[name]
        spark.sql(sql).collect()  # warm
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.sql(sql).collect()
            samples.append(time.perf_counter() - t0)
        spark_t[name] = round(statistics.median(samples), 4)

    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = build_oracles()
    duck_t: dict[str, float] = {}
    for name in FLAGSHIP:
        sql = oracles[name]
        con.execute(sql).fetchall()  # warm
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        duck_t[name] = round(statistics.median(samples), 4)

    print(json.dumps({
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "sf_dir": sf_dir,
        "spark_naive_sql": spark_t,
        "spark_total": round(sum(spark_t.values()), 3),
        "duckdb": duck_t,
        "duck_total": round(sum(duck_t.values()), 3),
    }, indent=1))


if __name__ == "__main__":
    main()
