"""Simulate the driver: bare SparkSession (none of pserv_spark's confs),
import __spark_entry__, smoke entry(), then hash-compare every
queries() entry against oracle_sql() via DuckDB at sf0.01."""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

# Bare session, deliberately WITHOUT nanosAsLong/UTC — as the driver might.
spark = (SparkSession.builder.master("local[8]")
         .appName("driver-sim").config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

df = e.entry(spark)
rows = df.collect()
print(f"entry(): cols={df.columns} rows={len(rows)} sample={rows[:2]}")

qs, os_ = e.queries(), e.oracle_sql()
print(f"queries={len(qs)} oracles={len(os_)} missing_oracle={sorted(set(qs)-set(os_))}")

from pserv_spark.testing import compare_df_to_duckdb
sf = "/root/testdata/sf0.01"
fails = []
t0 = time.time()
for name, fn in qs.items():
    try:
        if name not in os_:
            n = fn(spark, sf).count()
            print(f"rows-only {name}: {n} rows")
            if n < 0:
                fails.append(name)
            continue
        res = compare_df_to_duckdb(name, fn(spark, sf), os_[name], sf)
        if not res.ok:
            fails.append(name); print(f"FAIL {name}: {res.detail} {res.mismatches[:1]}")
    except Exception as ex:
        fails.append(name); print(f"EXC {name}: {ex}")
print(f"{len(qs)-len(fails)}/{len(qs)} exact-match in {time.time()-t0:.0f}s; fails={fails}")
