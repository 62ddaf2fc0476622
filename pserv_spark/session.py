"""SparkSession construction / configuration.

The reference keeps a pool of MySQLdb connections keyed by kwargs
(public repo: python/desc/pserv/Pserv.py, DbConnection — SURVEY §2.1);
the Spark analog is one shared SparkSession plus a set of mandatory SQL
confs.  Two confs are load-bearing for correctness (SURVEY §1.2/§4.4):

- ``spark.sql.session.timeZone=UTC`` — keeps collected datetimes
  naive-UTC, identical to the DuckDB oracle's view, and makes the
  ``CAST(ts AS TIMESTAMP)`` in ``v_events`` (TIMESTAMP_NTZ → session
  zone) an identity on the wall-clock values.
- ``spark.sql.shuffle.partitions`` — sized to the local harness; at
  cluster scale this is AQE-managed (coalescePartitions) so the static
  value only seeds the initial shuffle fan-out.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs that are runtime-settable and required for correctness.
REQUIRED_SQL_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
}

#: Performance confs — safe defaults for the local[N] harness; on a real
#: cluster AQE re-plans shuffle parallelism at runtime.
TUNING_SQL_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Let custom Python DataSources (sources/fitslike.py) receive
    # pushed filters for block pruning (off by default in Spark 4.1).
    "spark.sql.python.filterPushdown.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply required + tuning confs to an externally-created session.

    The driver owns session creation, so everything here must be
    runtime-settable (all ``spark.sql.*`` confs are).
    """
    for key, value in {**REQUIRED_SQL_CONFS, **TUNING_SQL_CONFS}.items():
        spark.conf.set(key, value)
    return spark


def get_session(app_name: str = "pserv_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a session for tests / bench runs.

    ``SPARK_GRAFT_CPUS`` sets the task slots; unset, the session uses
    the CPUs this process may run on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return configure(builder.getOrCreate())
