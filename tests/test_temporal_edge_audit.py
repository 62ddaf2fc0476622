"""Temporal-edge robustness: negative epochs (pre-1970 event times),
leap days, epoch boundaries, far-future timestamps.
scripts/audit_temporal_edge.py sweeps all 313 ids against a relocated-
calendar mirror tier at round close (TEMPORALEDGE.json); these tests
pin the tier builder and the two findings of the first round-7 sweep:
DuckDB's truncating integer division vs Spark's flooring window
assignment, and Spark's epoch-0 initial watermark.
"""

from __future__ import annotations

import datetime
import importlib.util
import tempfile
from pathlib import Path

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "audit_temporal_edge",
    Path(__file__).resolve().parent.parent / "scripts" / "audit_temporal_edge.py",
)
_MOD = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_MOD)


@pytest.fixture(scope="module")
def temporal_tier(sf_smoke) -> str:
    tmp = tempfile.mkdtemp(prefix="pserv_temporal_pin_")
    _MOD.build_temporal_tier(sf_smoke, tmp)
    return tmp


def test_tier_contains_every_edge_class(spark, temporal_tier):
    years = {
        r.y
        for r in spark.read.parquet(f"{temporal_tier}/events.parquet")
        .selectExpr("EXTRACT(YEAR FROM CAST(ts AS TIMESTAMP)) AS y")
        .where("ts IS NOT NULL")
        .distinct()
        .collect()
    }
    assert {1950, 1969, 2024, 2199} <= years
    leap = (
        spark.read.parquet(f"{temporal_tier}/events.parquet")
        .where("CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE'2024-02-29'")
        .count()
    )
    assert leap > 0


def test_allowlist_entries_are_registered_and_reasoned():
    from pserv_spark.registry import build_queries

    names = set(build_queries())
    for name, reason in _MOD.TEMPORAL_ALLOWED.items():
        assert name in names, f"stale TEMPORAL_ALLOWED entry: {name}"
        assert len(reason) > 20, f"{name}: reason too thin to review"


def test_spark_window_floors_negative_epochs(spark):
    """Finding #1: Spark's window() FLOORS pre-1970 timestamps to their
    bucket; DuckDB's integer `//` truncates toward zero (→ the wrong
    bucket).  Oracles must use the floored-multiple idiom
    ``ts_us - ((ts_us % W) + W) % W``."""
    import duckdb

    from pyspark.sql import functions as F

    rows = [
        (1, datetime.datetime(1969, 12, 31, 23, 30)),
        (2, datetime.datetime(1950, 6, 15, 10, 30)),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = {
        r.id: r.ws
        for r in df.select(
            "id", F.window("ts", "2 hours").start.alias("ws")
        ).collect()
    }
    assert got[1] == datetime.datetime(1969, 12, 31, 22, 0)
    assert got[2] == datetime.datetime(1950, 6, 15, 10, 0)
    # the truncating idiom puts 23:30 into the 1970-01-01 bucket — wrong
    trunc = duckdb.sql(
        "SELECT make_timestamp((epoch_us(TIMESTAMP '1969-12-31 23:30:00')"
        " // 7200000000) * 7200000000)"
    ).fetchone()[0]
    assert trunc == datetime.datetime(1970, 1, 1, 0, 0)
    floored = duckdb.sql(
        "SELECT make_timestamp(u - ((u % 7200000000) + 7200000000) % 7200000000)"
        " FROM (SELECT epoch_us(TIMESTAMP '1969-12-31 23:30:00') AS u)"
    ).fetchone()[0]
    assert floored == got[1]


@pytest.fixture(scope="module")
def preepoch_tier(tmp_path_factory) -> str:
    """sf0.001 mirror with every event_id % 10 == 0 event relocated to
    1950 (pre-epoch), all other tables copied unchanged."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pserv_spark import catalog

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sf_preepoch")
    for name in catalog.TABLE_NAMES:
        shutil.copy(f"{src}/{name}.parquet", d / f"{name}.parquet")
    tbl = pq.read_table(f"{src}/events.parquet").to_pandas()
    moved = tbl["event_id"] % 10 == 0
    assert moved.any()
    tbl.loc[moved, "ts"] = tbl.loc[moved, "ts"].map(
        lambda v: v.replace(year=1950) if v is not None else v
    )
    pq.write_table(
        pa.Table.from_pandas(tbl, preserve_index=False),
        str(d / "events.parquet"),
    )
    return str(d)


@pytest.fixture()
def _fresh_catalog(spark):
    from pserv_spark import catalog

    catalog._REGISTERED.pop(id(spark), None)
    yield
    catalog._REGISTERED.pop(id(spark), None)


def test_pre_epoch_events_are_dropped_by_watermark_but_kept_by_batch(
    spark, preepoch_tier, _fresh_catalog
):
    """Finding #2 (the allowlist contract): Spark initializes the
    event-time watermark at epoch 0, so a pre-1970 event is
    structurally late for every watermarked stateful op — while the
    BATCH window aggregation keeps it exactly."""
    from pserv_spark.registry import build_queries
    from pserv_spark.streaming.jobs import stream_tumbling_watermark

    window_tumbling = build_queries()["window_tumbling"]

    batch = window_tumbling(spark, preepoch_tier)
    n_batch_pre = batch.where("EXTRACT(YEAR FROM day) = 1950").count()
    assert n_batch_pre > 0  # batch keeps pre-epoch windows exactly
    stream = stream_tumbling_watermark(spark, preepoch_tier)
    n_stream_pre = stream.where("EXTRACT(YEAR FROM day) = 1950").count()
    assert n_stream_pre == 0  # watermarked stream drops them all
    assert stream.count() > 0  # the job itself still emits on-time data


def test_pre_epoch_contract_session_window(spark, preepoch_tier, _fresh_catalog):
    """VERDICT r7 #4: the TEMPORALEDGE allowlist claims ALL four
    watermarked stateful ops drop pre-epoch rows; pin each one so a
    Spark upgrade that changes watermark initialization fails loudly."""
    from pserv_spark.streaming.jobs import stream_session_window

    out = stream_session_window(spark, preepoch_tier)
    assert out.where("EXTRACT(YEAR FROM sess_start) = 1950").count() == 0
    assert out.count() > 0


def test_pre_epoch_contract_stream_stream_join(
    spark, preepoch_tier, _fresh_catalog
):
    """Both join sides are watermarked, so a relocated (pre-epoch)
    purchase or signup must never reach the joined output."""
    from pserv_spark.streaming.jobs import stream_stream_join

    out = stream_stream_join(spark, preepoch_tier)
    assert out.where("p_id % 10 = 0 OR s_id % 10 = 0").count() == 0
    assert out.count() > 0


def test_pre_epoch_contract_late_drop_audit(spark, preepoch_tier, _fresh_catalog):
    """The deterministic late-drop job replays the purchase feed in
    controlled files; pre-epoch purchases are below the epoch-0 initial
    watermark and must produce no 1950 window (its `day` column is an
    epoch-day index, so pre-epoch days are negative)."""
    from pserv_spark.streaming.jobs import stream_late_drop_audit

    out = stream_late_drop_audit(spark, preepoch_tier)
    assert out.where("day < 0").count() == 0
    assert out.count() > 0
