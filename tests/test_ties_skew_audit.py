"""Tie-amplification robustness: production data collides where the
synthetic tiers don't (round prices, batch-boundary timestamps,
quantized embeddings), and an ORDER BY that under-specifies the row
only betrays itself on ties.  scripts/audit_ties_skew.py sweeps all
313 ids against a coarsened/skewed mirror tier at round close
(TIESSKEW.json); these tests pin the tier builder and the two specific
regression classes the first round-7 sweep found and fixed.
"""

from __future__ import annotations

import importlib.util
import tempfile
from pathlib import Path

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "audit_ties_skew",
    Path(__file__).resolve().parent.parent / "scripts" / "audit_ties_skew.py",
)
_MOD = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_MOD)


@pytest.fixture(scope="module")
def ties_tier(sf_smoke) -> str:
    tmp = tempfile.mkdtemp(prefix="pserv_ties_pin_")
    _MOD.build_ties_tier(sf_smoke, tmp)
    return tmp


def test_ties_tier_actually_creates_ties(spark, sf_smoke, ties_tier):
    """The tier must contain MORE duplicate ordering-key values than the
    source on every amplified column — otherwise the sweep is vacuous."""
    import duckdb

    for t, col in [
        ("orders", "o_totalprice"),
        ("lineitem", "l_extendedprice"),
        ("events", "ts"),
        ("documents", "text"),
    ]:
        n, src_d = duckdb.sql(
            f"SELECT COUNT(*), COUNT(DISTINCT {col}) FROM '{sf_smoke}/{t}.parquet'"
        ).fetchone()
        _, tier_d = duckdb.sql(
            f"SELECT COUNT(*), COUNT(DISTINCT {col}) FROM '{ties_tier}/{t}.parquet'"
        ).fetchone()
        assert tier_d < src_d, (t, col, src_d, tier_d)
        assert n - tier_d > n // 4, f"{t}.{col}: too few ties to stress"
    # hot keys: 8 users absorb every event
    users = duckdb.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM '{ties_tier}/events.parquet'"
    ).fetchone()[0]
    assert users <= 8


def test_tier_build_is_deterministic(sf_smoke, ties_tier):
    import filecmp

    tmp2 = tempfile.mkdtemp(prefix="pserv_ties_pin2_")
    _MOD.build_ties_tier(sf_smoke, tmp2)
    for t in _MOD.TABLES:
        assert filecmp.cmp(
            f"{ties_tier}/{t}.parquet", f"{tmp2}/{t}.parquet", shallow=False
        ), t


def test_allowlist_entries_are_registered_and_reasoned():
    from pserv_spark.registry import build_queries

    names = set(build_queries())
    for name, reason in _MOD.TIES_ALLOWED.items():
        assert name in names, f"stale TIES_ALLOWED entry: {name}"
        assert len(reason) > 20, f"{name}: reason too thin to review"


def test_negative_zero_canonicalizes_like_positive_zero():
    """First sweep finding #1: Spark's HALF_UP round of -1e-9 at 6 dp
    yields +0.0 where DuckDB's ROUND keeps the sign (-0.0).  The values
    are IEEE-equal, so the canonical form must be too — including
    inside nested arrays."""
    from pserv_spark.testing import _canon_value

    assert _canon_value(-0.0) == _canon_value(0.0) == "0.0"
    assert _canon_value([-0.0, 1.5]) == _canon_value([0.0, 1.5])
    assert _canon_value(-1e-9) != _canon_value(0.0)  # only the ZERO folds


def test_minmax_by_tie_break_is_pinned(spark, ties_tier):
    """First sweep finding #2: bare MAX_BY/MIN_BY on a tied price picks
    an arbitrary order.  The composed (cents, orderkey) key must give
    the highest orderkey for best and lowest for worst among ties."""
    from pserv_spark.catalog import _REGISTERED
    from pserv_spark.registry import build_queries

    agg_minmax_by = build_queries()["agg_minmax_by"]
    _REGISTERED.pop(id(spark), None)
    try:
        got = {r.o_custkey: r for r in agg_minmax_by(spark, ties_tier).collect()}
        orders = spark.read.parquet(f"{ties_tier}/orders.parquet").collect()
    finally:
        _REGISTERED.pop(id(spark), None)
    by_cust: dict = {}
    for r in orders:
        by_cust.setdefault(r.o_custkey, []).append(r)
    n_tied = 0
    for cust, rows in by_cust.items():
        hi = max(r.o_totalprice for r in rows)
        lo = min(r.o_totalprice for r in rows)
        best = [r.o_orderkey for r in rows if r.o_totalprice == hi]
        worst = [r.o_orderkey for r in rows if r.o_totalprice == lo]
        n_tied += len(best) > 1 or len(worst) > 1
        assert got[cust].best_order == max(best), cust
        assert got[cust].worst_order == min(worst), cust
    assert n_tied > 0, "vacuous: the ties tier produced no price ties"
