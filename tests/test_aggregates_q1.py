"""Machine-check of the Q1 fast-unit exactness precondition.

``agg_groupby_q1`` computes its scaled-integer partials with
``_fp_unit`` (pure FP ``floor(x·10^s + 0.5)``) instead of the per-row
DECIMAL(18,s) cast the oracle applies.  The substitution is exact only
while the data keeps the documented invariant — every measure is an
s-digit decimal reached through a short IEEE product chain, so no value
sits near a .5-unit rounding boundary.  This test re-proves the
invariant on the REAL data every run: per-row equality of the two
forms, over every lineitem row, for all four measures, at both the
smoke and oracle tiers (the bench tier is covered by the sweep gate).
A testdata regen that broke the precondition fails here loudly instead
of silently shifting a sum by one smallest-unit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pserv_spark.catalog import load_tables
from pserv_spark.queries import _fp_unit


def _dec_unit(c: F.Column, s: int) -> F.Column:
    return (c.cast(f"decimal(18,{s})") * (10**s)).cast("long")


@pytest.mark.parametrize("tier", ["sf_smoke", "sf_oracle"])
def test_fp_unit_equals_decimal_cast_on_every_row(spark, tier, request):
    sf_dir = request.getfixturevalue(tier)
    li = load_tables(spark, sf_dir)["lineitem"]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    units = {
        "q": (F.col("l_quantity"), 2),
        "p": (F.col("l_extendedprice"), 2),
        "d": (disc, 4),
        "ch": (disc * (1 + F.col("l_tax")), 6),
    }
    row = li.agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.when(_fp_unit(c, s) != _dec_unit(c, s), 1).otherwise(0)
            ).alias(f"mism_{k}")
            for k, (c, s) in units.items()
        ],
    ).collect()[0]
    assert row.n > 0
    for k in units:
        assert row[f"mism_{k}"] == 0, (
            f"fast FP unit diverged from DECIMAL cast on measure {k!r} "
            f"({row[f'mism_{k}']} of {row.n} rows) — the s-digit-decimal "
            "data invariant is broken; revert agg_groupby_q1 to the "
            "decimal-cast units"
        )


def test_fp_unit_half_up_sign_symmetry(spark):
    """BigDecimal HALF_UP rounds half away from zero — pin the negative
    branch (plain floor(x+0.5) would send -2.5 to -2)."""
    df = spark.createDataFrame(
        [(2.5,), (-2.5,), (2.4,), (-2.4,), (2.6,), (-2.6,), (0.0,)], "x double"
    )
    got = {
        r.x: r.u
        for r in df.select("x", _fp_unit(F.col("x"), 0).alias("u")).collect()
    }
    assert got == {2.5: 3, -2.5: -3, 2.4: 2, -2.4: -2, 2.6: 3, -2.6: -3, 0.0: 0}
