"""Physical-plan audits: the plan, not just the result, is the product.

Each assertion pins a property that decides whether the operator
survives a 100× scale-up (SURVEY §4.1): dimension joins must broadcast,
scans must prune columns and push predicates, EXISTS/IN must plan as
semi/anti joins (key-only shuffle), top-k must avoid a global sort, and
the banded/zoned operators must contain *no* nested-loop join — that
is the entire point of their design.
"""

from __future__ import annotations

import pytest

from pserv_spark.operators.dedup import dedup_minhash_lsh, dedup_simhash
from pserv_spark.operators.zonematch import vec_crossmatch_zoned
from pserv_spark.plans import physical_plan as _plan
from pserv_spark.plans import physical_plan
from pserv_spark.plans import exchange_count, has_nested_loop, pushed_filters, read_schema
from pserv_spark.registry import build_queries

QUERIES = build_queries()


def test_broadcast_dim_join_broadcasts(spark, sf_oracle):
    plan = _plan(QUERIES["join_broadcast_dim"](spark, sf_oracle))
    assert "BroadcastHashJoin" in plan


def test_multiway_q5_broadcasts_dims(spark, sf_oracle):
    """The star join's small dims (region/nation/supplier) must not
    shuffle the fact table once each — Catalyst should pick broadcast
    strategies from parquet size stats."""
    plan = _plan(QUERIES["join_multiway_q5"](spark, sf_oracle))
    assert "BroadcastHashJoin" in plan


def test_scan_projection_prunes_columns(spark, sf_oracle):
    cols = read_schema(QUERIES["scan_project"](spark, sf_oracle))
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
    }


def test_filter_pushdown_reaches_scan(spark, sf_oracle):
    pushed = pushed_filters(QUERIES["filter_compound"](spark, sf_oracle))
    assert any("o_totalprice" in p for p in pushed)  # range pushed to parquet


def test_semi_anti_plan_as_semi_anti(spark, sf_oracle):
    assert "LeftSemi" in _plan(QUERIES["join_semi"](spark, sf_oracle))
    assert "LeftAnti" in _plan(QUERIES["join_anti"](spark, sf_oracle))
    assert "LeftSemi" in _plan(QUERIES["join_in_subquery"](spark, sf_oracle))


def test_topk_avoids_global_sort(spark, sf_oracle):
    plan = _plan(QUERIES["topk_global"](spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan


def test_q5_single_shuffle_when_dims_fit(spark, sf_oracle):
    """With every dimension under the size-aware broadcast threshold
    (catalog.dim), the star join must reduce to scans + broadcasts +
    ONE shuffle (the final aggregation) — the plan shape that keeps
    the fact table from ever being exchanged for a dimension."""
    df = QUERIES["join_multiway_q5"](spark, sf_oracle)
    assert exchange_count(df) <= 1, physical_plan(df)


def test_q1_salted_longsum_shape(spark, sf_oracle):
    """The scaled-integer Q1: partial aggregation must carry the salt
    (pmod) and sum LONGs, with the decimal descale only in the tiny
    combine stage — never a >18-digit decimal sum buffer over the
    fact scan."""
    plan = _plan(QUERIES["agg_groupby_q1"](spark, sf_oracle))
    assert "pmod" in plan
    # explain prints top-down: the map-side partial agg + scan are the
    # text BELOW the (only) shuffle exchange.
    map_side = plan[plan.rindex("Exchange hash"):]
    assert "decimal(27,0)" not in map_side, "descale leaked into the partial agg"
    assert "partial_sum" in map_side


def test_q1_partial_final_aggregation(spark, sf_oracle):
    df = QUERIES["agg_groupby_q1"](spark, sf_oracle)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # map-side partial + final
    assert "partial_sum" in plan
    # Codegen stage markers ("*(n)") only appear in the AQE final plan.
    df.collect()
    final = _plan(df)
    assert "*(" in final, "no whole-stage-codegen stages in final plan"


def _astro_crossmatch_sph(spark, sf_dir):
    from pserv_spark.operators.astro_sph import astro_crossmatch_sph

    return astro_crossmatch_sph(spark, sf_dir)


def _mm_phash_near_dup(spark, sf_dir):
    from pserv_spark.operators.multimodal import mm_phash_near_dup

    return mm_phash_near_dup(spark, sf_dir)


@pytest.mark.parametrize(
    "fn",
    [
        vec_crossmatch_zoned,
        dedup_minhash_lsh,
        dedup_simhash,
        _astro_crossmatch_sph,
        _mm_phash_near_dup,
    ],
)
def test_banded_operators_have_no_nested_loop(spark, sf_oracle, fn):
    """The scale-path operators exist to replace O(N²) joins; a
    nested-loop or cartesian anywhere in their plans is a regression."""
    assert not has_nested_loop(fn(spark, sf_oracle))


def test_naive_crossmatch_is_nested_loop(spark, sf_oracle):
    """Sanity for the test above: the naive theta crossmatch *does*
    plan as a nested-loop join — that contrast is the zoned operator's
    reason to exist."""
    assert has_nested_loop(QUERIES["vec_crossmatch"](spark, sf_oracle))


def test_bucketed_join_skips_shuffle(spark, sf_oracle):
    """Bucket-co-located sort-merge join: both scans read the bucketed
    layout and the join needs no Exchange on either input — the only
    shuffle left is the tiny post-aggregation one on the group key."""
    from pserv_spark.operators.bucketing import join_bucketed_colocated
    from pserv_spark.plans import exchange_count

    df = join_bucketed_colocated(spark, sf_oracle)
    plan = _plan(df)
    assert "Bucketed: true" in plan
    assert "SortMergeJoin" in plan
    assert exchange_count(df) == 1  # agg shuffle only; join inputs: none


def test_tpch_full_dims_broadcast(spark, sf_oracle):
    """Q7/Q9/Q19: the part/nation dims must broadcast — re-shuffling
    the lineitem fact for a 20k-row build side would be the scale
    bug these shapes exist to avoid."""
    from pserv_spark.operators.tpch_full import (
        join_q7_volume,
        join_q9_profit,
        join_q19_disc_revenue,
    )

    for fn in (join_q7_volume, join_q9_profit, join_q19_disc_revenue):
        df = fn(spark, sf_oracle)
        assert "BroadcastHashJoin" in _plan(df), fn.__name__
        assert not has_nested_loop(df), fn.__name__


def test_q6_predicates_reach_scan(spark, sf_oracle):
    """Q6 is the pure-scan query: all three predicates must push into
    the parquet reader for row-group skipping."""
    from pserv_spark.operators.tpch_full import agg_q6_forecast

    pushed = pushed_filters(agg_q6_forecast(spark, sf_oracle))
    joined = " ".join(pushed)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in joined, f"{col} not pushed: {pushed}"


def test_pipeline_windows_are_partitioned(spark, sf_oracle):
    """Packing/interleave/balance must never sort the full table in one
    partition: every full-table Window partitions by its group key
    (interleave's only global window ranks the handful of distinct
    sources)."""
    from pserv_spark.operators.pipeline_ops import (
        class_balance_downsample,
        interleave_sources,
        pack_sequential_bins,
    )

    plan = _plan(pack_sequential_bins(spark, sf_oracle))
    assert "hashpartitioning(lang" in plan
    plan = _plan(class_balance_downsample(spark, sf_oracle))
    assert "hashpartitioning(lang" in plan
    plan = _plan(interleave_sources(spark, sf_oracle))
    assert "hashpartitioning(source" in plan


def test_decontaminate_broadcasts_benchmark_side(spark, sf_oracle):
    """The n-gram decontamination join must broadcast the (small)
    benchmark shingle set — at 100 TB the train side streams map-side;
    a sort-merge join here would shuffle the whole corpus by shingle."""
    from pserv_spark.operators.quality_ops import decontaminate_ngram

    df = decontaminate_ngram(spark, sf_oracle)
    assert "BroadcastHashJoin" in _plan(df)
    assert not has_nested_loop(df)


def test_repetition_ratio_is_shuffle_free(spark, sf_oracle):
    """Repetition scoring is a narrow map: no exchange anywhere in the
    plan (it must pipeline with the scan at 100 TB)."""
    from pserv_spark.operators.quality_ops import text_repetition_ratio
    from pserv_spark.plans import exchange_count

    assert exchange_count(text_repetition_ratio(spark, sf_oracle)) == 0


def test_astro_box_predicate_is_scan_side(spark, sf_oracle):
    """Box search must stay a scan-side filter (no join, no exchange)."""
    from pserv_spark.operators.astro_sph import astro_box_search
    from pserv_spark.plans import exchange_count

    assert exchange_count(astro_box_search(spark, sf_oracle)) == 0


def test_salted_join_shuffles_not_broadcasts(spark, sf_oracle):
    """join_salted_skew exists to balance a *shuffle* join; if Catalyst
    broadcast the replicated dim the salt would be dead weight.  The
    merge hint must hold, and both row_number-free sides must reach a
    SortMergeJoin on (key, salt)."""
    from pserv_spark.operators.sampling import join_salted_skew

    plan = _plan(join_salted_skew(spark, sf_oracle))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_aqe_skew_join_splits(spark, sf_oracle):
    """join_skew_aqe's whole premise is that AQE's runtime skew-split
    replaces the manual salt — prove the mechanism actually fires.  A
    deliberately skewed fact (one hot key holding ~99% of rows) is
    sort-merge-joined under lowered split thresholds; the AQE-final
    plan must carry the skew=true marker on the join, and the result
    must equal the unskewed-path count (the split is a pure physical
    rewrite)."""
    from pserv_spark.plans import final_plan

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        import pyspark.sql.functions as F

        # The payload must be incompressible and survive into the join
        # output: a constant hot key with no payload compresses to a
        # few KB of shuffle bytes and AQE (correctly) sees no skew.
        fact = spark.range(400_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), "id").alias("name")
        ).hint("merge")
        joined = fact.join(dim, "k").groupBy("name").agg(
            F.count("*").alias("n"), F.sum(F.length("payload")).alias("s")
        )
        plan = final_plan(joined)
        assert "skew=true" in plan, plan
        assert joined.agg(F.sum("n")).collect()[0][0] == 400_000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_chunking_is_shuffle_free(spark, sf_oracle):
    """Sliding-window chunking is per-row generate+explode — any
    Exchange in the plan means it stopped being embarrassingly
    parallel."""
    from pserv_spark.operators.pipeline_ops import text_chunk_sliding

    plan = _plan(text_chunk_sliding(spark, sf_oracle))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_profile_is_single_scan(spark, sf_oracle):
    """profile_table_stats computes every column's metrics from ONE
    pass over orders (agg expressions + stack), not a scan per column."""
    from pserv_spark.operators.profiling_ops import profile_table_stats

    plan = _plan(profile_table_stats(spark, sf_oracle))
    assert plan.count("Scan parquet") == 1


def test_rollup_serve_reads_only_rollup(spark, sf_oracle):
    """The monthly serve must scan the materialized rollup exactly once
    and never touch the raw events table — the whole point of a
    continuous aggregate."""
    from pserv_spark.operators.rollup import rollup_serve_monthly

    df = rollup_serve_monthly(spark, sf_oracle)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "events.parquet" not in plan
    assert "pserv_rollup" in plan


def test_bm25_topk_avoids_global_sort(spark, sf_oracle):
    """The BM25 ranking must plan as TakeOrderedAndProject (per-
    partition top-k + driver merge), not a single-partition global
    window — the difference between O(k) and O(matching docs) on the
    final exchange."""
    from pserv_spark.operators.search_ops import text_bm25_topk

    plan = _plan(text_bm25_topk(spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan


def test_asof_nearest_single_window_exchange(spark, sf_oracle):
    """Both direction candidates (prev MAX / next MIN) must ride ONE
    user_id window exchange — a second exchange would mean the two
    frames were planned as separate shuffles."""
    from pserv_spark.operators.timedomain import join_asof_nearest

    df = join_asof_nearest(spark, sf_oracle)
    assert exchange_count(df) == 1
    assert "PartitionBy: [user_id" in _plan(df) or "user_id" in _plan(df)


def test_markov_windows_are_partitioned(spark, sf_oracle):
    """The LAG runs per-user — no 'No Partition Defined' global
    window anywhere in the transition-matrix plan."""
    from pserv_spark.operators.timedomain import seq_markov_transitions

    plan = _plan(seq_markov_transitions(spark, sf_oracle))
    assert "Window" in plan
    assert "PartitionBy: []" not in plan.replace("partitionBy", "PartitionBy")


def test_registry_dim_join_broadcasts(spark, sf_oracle):
    """The sqlite registry is metadata-sized; its join onto the visit
    dimension must be a broadcast, never a shuffle of the dim."""
    from pserv_spark.operators.ingest_ops import ingest_registry_visits

    assert "BroadcastHashJoin" in _plan(ingest_registry_visits(spark, sf_oracle))


def test_pq_broadcasts_codebooks_no_nested_loop(spark, sf_oracle):
    """PQ's codebook and LUT joins must broadcast (K×SUBS rows);
    nothing in the plan may be a nested-loop/cartesian join."""
    from pserv_spark.operators.similarity import ann_pq_topk

    df = ann_pq_topk(spark, sf_oracle)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert not has_nested_loop(df)


def test_scd2_pit_is_single_key_equi_join(spark, sf_oracle):
    """The AS-OF interval join must plan as an equi-join on user_id
    with the interval predicate as a residual — never a cartesian."""
    from pserv_spark.operators.extras import join_scd2_pit

    df = join_scd2_pit(spark, sf_oracle)
    assert not has_nested_loop(df)
    plan = _plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_jdbc_registry_read_is_range_partitioned(spark, sf_oracle):
    """The JDBC source must split the table into the declared number of
    key-range partitions (parallel cursors — the scale shape), and the
    dim join onto visits must broadcast."""
    from pserv_spark.operators.jdbc_ops import source_jdbc_registry

    df = source_jdbc_registry(spark, sf_oracle)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "JDBCRelation(registry) [numPartitions=4]" in plan


def test_bpe_apply_broadcasts_the_dictionary(spark, sf_oracle):
    """The learned-segmentation dict (VOCAB rows) must broadcast onto
    the exploded corpus words; the corpus side is scanned once."""
    from pserv_spark.operators.tokenize_ops import text_bpe_apply

    df = text_bpe_apply(spark, sf_oracle)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert not has_nested_loop(df)


def test_interval_overlap_is_bucketed_equi_join(spark, sf_oracle):
    """The range x range overlap join must plan as an equi-join on the
    time bucket with the overlap predicate residual — never a
    nested-loop theta join (its oracle is the quadratic form)."""
    from pserv_spark.operators.interval_ops import join_interval_overlap

    df = join_interval_overlap(spark, sf_oracle)
    assert not has_nested_loop(df)
    plan = _plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # window-pattern queries: all windows share one (user) partitioning
        ("sessionize", 1),
        # single keyed aggregation: partial -> 1 exchange -> final
        ("window_tumbling", 1),
        ("dedup_exact", 1),
        ("agg_percentile", 1),
        # explode + two-level aggregation
        ("fn_explode_wordcount", 2),
    ],
)
def test_flagship_exchange_budget(spark, sf_oracle, name, max_exchanges):
    """Remaining flagship queries: pin the shuffle budget — every
    exchange is a full-data network pass at 100 TB, so the count IS
    the scale property."""
    from pserv_spark.registry import build_queries

    df = build_queries()[name](spark, sf_oracle)
    assert not has_nested_loop(df)
    n = exchange_count(df)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges})"


@pytest.mark.parametrize("name", ["join_left_outer", "join_asof"])
def test_flagship_joins_are_hash_or_merge(spark, sf_oracle, name):
    from pserv_spark.registry import build_queries

    df = build_queries()[name](spark, sf_oracle)
    assert not has_nested_loop(df)
    plan = _plan(df)
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_bloom_file_skip_actually_skips(spark, sf_oracle):
    """The bloom manifest must prune a real fraction of files for the
    point lookup — a customer's ~10 orders land in at most 10 of the
    16 hash-layout files, and bloom FPs at the sized m/n stay rare."""
    from pserv_spark.operators.pipeline_ops import layout_bloom_file_skip

    layout_bloom_file_skip(spark, sf_oracle).collect()
    audit = layout_bloom_file_skip.last_audit
    assert audit["n_files"] == 16
    assert audit["n_selected"] < audit["n_files"], audit


def test_no_exploded_broadcast_in_candidate_joins(spark, sf_oracle):
    """Regression pin for the fan-out-blind broadcast trap (round 4):
    the banded/bucketed/prefix candidate self-joins must never plan a
    STATIC BroadcastExchange over an unbounded exploded stream —
    Catalyst sizes the exploded side from its pre-explode child, and
    AQE never downgrades a planned broadcast, so such a plan OOMs at
    cluster scale.  These ids carry explicit merge hints (or SQL
    comment hints) that pin the partitioned join; this test fails if
    a refactor drops one."""
    from pserv_spark.plans import has_exploded_broadcast
    from pserv_spark.registry import build_queries

    qs = build_queries()
    for name in [
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_jaccard",
        "dedup_containment",
        "mm_phash_near_dup",
        "vec_crossmatch_zoned",
        "join_interval_overlap",
        "text_cooccur_pmi",
        "text_langid_confusion",
        "text_bigram_logprob",
        "text_rake_keyphrases",
    ]:
        assert not has_exploded_broadcast(qs[name](spark, sf_oracle)), name


def test_global_window_detector_on_synthetic_plans():
    """String-level pins for the global-window detector: the hazard
    shape flags; every bounded shape (limit pushed below the window,
    WindowGroupLimit, aggregate feeding the window, partitioned
    window) passes."""
    from pserv_spark.plans import global_window_unbounded

    hazard = (
        "Window [row_number() windowspecdefinition(x ASC)], [x ASC]\n"
        "+- Sort [x ASC NULLS FIRST], false, 0\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
        "      +- FileScan parquet [x] ...\n"
    )
    assert global_window_unbounded(hazard)

    limit_below = hazard.replace(
        "      +- FileScan parquet [x] ...\n",
        "      +- TakeOrderedAndProject(limit=20, orderBy=[x ASC], output=[x])\n"
        "         +- FileScan parquet [x] ...\n",
    )
    assert not global_window_unbounded(limit_below)

    agg_below = hazard.replace(
        "      +- FileScan parquet [x] ...\n",
        "      +- HashAggregate(keys=[x], functions=[sum(y)])\n"
        "         +- FileScan parquet [x, y] ...\n",
    )
    assert not global_window_unbounded(agg_below)

    group_limit_below = hazard.replace(
        "      +- FileScan parquet [x] ...\n",
        "      +- WindowGroupLimit [x ASC], rank(x), 3, Partial\n"
        "         +- FileScan parquet [x] ...\n",
    )
    assert not global_window_unbounded(group_limit_below)

    partitioned = (
        "Window [sum(y) windowspecdefinition(k, x ASC)], [k], [x ASC]\n"
        "+- Sort [k ASC, x ASC], false, 0\n"
        "   +- Exchange hashpartitioning(k, 32), ENSURE_REQUIREMENTS, [plan_id=1]\n"
        "      +- FileScan parquet [k, x, y] ...\n"
    )
    assert not global_window_unbounded(partitioned)


def test_final_plan_section_slices_adaptive_rendering():
    """ADVICE r5: an AdaptiveSparkPlan rendering carries BOTH the
    '== Final Plan ==' and '== Initial Plan ==' sections; --final-mode
    lint must judge only the executed section, or a hazard that AQE
    optimized AWAY (present only in the initial plan) is reported as
    an executed-plan violation — and the detectors' depth stacks leak
    across the section header lines (depth -1, never popped)."""
    from pserv_spark.plans import final_plan_section, global_window_unbounded

    hazard_subtree = (
        "   Window [row_number() windowspecdefinition(x ASC)], [x ASC]\n"
        "   +- Sort [x ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]\n"
        "         +- FileScan parquet [x] ...\n"
    )
    safe_subtree = (
        "   Window [row_number() windowspecdefinition(x ASC)], [x ASC]\n"
        "   +- Sort [x ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]\n"
        "         +- TakeOrderedAndProject(limit=20, orderBy=[x ASC], output=[x])\n"
        "            +- FileScan parquet [x] ...\n"
    )
    adaptive = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        + safe_subtree
        + "+- == Initial Plan ==\n"
        + hazard_subtree
    )
    # Whole string flags (hazard lives in the Initial section only);
    # the sliced Final section does not.
    assert global_window_unbounded(adaptive)
    sliced = final_plan_section(adaptive)
    assert "Initial Plan" not in sliced and "TakeOrderedAndProject" in sliced
    assert not global_window_unbounded(sliced)
    # Non-adaptive renderings pass through unchanged.
    assert final_plan_section(hazard_subtree) == hazard_subtree


def test_no_unbounded_global_window_in_registry_hot_paths(spark, sf_oracle):
    """Regression pin for the single-partition-window trap (round 5):
    an unpartitioned OVER (ORDER BY ...) funnels its whole input
    through one task — fine locally, a straggler/OOM at cluster scale.
    The sites below were individually audited as safe BECAUSE the plan
    itself bounds the window input (TakeOrderedAndProject/aggregate/
    spine below the single-partition exchange); this test fails if a
    refactor un-bounds one.  The three by-construction-bounded sites
    (report_growth_rates: pre-materialized days-sized rollup;
    win_rank_dense / win_ntile_pctrank: constant key-range filters)
    are allowlisted in scripts/plan_lint.py, not here."""
    from pserv_spark.plans import has_global_window_unbounded
    from pserv_spark.registry import build_queries

    qs = build_queries()
    for name in [
        "sample_weighted_priority",
        "gapfill_date_spine",
        "ts_gap_fill_locf",
        "interleave_sources",
        "topk_global",
        "sort_multi_key_limit",
        "win_topk_per_group",
        "ml_auc_rank",
        "ml_lift_gains_curve",
        "agg_weighted_percentile",
    ]:
        assert not has_global_window_unbounded(qs[name](spark, sf_oracle)), name


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # ppjoin family: dfreq agg + ordered-set build + prefix self-join
        # + explicit verify repartition — 8 passes, each load-bearing
        ("dedup_ngram_jaccard", 8),
        ("dedup_jaccard", 8),
        # r8: 5 -> 7 for the positional filter — both join sides need
        # the rarity-order aggregate (the filter bought back a
        # candidate set that degenerated toward all-pairs on
        # low-entropy shingle universes; sf1 scale finding).  r9: the
        # probe-side 1-in-3 sample is gone (VERDICT r8 #2) so both
        # sides read the identical aggregate subtree — Catalyst may
        # now ReusedExchange it; 7 stays a valid ceiling.
        ("dedup_containment", 7),
        # banded signature equi-joins
        ("dedup_minhash_lsh", 5),
        ("dedup_simhash", 5),
        ("dedup_fingerprint", 1),
        # ANN serving paths: centroid/codebook broadcasts + cent_id joins
        ("ann_ivf_topk", 5),
        ("ann_pq_topk", 5),
        ("ann_lsh_topk", 2),
        # featurization / curation
        ("tfidf", 6),
        ("text_bpe_apply", 1),
        ("decontaminate_ngram", 2),
        ("feat_target_encode", 1),
        ("pipeline_curate_e2e", 10),
        ("vec_crossmatch_zoned", 2),
        ("minhash_signature", 1),
    ],
)
def test_heavy_spine_exchange_budget(spark, sf_oracle, name, max_exchanges):
    """The dedup/ANN/curation spine: pin each operator's shuffle budget
    at its audited round-5 value.  Every exchange is a full-data
    network pass at 100 TB — a refactor that silently adds one (a lost
    partitioning reuse, a hint dropped, a subquery deduplicated apart)
    is a scale regression even when correctness stays green."""
    from pserv_spark.registry import build_queries

    df = build_queries()[name](spark, sf_oracle)
    n = exchange_count(df)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges})"
