"""Prefix-filtered set-similarity candidate generation (ppjoin family).

The one DataFrame-level combinator in the functions layer: it is the
shared *plan shape* behind every exact Jaccard-threshold join in the
engine (corpus ``dedup_jaccard`` on word tokens, extension
``dedup_ngram_jaccard`` on character shingles).

Prefix-filter theorem (Chaudhuri/Ganti/Kaushik 2006; Xiao et al.
ppjoin 2008 — public literature, PAPERS.md): under any total order of
the element universe shared by both sides, two sets A, B with
``J(A,B) >= t`` must share at least one element within each other's
first ``|S| - ceil(t*|S|) + 1`` elements.  Candidates therefore come
from an **equi-join on prefix elements** — lossless, and the plan
survives a 100x scale-up (shuffle on element, AQE splits hot keys)
where the all-pairs theta join the theorem replaces is O(N^2).

The order used is ascending *global document frequency* (ties by
element value): rare elements land in prefixes, so the candidate join
fans out on low-frequency keys instead of recreating the quadratic
hot-key join on ubiquitous elements.  Any shared total order keeps the
filter lossless; this one keeps it cheap.

Module-level lint contract (round 10, VERDICT r9 #3): every window in
this module must carry a ``partitionBy`` — an orderBy-only global
window funnels anything element- or corpus-sized through one task, a
serial choke point at scale.  The dictionary rank below is
range-partitioned for exactly this reason, and
``tests/test_round10_opts.py`` pins the rule mechanically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Slack subtracted before ``ceil(t*n)``: when ``t*n`` is an exact
#: integer mathematically, float rounding may land an ulp above it and
#: ceil one too high — shortening the prefix below the theorem's bound
#: (lossy).  Subtracting far-more-than-ulp, far-less-than-1 slack can
#: only lengthen a prefix (extra candidates, never missed ones).
_CEIL_SLACK = 1e-9


def _prefix_len(threshold: float) -> F.Column:
    """Prefix length ``|S| - ceil(t*|S|) + 1`` over a ``__n`` column,
    with the float slack (see _CEIL_SLACK)."""
    return (
        F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(_CEIL_SLACK))
        + 1
    ).cast("int")


def _candidate_pairs(prefixes: DataFrame, elem: str, threshold: float) -> DataFrame:
    """The shared ppjoin candidate self-join (factored in round 10,
    ADVICE r9 #1: the string and int-encoded lanes carried two copies
    of this ~70-line block that could silently diverge on a future
    slack/hint fix).

    ``prefixes`` must carry ``(__id, __n, __pos, <elem>)`` where
    ``__pos`` is the element's 1-based rank within the set's full
    ppjoin total order (prefix position == set position, because the
    prefix IS the head of that order).  Returns candidate id pairs
    ``(d1, d2)``, ``d1 < d2`` — a lossless superset of all pairs with
    ``J >= threshold`` by the prefix/length/positional filter theorems.

    Length filter (the second ppjoin prune): J(A,B) >= t implies
    t*|A| <= |B| and t*|B| <= |A|, so size-mismatched pairs can be
    dropped inside the candidate join before the distinct.  The
    _CEIL_SLACK subtraction keeps it lossless under IEEE rounding
    (an ulp-high t*n could wrongly exclude an exact-boundary pair;
    slack only ever admits extra candidates).

    The self-join is pinned to sort-merge: the static planner only
    sees the pre-explode size estimate for the prefix stream, so
    left alone it BROADCASTS one exploded side — a fan-out-blind
    static decision AQE never downgrades (it only upgrades shuffle
    joins to broadcast), i.e. an OOM at corpus scale.  SMJ on the
    prefix element is also the faster local plan (measured at
    sf0.1: word corpus 8.6 s vs 14.7 s broadcast) and stays
    AQE-skew-splittable on hot elements.
    """
    matches = (
        prefixes.alias("pa")
        .join(prefixes.alias("pb").hint("merge"), elem)
        .where(
            (F.col("pa.__id") < F.col("pb.__id"))
            & (
                F.col("pa.__n")
                >= F.lit(threshold) * F.col("pb.__n") - F.lit(_CEIL_SLACK)
            )
            & (
                F.col("pb.__n")
                >= F.lit(threshold) * F.col("pa.__n") - F.lit(_CEIL_SLACK)
            )
        )
        .select(
            F.col("pa.__id").alias("d1"),
            F.col("pb.__id").alias("d2"),
            F.col("pa.__n").alias("__na"),
            F.col("pb.__n").alias("__nb"),
            F.col("pa.__pos").alias("__pa"),
            F.col("pb.__pos").alias("__pb"),
        )
    )
    # Positional filter (ppjoin-proper, Xiao et al. 2008 §3.2, in
    # grouped form): let w* be the greatest shared prefix token under
    # the global order, at ranks (pa*, pb*).  Every shared token
    # <= w* sits before pa* in A and pb* in B, hence inside BOTH
    # prefixes — so it is one of the o_p matched rows of this pair.
    # Every shared token > w* sits after pa* in A and after pb* in B,
    # so there are at most min(|A|-pa*, |B|-pb*) of them.  Therefore
    #   |A n B|  <=  o_p + min(|A|-pa*, |B|-pb*)
    # while J >= t requires |A n B| >= ceil(t/(1+t)*(|A|+|B|)).
    # Because the shared order is total, the max-order shared token
    # maximizes BOTH ranks at once, so pa* = max(pa), pb* = max(pb).
    # The groupBy replaces the old .distinct() (same shuffle keys
    # plus two max/count partials); measured at sf0.1 it prunes the
    # ngram candidate set 1.10M -> 209k (-81%) before the quadratic
    # array-intersection verify.  Lossless: the bound only ever
    # over-estimates the overlap, and _CEIL_SLACK keeps the required-
    # overlap ceil from landing an ulp high.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__na") + F.col("__nb"))
        - F.lit(_CEIL_SLACK)
    )
    return (
        matches.groupBy("d1", "d2", "__na", "__nb")
        .agg(
            F.count("*").alias("__op"),
            F.max("__pa").alias("__pamax"),
            F.max("__pb").alias("__pbmax"),
        )
        .where(
            F.col("__op")
            + F.least(
                F.col("__na") - F.col("__pamax"), F.col("__nb") - F.col("__pbmax")
            )
            >= alpha
        )
        .select("d1", "d2")
        # The groupBy above inherits the pa-side (__id, __n) hash
        # partitioning (a subset of its keys), so WITHOUT a new
        # exchange the caller's quadratic verify would fuse into the
        # same stage — 32 static tasks, skewed by d1's pair fan-out
        # (measured 47 s vs 11 s at sf0.1 on the word-token corpus).
        # The exchange must be an EXPLICIT-width repartition, not an
        # AQE rebalance: the pair stream is bytes-tiny (16 B/row) but
        # each row triggers an array-intersection verify downstream,
        # so size-based coalescing collapses it to ~1 partition and
        # serializes the expensive stage (measured 42 s vs 10 s at
        # sf0.1 on the shingle corpus).  defaultParallelism scales
        # with the cluster; hashing on the pair keys spreads d1's
        # fan-out skew.
        .repartition(
            prefixes.sparkSession.sparkContext.defaultParallelism, "d1", "d2"
        )
    )


def prefix_filter_candidates(
    sets: DataFrame, id_col: str, set_col: str, threshold: float
) -> DataFrame:
    """Candidate id pairs ``(d1, d2)``, ``d1 < d2``, guaranteed to be a
    superset of all pairs with ``J(set_a, set_b) >= threshold``.

    ``sets`` must be unique on ``id_col``; ``set_col`` is an array of
    *distinct* elements (string or any orderable atomic type).  The
    caller verifies candidates with the exact Jaccard predicate — this
    function only bounds the search space.
    """
    n = F.size(set_col)
    exploded = sets.select(
        F.col(id_col).alias("__id"),
        n.alias("__n"),
        F.explode(set_col).alias("__w"),
    )
    dfreq = exploded.groupBy("__w").agg(F.count("*").alias("__dfq"))
    # The prefix is the first prefix_len elements under (dfq, element)
    # order, taken by collecting each set into a struct array, sorting
    # and slicing.  A row_number window over the exploded rows looks
    # cheaper but measured ~5x SLOWER at sf0.1 (idle, warm: 98 s vs
    # 18 s for dedup_jaccard) — the global sort of every exploded row
    # dominates, while the per-set arrays are bounded by document size
    # (never a scale hazard) and sort in-memory per group.
    # Explicit broadcast of the frequency table: Catalyst's size
    # estimate for the exploded side ignores the explode fan-out, so
    # left to itself it broadcasts the (much larger) token stream —
    # harmless at test scale, an OOM at 100 TB.  dfreq is bounded by
    # the element universe, the side a frequency join must broadcast.
    ordered = (
        exploded.join(F.broadcast(dfreq), "__w")
        .groupBy("__id", "__n")
        .agg(F.array_sort(F.collect_list(F.struct("__dfq", "__w"))).alias("__osh"))
    )
    # posexplode: __pos is the token's 1-based rank within the set's
    # full (dfq, element) sort order — the prefix IS the head of that
    # order, so prefix position == set position.  The positional
    # filter in _candidate_pairs needs it.
    prefixes = ordered.select(
        "__id",
        "__n",
        F.posexplode(
            F.transform(
                F.slice("__osh", F.lit(1), _prefix_len(threshold)),
                lambda x: x["__w"],
            )
        ).alias("__pos0", "__p"),
    ).select("__id", "__n", (F.col("__pos0") + 1).alias("__pos"), "__p")
    return _candidate_pairs(prefixes, "__p", threshold)


def encode_sets(
    sets: DataFrame, id_col: str, set_col: str
) -> DataFrame:
    """Dictionary-encode element sets into ppjoin-ordered INT arrays,
    materialized once (round-9 optimization, guide §2.3/§8: shuffle and
    intersect 4-byte ints instead of strings, and compute the expensive
    tokenize→frequency→order pipeline once instead of once per plan
    subtree — a ppjoin self-join plus its verify re-executes every
    upstream operator up to 6× otherwise).

    Returns ``(__id, __n, __osh: array<int>)`` where ``__osh`` is
    sorted ascending and the int order IS the ppjoin total order
    (ascending document frequency, ties by element value).  The
    mapping is a bijection, so set sizes, intersections and unions —
    hence every Jaccard/containment value — are unchanged.

    EAGER-BUILD CONTRACT (ADVICE r9 #5, the iterative.py discipline):
    merely *constructing* any consumer operator executes corpus-sized
    jobs — the ``localCheckpoint`` calls here materialize the
    tokenized relation and the encoded relation at plan-build time
    (plus the ranked dictionary when exchange reuse is disabled) —
    and the checkpoint blocks are pinned until the driver GCs the
    DataFrames (Spark's ContextCleaner releases them with their RDDs).
    This trades lineage-replay fault tolerance for not recomputing a
    corpus-sized derivation per consumer; the relation is recomputed
    from the parquet inputs on every operator invocation (never cached
    across runs).  Explain-only harnesses (capture_plans) pay one
    materialization per operator construction by design.
    """
    # Tokenization runs ONCE: the frequency aggregate and the encode
    # join are two consumers of the exploded element stream, and
    # without this materialization each re-derives the (expensive)
    # set construction from the source — measured 1.9 s per extra
    # pass on the sf0.1 shingle corpus.  The checkpoint holds one row
    # per input set (corpus-sized, the same payload the old plan
    # shuffled anyway), not the exploded stream.
    base = sets.select(
        F.col(id_col).alias("__id"), F.col(set_col).alias("__set")
    ).localCheckpoint()
    exploded = base.select(
        "__id",
        F.size("__set").alias("__n"),
        F.explode("__set").alias("__w"),
    )
    dfreq = exploded.groupBy("__w").agg(F.count("*").alias("__dfq"))
    # Round-10 (VERDICT r9 #3): the dictionary rank was
    # ``row_number() OVER (ORDER BY __dfq, __w)`` — a single-partition
    # window over the element universe.  Bounded for shingle alphabets,
    # but word-token vocabularies grow with the corpus (Heaps' law), so
    # at 100 TB that window is a serial choke point before the dfreq
    # broadcast even becomes a problem.  Same total order, computed
    # scalably: range-partition the (dfq, element) keys, rank within
    # each range bucket, then add each bucket's offset (the number of
    # keys in all lower buckets).
    # Determinism: range sampling places bucket BOUNDARIES per
    # execution (RangePartitioner seeds its reservoir sample by RDD
    # id), so the in-bucket ranks and the bucket counts must describe
    # ONE realization of the range exchange.  Both are derived below
    # from the same ``ranked`` subtree inside one plan, and
    # ReuseExchange runs the two identical range exchanges as one
    # shuffle.  Within one realization the (dfq, w) keys are unique
    # (one row per element) and buckets are contiguous in key order,
    # so ``offset + in-bucket rank`` equals the global row_number
    # wherever the boundaries fall — the encoding, and hence every
    # downstream value, is layout-independent (DETERMINISM gate).
    # Counting the buckets in a separate job (e.g. a driver collect
    # baked into literals) breaks this: once the reservoir sample (by
    # default about 3 × 100 keys per range bucket) no longer covers
    # the universe — 1200 keys vs 1981 shingles at 4 buckets on the
    # sf0.01 corpus — that job draws its own boundaries and the
    # encoding stops being a bijection.
    nparts = max(int(sets.sparkSession.sparkContext.defaultParallelism), 1)
    # NOTE the rank path must stay STATS-TRANSPARENT (plain operators
    # over the dfreq aggregate, no checkpoint and no universe-sized
    # self-join): two earlier cuts broke the size estimate of the
    # encoded relation — a triangular offsets self-join multiplied the
    # statistics-free join estimates (~universe³), and checkpointing
    # the ranked relation dropped its row-count stats (a LogicalRDD
    # carries only sizeInBytes) — and both silently flipped the
    # downstream verify joins from broadcast to sort-merge (measured:
    # r9 static plan has 4 BroadcastHashJoins, the broken cut 0; +8% on
    # dedup_containment at sf0.1 for no scale benefit).
    ranked = (
        dfreq.repartitionByRange(nparts, "__dfq", "__w")
        .withColumn("__b", F.spark_partition_id())
        .withColumn(
            "__r",
            F.row_number().over(Window.partitionBy("__b").orderBy("__dfq", "__w")),
        )
    )
    if sets.sparkSession.conf.get("spark.sql.exchange.reuse", "true") != "true":
        # Without exchange reuse the two consumers of ``ranked`` would
        # each sample their own boundaries: pin one realization instead
        # (same values; the verify joins may lose their broadcasts, see
        # NOTE above).
        ranked = ranked.localCheckpoint()
    # Bucket offsets: exclusive prefix sum of the per-bucket counts.
    # The window is keyed on a constant, so it runs in one task.  That
    # is consistent with the module's no-unpartitioned-window rule,
    # which bans a serial sort of the element universe: this window
    # sorts the ≤ nparts-row count table (one row per range bucket),
    # never the elements.
    counts = ranked.groupBy("__b").agg(F.count("*").alias("__c"))
    offs = counts.select(
        "__b",
        (
            F.sum("__c").over(Window.partitionBy(F.lit(0)).orderBy("__b"))
            - F.col("__c")
        ).alias("__off"),
    )
    dict_ = ranked.join(F.broadcast(offs), "__b").select(
        "__w", (F.col("__off") + F.col("__r")).cast("int").alias("__tid")
    )
    return (
        exploded.join(F.broadcast(dict_), "__w")
        .groupBy("__id", "__n")
        .agg(F.array_sort(F.collect_list("__tid")).alias("__osh"))
        .localCheckpoint()
    )


def jaccard_pairs(
    sets: DataFrame, id_col: str, set_col: str, threshold: float
) -> DataFrame:
    """Verified Jaccard-similarity pairs ``(d1, d2, jac)`` with
    ``J >= threshold``, ``d1 < d2``, ``jac`` ROUNDed at 6 dp — the
    complete prefix-filter + positional-filter + exact-verify join
    (the candidate stage is the shared :func:`_candidate_pairs`
    construction over the int-encoded sets from :func:`encode_sets`;
    the verify intersects the encoded arrays, so no string array ever
    crosses a shuffle).

    Exactness: the encoding is a bijection, so ``|A∩B|`` / ``|A∪B|``
    and therefore ``jac`` are byte-identical to the string-array form;
    candidates remain a lossless superset by the prefix/positional
    filter theorems (the element ORDER is unchanged — the int ids are
    assigned in the same (frequency, element) order the string form
    sorted by).
    """
    enc = encode_sets(sets, id_col, set_col)
    prefixes = enc.select(
        "__id",
        "__n",
        F.posexplode(F.slice("__osh", F.lit(1), _prefix_len(threshold))).alias(
            "__pos0", "__t"
        ),
    ).select("__id", "__n", (F.col("__pos0") + 1).alias("__pos"), "__t")
    cand = _candidate_pairs(prefixes, "__t", threshold)
    a = enc.select(
        F.col("__id").alias("d1"),
        F.col("__n").alias("__na"),
        F.col("__osh").alias("__sa"),
    )
    b = enc.select(
        F.col("__id").alias("d2"),
        F.col("__n").alias("__nb"),
        F.col("__osh").alias("__sb"),
    )
    # Round-10 verify micro-optimization (guide §1.2 per-pair work):
    # the union size is ARITHMETIC, not another array pass — the
    # elements are distinct per set (encode_sets contract), so
    # |A∪B| = |A| + |B| − |A∩B| exactly; the former
    # ``size(array_union(sa, sb))`` built a hash set per pair for a
    # value already determined by the intersection.  Same exact
    # integer → the division operands (int promoted to double) are
    # identical IEEE doubles → every jac is bit-identical.
    inter = F.size(F.array_intersect("__sa", "__sb"))
    scored = cand.join(a, "d1").join(b, "d2").withColumn("__ic", inter)
    jac = F.col("__ic").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__ic")
    )
    return (
        scored.where(jac >= threshold)
        .select("d1", "d2", F.round(jac, 6).alias("jac"))
    )
