"""Deduplication operators over the ``documents`` table.

Five strategies, each the Spark-native form of a standard large-scale
training-data dedup technique (BASELINE.json extension surface; the
reference's only dedup is MySQL PK enforcement on ingest — public repo
sql/create_*.sql, SURVEY §1.1 — so these are the scale-path analogs):

- ``dedup_fingerprint``  — key-collision clustering (sorted-token md5).
- ``dedup_minhash_lsh``  — MinHash signatures → banded LSH candidate
  generation → exact Jaccard verification.  The candidate join is an
  *equi-join on band keys* (shuffle-bounded), never an O(N²) cross
  join — the property that survives a 100× scale-up.
- ``dedup_simhash``      — 32-bit SimHash + 4-byte band pigeonhole
  (hamming ≤ 3 ⇒ at least one of 4 byte-bands equal) → exact hamming
  verification.  Same equi-join shape.
- ``dedup_ngram_jaccard``— character-5-gram shingle Jaccard ≥ 0.9
  (near-dup on edit-level noise, where token Jaccard is too coarse).
- ``dedup_embedding_cosine`` — semantic near-dup: embedding cosine ≥
  0.999 pair detection on ``v_emb``.

Every operator is deterministic (md5-anchored, §4.5 rounding rules) and
carries an exact DuckDB oracle.  The oracles for the LSH/SimHash ops
intentionally use the *naive* all-pairs formulation — the banded engine
plan must reproduce the naive result set exactly (same invariant Qserv
relies on for chunked near-neighbor joins, SURVEY §4.3).

At 100 TB: band keys are high-cardinality md5 strings → uniform shuffle
distribution; the verify join touches only candidate pairs; document
token arrays never cross the shuffle except for candidates.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..functions import (
    distinct_tokens,
    char_shingles,
    encode_sets,
    fingerprint_key,
    jaccard,
    jaccard_pairs,
    token_hash32,
    cosine,
)
from ..functions.text import token_shingles
from ._oracle import duck_hash32, duck_token_shingles, inline_views

#: MinHash family size and banding layout (k = bands * rows_per_band).
#: Features are token 3-gram shingles (order-sensitive) — raw-token
#: sets are degenerate on a shared-vocabulary corpus.
MINHASH_K = 8
MINHASH_BANDS = 4  # 2 rows/band → P(candidate) = 1-(1-j^2)^4
MINHASH_JACCARD = 0.8

#: SimHash signature width / hamming radius; 4 bands of 8 bits each
#: guarantee candidate coverage for hamming ≤ 3 (pigeonhole).
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.table(spark, sf_dir, "documents")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with scan parallelism floored at the core count
    (catalog.spread_scan, round 10): the heavy tokenizing operators'
    shingle/n-gram/signature expressions collapse into the scan stage,
    so on a low-split file (one row group at the local tiers) they ran
    in ONE task regardless of cores — the serial term the sf1
    8-vs-32-core measurement exposed (SCALING.json; 19.3 s → 1.3 s for
    sf1 shingling).  No-op whenever the scan already has ≥ cores
    splits, so nothing is shuffled at corpus scale."""
    return catalog.spread_scan(_docs(spark, sf_dir))


# ---------------------------------------------------------------- fingerprint


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-collision groups: md5 of the sorted distinct token set."""
    docs = _docs_spread(spark, sf_dir)
    return (
        docs.select("doc_id", fingerprint_key("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("n_docs") > 1)
    )


_FP_ORACLE = (
    "SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keeper FROM "
    "(SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp "
    "FROM documents) t GROUP BY fp HAVING COUNT(*) > 1"
)


# ---------------------------------------------------------------- minhash LSH


def _minhash_signature(docs: DataFrame) -> DataFrame:
    """8-component MinHash from TWO md5 evaluations per shingle row:
    ``h1..h4`` are the four 8-hex-char (32-bit) slices of
    ``md5('mhA'||w)``, ``h5..h8`` of ``md5('mhB'||w)``.  md5's
    avalanche makes the slices independent hash functions, and the
    DuckDB oracle reproduces them byte-for-byte (md5 + substr agree
    across engines).  Two hashes instead of eight per exploded shingle
    — the signature aggregation was the operator's dominant scan cost
    (the hashes are projected BEFORE the agg so each is computed once,
    not once per component)."""
    tok = docs.select(
        "doc_id", F.explode(token_shingles("text")).alias("w")
    )
    hashed = tok.select(
        "doc_id",
        F.md5(F.concat(F.lit("mhA"), F.col("w"))).alias("ha"),
        F.md5(F.concat(F.lit("mhB"), F.col("w"))).alias("hb"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(
                    F.col("ha" if i <= MINHASH_K // 2 else "hb"),
                    ((i - 1) % (MINHASH_K // 2)) * 8 + 1,
                    8,
                )
            ).alias(f"h{i}")
            for i in range(1, MINHASH_K + 1)
        ]
    )


def _minhash_mins_sql() -> str:
    """DuckDB mirror of :func:`_minhash_signature`'s components."""
    return ", ".join(
        f"MIN(substr({'ha' if i <= MINHASH_K // 2 else 'hb'}, "
        f"{((i - 1) % (MINHASH_K // 2)) * 8 + 1}, 8)) AS h{i}"
        for i in range(1, MINHASH_K + 1)
    )


#: DuckDB CTE computing the two per-shingle hashes (name it ``tok2``);
#: expects a ``tok(doc_id, w)`` CTE in scope.
_MINHASH_HASHED_SQL = (
    "SELECT doc_id, md5(CONCAT('mhA', w)) AS ha, md5(CONCAT('mhB', w)) AS hb FROM tok"
)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-over-shingles + banded LSH pairs, verified at Jaccard ≥ 0.8.

    Plan shape: explode→partial-agg signature (map-side combine), band
    explode (4 rows/doc), *equi-join on band_key*, distinct candidate
    pairs, then one more equi-join back to token sets for exact
    verification.  No cross join anywhere.
    """
    docs = _docs_spread(spark, sf_dir)
    sig = _minhash_signature(docs)
    band_cols = [
        F.md5(
            F.concat(F.lit(f"b{b}"), F.col(f"h{2 * b - 1}"), F.col(f"h{2 * b}"))
        ).alias(f"band{b}")
        for b in range(1, MINHASH_BANDS + 1)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band_key")
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b").hint("merge"), "band_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    ts = docs.select("doc_id", token_shingles("text").alias("ts"))
    jac = jaccard(F.col("t1.ts"), F.col("t2.ts"))
    return (
        cand.join(ts.alias("t1"), cand.d1 == F.col("t1.doc_id"))
        .join(ts.alias("t2"), cand.d2 == F.col("t2.doc_id"))
        .where(jac >= MINHASH_JACCARD)
        .select("d1", "d2", F.round(jac, 6).alias("jac"))
    )


def _minhash_oracle() -> str:
    mins = _minhash_mins_sql()
    bands = ", ".join(
        f"md5(CONCAT('b{b}', h{2 * b - 1}, h{2 * b}))" for b in range(1, MINHASH_BANDS + 1)
    )
    # Naive formulation: all candidate pairs from any shared band, via
    # unnest of the band list; verification identical to the engine's.
    sh = duck_token_shingles()
    return (
        f"WITH tok AS (SELECT doc_id, unnest({sh}) AS w FROM documents), "
        f"tok2 AS ({_MINHASH_HASHED_SQL}), "
        f"sig AS (SELECT doc_id, {mins} FROM tok2 GROUP BY doc_id), "
        f"bands AS (SELECT doc_id, unnest([{bands}]) AS band_key FROM sig), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a JOIN bands b "
        "ON a.band_key = b.band_key AND a.doc_id < b.doc_id), "
        f"ts AS (SELECT doc_id, {sh} AS ts FROM documents) "
        "SELECT d1, d2, ROUND(CAST(len(list_intersect(t1.ts, t2.ts)) AS DOUBLE) / "
        "len(list_distinct(list_concat(t1.ts, t2.ts))), 6) AS jac "
        "FROM cand JOIN ts t1 ON cand.d1 = t1.doc_id JOIN ts t2 ON cand.d2 = t2.doc_id "
        "WHERE CAST(len(list_intersect(t1.ts, t2.ts)) AS DOUBLE) / "
        f"len(list_distinct(list_concat(t1.ts, t2.ts))) >= {MINHASH_JACCARD}"
    )


# ------------------------------------------------------------------- simhash


def _simhash_signature(docs: DataFrame) -> DataFrame:
    """32-bit SimHash per doc from token-3-gram-shingle 32-bit hashes.

    The 32 per-bit ±1 sums are fused into one aggregation (32 SUM
    expressions over the shingle rows) rather than exploding each
    shingle into 32 bit-rows — same signature, 32× fewer rows through
    the shuffle.
    """
    tok = docs.select("doc_id", F.explode(token_shingles("text")).alias("w"))
    hashed = tok.select("doc_id", token_hash32("w").alias("hv"))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(hv >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return sums.select("doc_id", sig.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3, banded candidate join.

    Each 32-bit signature splits into 4 byte-bands; hamming ≤ 3 means
    at most 3 differing bits, so at least one band matches exactly
    (pigeonhole) — banding loses no pairs while avoiding the all-pairs
    join.  Verification recomputes exact hamming via xor + bit_count.
    """
    docs = _docs_spread(spark, sf_dir)
    sig = _simhash_signature(docs)
    band_cols = [
        F.concat(F.lit(f"s{i}:"), F.expr(f"(simhash >> {8 * i}) & 255")).alias(f"band{i}")
        for i in range(4)
    ]
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("band_key")
    )
    hamming = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        bands.alias("a")
        .join(bands.alias("b").hint("merge"), "band_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(hamming <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )


def _simhash_oracle() -> str:
    # Naive all-pairs oracle; the banded engine plan must match it
    # exactly.  hex→int via the Horner fold (no conv in DuckDB).
    hv = duck_hash32("w")
    return (
        f"WITH tok AS (SELECT doc_id, unnest({duck_token_shingles()}) AS w FROM documents), "
        f"h AS (SELECT doc_id, {hv} AS hv FROM tok), "
        "bits AS (SELECT doc_id, unnest(generate_series(0, 31)) AS b, hv FROM h), "
        "bitsum AS (SELECT doc_id, b, SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s "
        "FROM bits GROUP BY doc_id, b), "
        "sig AS (SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash "
        "FROM bitsum GROUP BY doc_id) "
        "SELECT a.doc_id AS d1, b.doc_id AS d2, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}"
    )


# ------------------------------------------------------------- ngram jaccard


NGRAM_JACCARD = 0.9


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram shingle Jaccard ≥ 0.9 near-dup pairs.

    Candidate generation uses **prefix filtering** (the ppjoin family):
    under any fixed total order of shingles, two sets with Jaccard ≥ t
    must share an element within each other's first
    ``|S| - ceil(t·|S|) + 1`` shingles — so candidates come from an
    *equi-join on prefix shingles* (lossless by the prefix-filter
    theorem), then exact verification.  An all-pairs theta join appears
    nowhere; the same plan shape holds at 100 TB (shuffle on shingle,
    AQE splits hot shingles).  The full candidate+verify join is the
    shared ``jaccard_pairs`` (functions/setjoin.py, round-9 int-encoded
    form — shared with the corpus ``dedup_jaccard``).
    """
    docs = _docs_spread(spark, sf_dir)
    sh = docs.select("doc_id", char_shingles("text", 5).alias("sh"))
    return jaccard_pairs(sh, "doc_id", "sh", NGRAM_JACCARD)


# The size band (J >= 0.9 implies shingle counts within 10%; J <=
# min/max) is lossless — it only spares the quadratic verify from
# obviously-unequal pairs, so this stays an independent all-pairs
# derivation of the same result set.
_NGRAM_ORACLE = (
    "WITH sh0 AS (SELECT doc_id, list_distinct(list_transform("
    "generate_series(1, greatest(length(text) - 4, 1)), i -> substr(text, i, 5))) AS sh "
    "FROM documents), "
    "sh AS (SELECT doc_id, sh, len(sh) AS n FROM sh0) "
    "SELECT a.doc_id AS d1, b.doc_id AS d2, "
    "ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
    "len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "AND a.n * 10 >= b.n * 9 AND b.n * 10 >= a.n * 9 "
    "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
    "len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9"
)


# -------------------------------------------------------- embedding cosine


#: Pair-mining threshold — the test embeddings are zero-centered random
#: vectors (max observed pair cosine ≈ 0.51 at sf0.01), so the
#: "near-dup" cut sits at the top tail of the distribution.
EMB_COSINE_THRESHOLD = 0.4


#: Rows per block of the blocked pairwise kernel.  Block-pair payload
#: is ~2·BLK·64 doubles ≈ 1 MB through Arrow — sized so a task's
#: working set (BLK² accumulator = 8 MB) stays cache/memory friendly.
EMB_BLOCK_ROWS = 1024


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs: 64-dim cosine ≥ threshold on ``v_emb``.

    Exact all-pairs search as a *blocked pairwise kernel* (the blocked-
    GEMM pattern): vectors group into BLK-row blocks, block pairs
    (bi ≤ bj) fan out as one task each, and an Arrow-batched numpy
    kernel scores each block pair with a dimension-major accumulation
    loop.  ``acc += outer(A[:,d], B[:,d])`` over d keeps every cell's
    accumulation strictly left-to-right in d — the identical IEEE
    double sequence as the SQL fold and DuckDB's ``list_dot_product``
    (BLAS ``np.dot`` would NOT be: pairwise/SIMD summation order breaks
    oracle parity, SURVEY §4.5 rule 5).

    Why not a plain self-join: the pair predicate lands in a
    BroadcastNestedLoopJoin condition where expressions are interpreted
    per pair — 25.3 s at sf0.1 vs 1.3 s for this kernel (measured; 2 M
    pairs).  At 100 TB block count grows linearly with N and tasks
    quadratically — inherent to exact all-pairs; the sub-quadratic
    scale path is ``ann_lsh_topk``/``dedup_minhash_lsh``.  Norms are
    computed once per vector, JVM-side, before blocking.
    """
    import numpy as np
    import pandas as pd

    from ..functions import l2_norm
    from ..functions.vector import EMB_DIM

    emb = catalog.v_emb(spark, sf_dir).select(
        "vec_id", "emb", l2_norm(F.col("emb"), EMB_DIM).alias("nrm")
    )
    blocks = (
        emb.withColumn("blk", F.floor(F.col("vec_id") / EMB_BLOCK_ROWS))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "emb", "nrm")).alias("rows"))
    )
    block_pairs = (
        blocks.alias("x")
        .join(blocks.alias("y"), F.col("x.blk") <= F.col("y.blk"))
        .select(F.col("x.rows").alias("ra"), F.col("y.rows").alias("rb"))
    )
    thr = EMB_COSINE_THRESHOLD

    def kernel(batches):
        for pdf in batches:
            for ra, rb in zip(pdf["ra"], pdf["rb"]):
                ia = np.array([r["vec_id"] for r in ra])
                ib = np.array([r["vec_id"] for r in rb])
                a = np.array([r["emb"] for r in ra])
                b = np.array([r["emb"] for r in rb])
                na = np.array([r["nrm"] for r in ra])
                nb = np.array([r["nrm"] for r in rb])
                acc = np.zeros((len(ia), len(ib)))
                for d in range(a.shape[1]):
                    acc = acc + np.multiply.outer(a[:, d], b[:, d])
                cos = acc / np.multiply.outer(na, nb)
                keep = (cos >= thr) & (ia[:, None] < ib[None, :])
                r, c = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "id1": ia[r],
                        "id2": ib[c],
                        "cos_sim": np.round(cos[r, c], 6),
                    }
                )

    return block_pairs.mapInPandas(kernel, "id1 long, id2 long, cos_sim double")


_EMB_COS_ORACLE = (
    "SELECT a.vec_id AS id1, b.vec_id AS id2, "
    "ROUND(list_dot_product(a.emb, b.emb) / "
    "(SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb))), 6) AS cos_sim "
    "FROM v_emb a JOIN v_emb b ON a.vec_id < b.vec_id "
    "WHERE list_dot_product(a.emb, b.emb) / "
    "(SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb))) "
    f">= {EMB_COSINE_THRESHOLD}"
)


def _label_sum(labels: DataFrame) -> Decimal:
    """Exact Σcomp over a label relation.  Summed in DECIMAL(38,0):
    labels are LONG doc ids, and at 1e10-document scale a LONG sum
    overflows (two labels of 2^62 already do)."""
    return labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph → cluster ids.

    Pair-mining emits *edges* (A~B, B~C); keeping one doc per
    transitive cluster needs the component, not the pair list.  Label
    propagation to the fixpoint: every node's label becomes the min
    doc_id reachable from it.  Each iteration is one shuffle-bounded
    join+groupBy (min is the textbook associative CC message), and the
    iteration count is the graph diameter — near-dup graphs are
    shallow (dup chains, not paths), so a handful of rounds; the
    large-star/small-star variant (Kiveris et al., "Connected
    Components in MapReduce", SoCC'14) drops diameter to
    O(log log n) if a corpus ever needs it.

    Oracle: DuckDB recursive-CTE transitive closure with MIN over the
    reachable set — an independent derivation of the same fixpoint.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    edges = (
        pairs.union(pairs.select(F.col("d2"), F.col("d1")))
        .toDF("a", "b")
        .localCheckpoint()  # freeze the mined pairs; reused every round
    )
    labels = (
        edges.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    # Convergence check (round 10, guide §1.2: don't run a join to
    # learn what a scalar already tells you): ``least(comp, nc)`` makes
    # every label non-increasing, so the label vector changed this
    # round IFF Σcomp decreased — one 1-row aggregate over the
    # freshly-checkpointed (node-sized, already-materialized) relation
    # replaces the former new⋈old diff join + count job per round.
    # Same fixpoint, same final labels.
    prev_sum = None
    for _ in range(16):  # >= diameter bound for any sane dup graph
        nbr = (
            edges.join(labels, edges.b == labels.id)
            .groupBy(F.col("a").alias("id2"))
            .agg(F.min("comp").alias("nc"))
        )
        labels = (
            labels.join(nbr, labels.id == nbr.id2, "left")
            .select("id", F.least("comp", "nc").alias("comp"))
            .localCheckpoint()  # cut the growing lineage each round
        )
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("id").alias("doc_id"), F.col("comp").cast("long").alias("component")
    )


_CC_ORACLE = (
    # MATERIALIZED: without it DuckDB re-evaluates the O(N²) pair-mining
    # subquery inside the recursion (observed 62s → 20s at sf0.01).
    "WITH RECURSIVE pairs AS MATERIALIZED (SELECT d1, d2 FROM (" + _NGRAM_ORACLE + ")), "
    "edges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs), "
    "reach(a, b) AS ("
    "SELECT a, a FROM (SELECT DISTINCT a FROM edges) "
    "UNION "
    "SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a) "
    "SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS component FROM reach GROUP BY a"
)


_SPAN_W = 8  # tokens per span window


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copied-passage detection: exact 8-token spans shared by ≥2
    distinct documents.

    The shingle-window approximation of suffix-array substring dedup
    (the technique behind "deduplicating training data makes language
    models better"-style exact-substring removal): every length-8
    token window is hashed, and a hash seen in two different documents
    marks a copied passage.  Fixed-width windows make the problem a
    plain hash aggregation — no suffix sorting — at the cost of only
    detecting copies ≥ 8 tokens, which is exactly the interesting
    threshold for boilerplate/quotation removal.

    Scale shape: explode is linear in token count; the single groupBy
    shuffles uniformly on md5 span hashes (high cardinality, no skew);
    the HAVING filter reduces output to colliding spans only.  No
    driver-side state, no quadratic pair join anywhere.
    """
    docs = _docs_spread(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    spans = (
        docs.where(F.size("ts") >= _SPAN_W)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("ts") - (_SPAN_W - 1))).alias("i"),
            "ts",
        )
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("ts", F.col("i"), _SPAN_W))).alias("h"),
        )
    )
    return (
        spans.groupBy("h")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .select(
            F.col("h").alias("span_hash"),
            "n_docs",
            "n_occurrences",
            "first_doc",
            "last_doc",
        )
    )


_SPAN_ORACLE = (
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), "
    f"idx AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - {_SPAN_W - 1})) AS i "
    f"FROM tok WHERE len(ts) >= {_SPAN_W}), "
    f"sp AS (SELECT doc_id, md5(array_to_string(ts[i:i + {_SPAN_W - 1}], ' ')) AS h FROM idx) "
    "SELECT h AS span_hash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, "
    "CAST(COUNT(*) AS BIGINT) AS n_occurrences, "
    "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc "
    "FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2"
)


def er_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution: match "dirty" customer names
    back to the master list with a blocking equi-join + Levenshtein
    residual — the standard ER/record-linkage shape (and the fuzzy
    complement of the exact/near-dup text operators here).

    Probe set: every 29th customer's name with a typo in the word part
    ("Custoner#…", deterministic so the oracle re-derives it) — the
    true entity is then uniquely closest (distance 1; every other
    candidate also differs in ≥1 digit).  Blocking key = the leading
    digits, untouched by the corruption, so the O(N·M) all-pairs
    comparison collapses to per-block candidates; at 100 TB the block key is exactly the kind
    of key a production linker shuffles on, and the Levenshtein UDF
    runs JVM-side (built-in `levenshtein`, whole-stage codegen).
    Best match per probe = lowest (distance, custkey) — a total order
    (SURVEY §4.5 rule 4)."""
    cust = catalog.load_tables(spark, sf_dir)["customer"]
    probes = (
        cust.where(F.col("c_custkey") % 29 == 0)
        .select(
            F.col("c_custkey").alias("probe_key"),
            F.concat(
                F.lit("Custoner#"), F.substring("c_name", 10, 9)
            ).alias("dirty_name"),
        )
    )
    block = lambda c: F.substring(c, 10, 7)  # leading 7 of 9 digits
    cands = probes.join(
        cust.select("c_custkey", "c_name"),
        block(F.col("dirty_name")) == block(F.col("c_name")),
    ).select(
        "probe_key",
        "dirty_name",
        "c_custkey",
        "c_name",
        F.levenshtein("dirty_name", "c_name").alias("dist"),
    )
    best = cands.where(F.col("dist") <= 2).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("probe_key").orderBy("dist", "c_custkey")
        ),
    )
    return best.where(F.col("rn") == 1).select(
        "probe_key", "dirty_name", F.col("c_custkey").alias("matched_key"),
        F.col("dist").cast("int").alias("dist"),
    )


_ER_ORACLE = (
    "WITH probes AS (SELECT c_custkey AS probe_key, "
    "concat('Custoner#', substr(c_name, 10, 9)) AS dirty_name "
    "FROM customer WHERE c_custkey % 29 = 0), "
    "cands AS (SELECT p.probe_key, p.dirty_name, c.c_custkey, "
    "levenshtein(p.dirty_name, c.c_name) AS dist "
    "FROM probes p JOIN customer c "
    "ON substr(p.dirty_name, 10, 7) = substr(c.c_name, 10, 7)), "
    "best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key "
    "ORDER BY dist, c_custkey) AS rn FROM cands WHERE dist <= 2) "
    "SELECT probe_key, dirty_name, c_custkey AS matched_key, "
    "CAST(dist AS INT) AS dist FROM best WHERE rn = 1"
)


CONTAINMENT_T = 0.8


def dedup_containment(
    spark: SparkSession,
    sf_dir: str,
    *,
    sample: int | None = None,
    width: int = 5,
) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B|/|A| ≥ 0.8 with
    |A| < |B| — the sub-document/quotation detector Jaccard misses
    (a short doc fully copied into a long one has high containment
    but low Jaccard).

    Candidates use the one-sided prefix filter: under any shared
    total order (document frequency asc, the ppjoin order reused from
    ``dedup_ngram_jaccard``), a set with containment ≥ t in ANY
    superset must collide within its first |A| − ⌈t·|A|⌉ + 1 shingles;
    the candidate join is prefix(A) ⋈ shingles(B) — lossless, and an
    equi-join on the shingle key like every banded operator here.

    Round 8 (sf1 scale-curve finding): on the synthetic corpus the
    5-char shingle universe is tiny (~2k distinct at sf0.1), so the
    prefix filter alone is non-selective and candidates degenerate
    toward all-pairs (measured 18.9× time for 10× docs).  The
    POSITIONAL filter (Vernica et al. / ppjoin) was added: both sides
    carry each shingle's 0-based rank in their rarity order, and an
    occurrence survives only if
    ``min(|A| − pa, |B| − pb) ≥ ⌈t·|A|⌉`` — the ordered-intersection
    upper bound through that element.  Lossless: for a true pair the
    FIRST common element lies in A's prefix (else |A∩B| < ⌈t·|A|⌉),
    and for it the whole intersection sits at ranks ≥ pa / ≥ pb, so
    the bound passes (hypothesis-tested vs an all-pairs recount).

    Round 9 (measured finding — THE CORPUS, NOT THE ALGORITHM, IS THE
    BOTTLENECK HERE): stage-instrumented at sf0.1 (unsampled), the
    candidate stack enumerates 29M prefix collisions, the positional
    filter removes only 0.5% of them, and 8.9M of the 12.5M possible
    ordered pairs reach the exact verify — for 301 true pairs (a
    29,000:1 verify ratio).  Root cause: with ~2k distinct 5-grams
    per corpus slice the "rare" prefix shingles still have df in the
    hundreds, and because rarity rank is GLOBAL, a prefix shingle of
    A sits early in B's order too (small pb), so the positional bound
    n_big − pb ≥ ⌈t·n_small⌉ almost always passes.  A per-shingle
    min-requirement pre-filter on the build side (lossless, r9
    experiment) was measured at zero benefit for the same reason and
    removed.  On a Heaps-law corpus (vocabulary grows with corpus
    size; prefix df is O(1)) the same plan's candidates track true-
    match density — demonstrated two ways (CONTAINSTUDY.json,
    scripts/containment_shingle_study.py): (a) widening to 9-char
    shingles on the SAME text (universe 2k → 27k at sf0.1) cuts the
    enumeration 10.7× (2.7M vs 29M) and candidates 5.2× (1.7M vs
    8.9M) with near-identical output (247 of 301 w5 pairs also found
    at w9); (b) the round-9 sf1-tier rebuild (make_sf1.py letter
    cipher) showed the prior 455k-pair sf1 output was a replication
    artifact of non-bijective token tagging, not operator behavior.
    The verify itself stays exact (array_intersect on sorted arrays),
    so wall time degrades gracefully toward the all-pairs cost on a
    degenerate universe and output is always exact.

    ``width`` parameterizes the shingle size for the study script
    only; the registered operator is width=5 (the declared contract).
    """
    docs = _docs_spread(spark, sf_dir)
    sh = docs.select("doc_id", char_shingles("text", width).alias("sh"))
    # Round-9 optimization (guide §2.3/§8): shingles are dictionary-
    # encoded to ppjoin-ordered INTs and materialized ONCE
    # (functions/setjoin.py encode_sets — the same bijective encoding
    # the Jaccard family uses).  The former string form re-executed
    # the shingle→frequency→order pipeline in every plan subtree
    # (probe, build, and twice in the verify) and shuffled 5-char
    # string arrays through the verify joins.
    enc = encode_sets(sh, "doc_id", "sh")

    # Required ordered-intersection count ⌈t·n⌉, computed with the
    # same epsilon slack as functions/setjoin.py (ADVICE r8): when t·n
    # float-rounds a hair ABOVE an exact integer, a bare ceil would be
    # 1 stricter than the verify step's ``cont >= t`` and could drop a
    # true pair.  The slack only loosens the candidate filter — the
    # exact verify below still decides membership.
    def _req(n: F.Column) -> F.Column:
        return F.ceil(F.lit(CONTAINMENT_T) * n - F.lit(1e-9))

    prefix_len = (F.col("__n") - _req(F.col("__n")) + 1).cast("int")
    # VERDICT r8 #2: the production operator emits ALL qualifying
    # pairs — the former 1-in-3 probe sample was a harness budget
    # leaking into operator semantics (a user composing this into
    # pipeline_curate_e2e would silently under-dedup).  The optional
    # ``sample=`` keyword is for the HARNESS only (scale sweeps that
    # want a bounded probe side); the registry always calls with the
    # default None = no sampling.  The oracle budget problem is solved
    # on the oracle side instead: _CONTAIN_ORACLE is now the
    # inverted-index formulation (sub-quadratic), validated identical
    # to the naive all-pairs SQL at sf0.001/sf0.01.
    probe = enc
    if sample is not None:
        probe = probe.where(F.col("__id") % sample == 0)
    probe = probe.select(
        F.col("__id").alias("d_small"),
        F.col("__n").alias("n_small"),
        F.posexplode(F.slice("__osh", F.lit(1), prefix_len)).alias("pa", "w"),
    )
    build = enc.select(
        F.col("__id").alias("d_big"),
        F.col("__n").alias("n_big"),
        F.posexplode("__osh").alias("pb", "w"),
    )
    # The |A| < |B| side condition the verify step enforces anyway is
    # pushed into the candidate join (exact integer compare, trivially
    # lossless): it halves the candidate pairs before the distinct and
    # the two shingle-array joins below.  The positional filter (see
    # docstring) bounds the ordered intersection through the matched
    # occurrence at ranks pa/pb; the required count is ⌈t·|A|⌉.
    cand = (
        probe.join(build.hint("merge"), "w")
        .where(F.col("n_small") < F.col("n_big"))
        .where(
            F.least(
                F.col("n_small") - F.col("pa"), F.col("n_big") - F.col("pb")
            )
            >= _req(F.col("n_small"))
        )
        .select("d_small", "d_big")
        .distinct()
    )
    a = enc.select(
        F.col("__id").alias("d_small"),
        F.col("__n").alias("na"),
        F.col("__osh").alias("sa"),
    )
    b = enc.select(
        F.col("__id").alias("d_big"),
        F.col("__n").alias("nb"),
        F.col("__osh").alias("sb"),
    )
    # Verify on the encoded arrays: the int→shingle map is a bijection,
    # so |A∩B| and the containment ratio are byte-identical to the
    # string-array form.
    ic = F.size(F.array_intersect("sa", "sb"))
    cont = ic.cast("double") / F.col("na")
    return (
        cand.join(a, "d_small")
        .join(b, "d_big")
        .where(F.col("na") < F.col("nb"))
        .where(cont >= CONTAINMENT_T)
        .select("d_small", "d_big", F.round(cont, 6).alias("containment"))
    )


# Inverted-index oracle (r9): |A∩B| = count of shared DISTINCT
# shingles, computed via unnest + equi-join + group-by instead of
# all-pairs list_intersect — the same quantity (shingles are
# list_distinct'd per doc), validated row-identical to the naive
# all-pairs SQL at sf0.001/sf0.01, and 86 s instead of ~15 min at
# sf0.1.  No sampling on either side (VERDICT r8 #2).
_CONTAIN_ORACLE = (
    "WITH sh0 AS (SELECT doc_id, list_distinct(list_transform("
    "generate_series(1, greatest(length(text) - 4, 1)), i -> substr(text, i, 5))) AS sh "
    "FROM documents), "
    "sh AS (SELECT doc_id, sh, len(sh) AS n FROM sh0), "
    "ex AS (SELECT doc_id, n, unnest(sh) AS w FROM sh), "
    "pairs AS (SELECT a.doc_id AS d_small, b.doc_id AS d_big, a.n AS na, "
    "COUNT(*) AS ic FROM ex a JOIN ex b ON a.w = b.w AND a.n < b.n "
    "GROUP BY 1, 2, 3) "
    "SELECT d_small, d_big, ROUND(CAST(ic AS DOUBLE) / na, 6) AS containment "
    "FROM pairs WHERE CAST(ic AS DOUBLE) / na >= 0.8"
)


def dedup_canonical_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's last mile: one canonical document per
    near-dup cluster.  Composition of ``dedup_cluster_cc`` (transitive
    components over the mined pair graph) with a keeper policy —
    longest document wins, doc_id breaks ties (a total order, §4.5
    rule 4).  Output: (component, keeper_doc, n_members, kept_chars) —
    what a production run writes back as the survivor list.

    Scale shape: the component relation is |dup-universe|-sized (tiny
    relative to the corpus); the keeper pick is one window over it,
    and joining ``n_chars`` is a broadcast against the doc dimension.
    """
    comps = dedup_cluster_cc(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = comps.join(docs, "doc_id").withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("component")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_doc"),
            F.count("*").cast("long").alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("long")
            .alias("kept_chars"),
        )
    )


_KEEPER_ORACLE = (
    "WITH comp AS MATERIALIZED (SELECT * FROM (" + _CC_ORACLE + ") t), "
    "ranked AS (SELECT c.component, c.doc_id, d.n_chars, "
    "ROW_NUMBER() OVER (PARTITION BY c.component "
    "ORDER BY d.n_chars DESC, c.doc_id) AS rn "
    "FROM comp c JOIN documents d ON c.doc_id = d.doc_id) "
    "SELECT component, CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keeper_doc, "
    "CAST(COUNT(*) AS BIGINT) AS n_members, "
    "CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars "
    "FROM ranked GROUP BY component"
)




_LSH_EVAL_DOCS = 600  # eval slice: exact truth is quadratic by design


def _lsh_eval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-collect pipeline of :func:`dedup_lsh_eval` — the fused
    truth/candidate full-outer-join 1-row aggregate, exposed so plan
    evidence can capture the pipeline that actually does the work
    (VERDICT r9 #4/#8: the registered operator's plan shows only a
    1-row ``Scan ExistingRDD`` after the internal collect, which made
    the r9 before/after plans uninformative)."""
    docs = _docs_spread(spark, sf_dir).where(F.col("doc_id") < _LSH_EVAL_DOCS)
    sig = _minhash_signature(docs)
    band_cols = [
        F.md5(
            F.concat(F.lit(f"b{b}"), F.col(f"h{2 * b - 1}"), F.col(f"h{2 * b}"))
        ).alias(f"band{b}")
        for b in range(1, MINHASH_BANDS + 1)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("band_key"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b").hint("merge"), "band_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # Round-9 optimization: the exact ground truth comes from the
    # shared ppjoin jaccard_pairs instead of an all-pairs cross join —
    # lossless by the prefix/positional-filter theorems, so the truth
    # SET is identical, but the former BroadcastNestedLoopJoin
    # evaluated the interpreted Jaccard fold on every one of the
    # ~180k ordered pairs in a single task (the measured 17 s of this
    # op).  The three separate count() actions (each re-running the
    # signature + band pipeline) are fused into ONE full-outer join +
    # aggregate job.
    ts = docs.select("doc_id", token_shingles("text").alias("ts"))
    truth = jaccard_pairs(ts, "doc_id", "ts", MINHASH_JACCARD).select("d1", "d2")
    return (
        truth.withColumn("t", F.lit(1))
        .join(cand.withColumn("c", F.lit(1)), ["d1", "d2"], "full_outer")
        .agg(
            F.count("t").alias("n_truth"),
            F.count("c").alias("n_cand"),
            F.count(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)).alias(
                "n_hits"
            ),
        )
    )


def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-stage recall/precision of the banded MinHash LSH
    against exact Jaccard ground truth — the index-quality measurement
    every dedup deployment needs (the ``ann_recall_eval`` of the text
    side): recall = how many truly-similar pairs the bands surface,
    precision = what fraction of surfaced candidates verify.

    Ground truth is the exact all-pairs Jaccard ≥ τ set over a bounded
    doc slice (quadratic BY DESIGN — it is the measurement, run
    offline on a sample; the banded index remains the serving path).
    Both sides use the identical shingle/threshold definitions as
    ``dedup_minhash_lsh``, so this measures the deployed band scheme.
    Output: one primitive row (counts + exact-ratio metrics); the
    heavy pipeline lives in :func:`_lsh_eval_pipeline` (one fused job,
    COLLECT_AUDIT-allowlisted 1-row collect).
    """
    counts = _lsh_eval_pipeline(spark, sf_dir).collect()[0]
    n_truth, n_cand, n_hits = int(counts.n_truth), int(counts.n_cand), int(counts.n_hits)
    row = [(n_truth, n_cand, n_hits,
            float(n_hits) / n_truth if n_truth else 1.0,
            float(n_hits) / n_cand if n_cand else 1.0)]
    return spark.createDataFrame(
        row,
        "n_truth long, n_candidates long, n_hits long, recall double, precision double",
    )


def _lsh_eval_oracle() -> str:
    mins = _minhash_mins_sql()
    bands = ", ".join(
        f"md5(CONCAT('b{b}', h{2 * b - 1}, h{2 * b}))" for b in range(1, MINHASH_BANDS + 1)
    )
    sh = duck_token_shingles()
    jac = (
        "CAST(len(list_intersect(t1.ts, t2.ts)) AS DOUBLE) / "
        "len(list_distinct(list_concat(t1.ts, t2.ts)))"
    )
    return (
        f"WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < {_LSH_EVAL_DOCS}), "
        f"tok AS (SELECT doc_id, unnest({sh}) AS w FROM d), "
        f"tok2 AS ({_MINHASH_HASHED_SQL}), "
        f"sig AS (SELECT doc_id, {mins} FROM tok2 GROUP BY doc_id), "
        f"bands AS (SELECT doc_id, unnest([{bands}]) AS band_key FROM sig), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a JOIN bands b "
        "ON a.band_key = b.band_key AND a.doc_id < b.doc_id), "
        f"ts AS (SELECT doc_id, {sh} AS ts FROM d), "
        "truth AS (SELECT t1.doc_id AS d1, t2.doc_id AS d2 FROM ts t1 JOIN ts t2 "
        f"ON t1.doc_id < t2.doc_id WHERE {jac} >= {MINHASH_JACCARD}), "
        "hits AS (SELECT * FROM truth JOIN cand USING (d1, d2)), "
        "c AS (SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth, "
        "CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates, "
        "CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits) "
        "SELECT n_truth, n_candidates, n_hits, "
        "CASE WHEN n_truth = 0 THEN 1.0 ELSE CAST(n_hits AS DOUBLE) / n_truth END AS recall, "
        "CASE WHEN n_candidates = 0 THEN 1.0 ELSE CAST(n_hits AS DOUBLE) / n_candidates END AS precision "
        "FROM c"
    )


QUERIES = {
    "dedup_lsh_eval": dedup_lsh_eval,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_cluster_cc": dedup_cluster_cc,
    "dedup_substring_spans": dedup_substring_spans,
    "er_fuzzy_blocked": er_fuzzy_blocked,
    "dedup_containment": dedup_containment,
    "dedup_canonical_keeper": dedup_canonical_keeper,
}

ORACLES = {
    "dedup_lsh_eval": _lsh_eval_oracle(),
    "dedup_fingerprint": _FP_ORACLE,
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "dedup_ngram_jaccard": _NGRAM_ORACLE,
    "dedup_embedding_cosine": inline_views(_EMB_COS_ORACLE),
    "dedup_cluster_cc": _CC_ORACLE,
    "dedup_substring_spans": _SPAN_ORACLE,
    "er_fuzzy_blocked": _ER_ORACLE,
    "dedup_containment": _CONTAIN_ORACLE,
    "dedup_canonical_keeper": _KEEPER_ORACLE,
}
