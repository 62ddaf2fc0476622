"""Approximate-nearest-neighbor search over the embedding column.

The exact brute-force baseline is the corpus query ``vec_knn`` (cross
join + cosine + windowed top-k).  These operators are the scale paths:

- ``ann_ivf_topk`` — IVF (inverted-file) search: a deterministic coarse
  quantizer (the first ``IVF_K`` vectors by ``vec_id`` act as seed
  centroids), candidates assigned to their nearest centroid cell,
  queries probe their ``IVF_NPROBE`` nearest cells only.  The expensive
  distance computation runs on |cell| × nprobe candidates instead of N.
- ``ann_lsh_topk`` — sign-random-projection LSH, multi-table: 8 hash
  tables × 4 fixed ±1 hyperplanes each (deterministically generated
  from md5, embedded as literals).  A vector lands in one bucket per
  table; candidates are the union across tables (single-table sign-LSH
  has near-zero recall on zero-centered data — for a pair at cosine
  0.37 the 8-bit-bucket collision probability is ≈0.62⁸ ≈ 2%, measured
  as recall 0.0 on this corpus; 8×4-bit tables lift candidate recall
  to 1-(1-0.62⁴)⁸).  Search is an equi-join on (table, bucket) keys.

Both are fully deterministic, so the DuckDB oracle re-implements the
*same algorithm* and the match is exact — the approximation is part of
the declared semantics, not noise.  Ranking follows SURVEY §4.5 rule 4:
``ROUND(sim, 6)`` inside every ORDER BY, unique tiebreaker column.

At 100 TB: centroid/hyperplane tables are O(K) → broadcast joins; the
candidate join is an equi-join on cell/bucket id (shuffle-bounded);
AQE handles cell-size skew (hot cells split by skew-join handling).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..functions import cosine, dot, l2_norm
from ._oracle import inline_views

IVF_K = 8
IVF_NPROBE = 2
TOP_K = 5

LSH_TABLES = 8
LSH_BITS = 4
EMB_DIM = 64


def _hyperplanes() -> list[list[float]]:
    """±1 hyperplanes from md5 — deterministic, engine-independent.
    ``LSH_TABLES * LSH_BITS`` planes; table t owns planes
    [t*LSH_BITS, (t+1)*LSH_BITS)."""
    planes = []
    for p in range(LSH_TABLES * LSH_BITS):
        row = []
        for d in range(EMB_DIM):
            h = hashlib.md5(f"plane{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


HYPERPLANES = _hyperplanes()


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.v_emb(spark, sf_dir)


_COS6 = lambda a, b: F.round(cosine(a, b), 6)  # noqa: E731


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 cosine search: queries vec_id<10, candidates vec_id≥10."""
    emb = _emb(spark, sf_dir)
    cents = emb.where(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
    )
    # Assignment: each candidate to its nearest centroid (broadcast the
    # K-row centroid table — no shuffle of the big side).
    cand = emb.where(F.col("vec_id") >= 10)
    asg_sim = _COS6(F.col("emb"), F.col("cemb"))
    asg = (
        cand.join(F.broadcast(cents))
        .withColumn("csim", asg_sim)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("csim").desc(), F.col("cent_id")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cand_emb"), "cent_id")
    )
    # Probing: each query inspects its NPROBE nearest cells.
    qs = emb.where(F.col("vec_id") < 10)
    probes = (
        qs.join(F.broadcast(cents))
        .withColumn("csim", asg_sim)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("csim").desc(), F.col("cent_id")
                )
            ),
        )
        .where(F.col("rn") <= IVF_NPROBE)
        .select(F.col("vec_id").alias("qid"), F.col("emb").alias("q_emb"), "cent_id")
    )
    # Search inside probed cells only (equi-join on cent_id).
    sim = _COS6(F.col("q_emb"), F.col("cand_emb"))
    return (
        probes.join(asg, "cent_id")
        .withColumn("cos_sim", sim)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
            ),
        )
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", "cos_sim")
    )


def _ivf_oracle() -> str:
    cos = (
        "ROUND(list_dot_product({a}, {b}) / "
        "(SQRT(list_dot_product({a}, {a})) * SQRT(list_dot_product({b}, {b}))), 6)"
    )
    return (
        f"WITH cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM v_emb WHERE vec_id < {IVF_K}), "
        "asg AS (SELECT cid, cand_emb, cent_id FROM ("
        "SELECT c.vec_id AS cid, c.emb AS cand_emb, cents.cent_id, "
        "ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY "
        + cos.format(a="c.emb", b="cents.cemb")
        + " DESC, cents.cent_id) AS rn "
        "FROM v_emb c CROSS JOIN cents WHERE c.vec_id >= 10) t WHERE rn = 1), "
        "probes AS (SELECT qid, q_emb, cent_id FROM ("
        "SELECT q.vec_id AS qid, q.emb AS q_emb, cents.cent_id, "
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
        + cos.format(a="q.emb", b="cents.cemb")
        + " DESC, cents.cent_id) AS rn "
        f"FROM v_emb q CROSS JOIN cents WHERE q.vec_id < 10) t WHERE rn <= {IVF_NPROBE}) "
        "SELECT qid, cid, cos_sim FROM ("
        "SELECT probes.qid, asg.cid, "
        + cos.format(a="probes.q_emb", b="asg.cand_emb")
        + " AS cos_sim, "
        "ROW_NUMBER() OVER (PARTITION BY probes.qid ORDER BY "
        + cos.format(a="probes.q_emb", b="asg.cand_emb")
        + f" DESC, asg.cid) AS rn FROM probes JOIN asg ON probes.cent_id = asg.cent_id) t "
        f"WHERE rn <= {TOP_K}"
    )


def _table_keys() -> F.Column:
    """Array of per-table bucket keys ``"t:bits"`` for one vector.

    The plane dots stay on the interpreted FOLD form deliberately
    (functions/vector.py's per-call-site rule): an r9 experiment
    unrolled all 32 plane dots into ±element_at sums and the operator
    went 3.1 s → 21 s — the 32 × 64-term expression trees blow up
    Catalyst analysis far beyond what the faster per-row execution
    buys on an O(N)-row site (the unrolled form is for O(N²)-pair
    sites, where one plan amortizes over billions of evaluations)."""
    keys = []
    for t in range(LSH_TABLES):
        bits = F.lit(0)
        for b in range(LSH_BITS):
            plane = HYPERPLANES[t * LSH_BITS + b]
            plane_arr = F.array(*[F.lit(v) for v in plane])
            bits = bits + (dot(F.col("emb"), plane_arr) > 0).cast("long") * (1 << b)
        keys.append(F.concat(F.lit(f"{t}:"), bits.cast("string")))
    return F.array(*keys)


def _bucketed_ids_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, bucket)`` rows — one per (vector, hash table) — via an
    Arrow-batched numpy kernel (round 10, guide §4.2: hand whole
    batches to vectorized native code instead of evaluating 32
    interpreted ``aggregate(zip_with(...))`` folds per row; the r9
    attempt to make the folds cheap by UNROLLING them in Catalyst blew
    analysis up 3.1 s → 21 s, so the fix is to leave Catalyst's tree
    small and move the arithmetic to numpy).

    IEEE-exactness (the ``dedup_embedding_cosine`` precedent, §4.5
    rule 5): the accumulation is dimension-major —
    ``acc += outer(emb[:, d], P[d, :])`` over d — so every (vector,
    plane) dot is the identical strict left-to-right double sequence
    the JVM fold produces (numpy's elementwise multiply-then-add does
    not fuse into FMA), and the bucket BIT only needs ``dot > 0``
    (NaN > 0 is false in both runtimes).  Bucket strings are the same
    ``"t:bits"`` values, so candidate sets — and therefore results —
    are byte-identical; the DuckDB oracle is unchanged.

    The relation is localCheckpoint'ed (eager-build contract, the
    encode_sets discipline): the query and candidate sides are two
    consumers, and without materialization each would re-run the full
    corpus hash pass (the Python node blocks the vec_id pushdown that
    used to narrow the query-side subtree).  Recomputed from parquet
    on every operator invocation — never cached across runs.
    """
    import numpy as np
    import pandas as pd

    # A ragged vector would abort the whole job inside the kernel's
    # np.array; drop it here, so it is never a query or a candidate.
    emb = _emb(spark, sf_dir).where(F.size("emb") == EMB_DIM).select("vec_id", "emb")
    planes = np.array(HYPERPLANES, dtype=np.float64).T  # (EMB_DIM, tables*bits)
    n_planes = LSH_TABLES * LSH_BITS
    bit_w = np.array([1 << b for b in range(LSH_BITS)], dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            a = np.array(pdf["emb"].tolist(), dtype=np.float64)
            acc = np.zeros((len(ids), n_planes))
            for d in range(EMB_DIM):
                acc = acc + np.multiply.outer(a[:, d], planes[d])
            bits = (acc > 0).astype(np.int64)
            buckets = []
            for t in range(LSH_TABLES):
                vals = bits[:, t * LSH_BITS : (t + 1) * LSH_BITS] @ bit_w
                buckets.append([f"{t}:{v}" for v in vals])
            yield pd.DataFrame(
                {
                    "vec_id": np.tile(ids, LSH_TABLES),
                    "bucket": [b for col in buckets for b in col],
                }
            )

    return emb.mapInPandas(kernel, "vec_id long, bucket string")


def _bucketed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized form of :func:`_bucketed_ids_plan` — one hash
    pass shared by the query and candidate consumers (see the plan
    builder's docstring; split so plan evidence can capture the
    MapInPandas pipeline the checkpoint otherwise hides)."""
    return _bucketed_ids_plan(spark, sf_dir).localCheckpoint()


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH top-5 cosine search (same query/candidate split).

    Each vector maps to one (table, bucket) key per hash table;
    candidate generation is an equi-join on the key, deduplicated to
    distinct (query, candidate) pairs before scoring.
    """
    emb = _emb(spark, sf_dir)
    # Round-9 optimization (guide §2.3/§8: shuffle keys, not payloads):
    # the bucket equi-join and the pair-dedup distinct used to carry
    # BOTH 64-double embeddings through every shuffle; now they carry
    # only (bucket, id) and the embeddings are re-attached to the
    # deduplicated id pairs afterwards — the 10-row query side as a
    # broadcast, the candidate side as a co-keyed join.  Same pair
    # set, same vectors, same cos_sim doubles.
    # Round-10: the bucket keys come from the Arrow-batched kernel
    # (_bucketed_ids) instead of 32 interpreted fold-dots per vector.
    bucketed = _bucketed_ids(spark, sf_dir)
    qs = bucketed.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "bucket"
    )
    cand = bucketed.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "bucket"
    )
    pair_ids = (
        qs.join(cand, "bucket")
        .select("qid", "cid")
        .distinct()  # a pair may collide in several tables
    )
    q_emb = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("q_emb")
    )
    c_emb = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cand_emb")
    )
    # Size-aware broadcast of the candidate vectors (the shared
    # catalog.size_aware_broadcast helper, round 10 — directory-aware,
    # so a part-file table at scale is sized by its data files, not
    # the 4 KB dirent): the statistics-free v_emb scan makes Catalyst
    # plan a shuffle join for the re-attach, which at local scale costs
    # two extra exchanges + sorts on a table that fits in one
    # broadcast; at scale the same code returns the unhinted frame and
    # the re-attach degrades to the co-keyed shuffle join it should
    # be.  The probe sizes the full table while c_emb is a 2-column
    # projection — conservative slack, documented in the helper.
    c_emb = catalog.size_aware_broadcast(c_emb, sf_dir, "embeddings")
    pairs = pair_ids.join(F.broadcast(q_emb), "qid").join(c_emb, "cid")
    sim = _COS6(F.col("q_emb"), F.col("cand_emb"))
    return (
        pairs.withColumn("cos_sim", sim)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
            ),
        )
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid", "cos_sim")
    )


def _lsh_oracle() -> str:
    table_keys = []
    for t in range(LSH_TABLES):
        bit_terms = []
        for b in range(LSH_BITS):
            plane = HYPERPLANES[t * LSH_BITS + b]
            arr = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
            bit_terms.append(
                f"(CASE WHEN list_dot_product(emb, {arr}) > 0 THEN {1 << b} ELSE 0 END)"
            )
        table_keys.append(f"concat('{t}:', CAST({' + '.join(bit_terms)} AS VARCHAR))")
    keys = ", ".join(table_keys)
    cos = (
        "ROUND(list_dot_product(q_emb, cand_emb) / "
        "(SQRT(list_dot_product(q_emb, q_emb)) * SQRT(list_dot_product(cand_emb, cand_emb))), 6)"
    )
    return (
        f"WITH bucketed AS (SELECT vec_id, emb, unnest([{keys}]) AS bucket FROM v_emb), "
        "qs AS (SELECT vec_id AS qid, emb AS q_emb, bucket FROM bucketed WHERE vec_id < 10), "
        "cand AS (SELECT vec_id AS cid, emb AS cand_emb, bucket FROM bucketed WHERE vec_id >= 10), "
        "pairs AS (SELECT DISTINCT qid, q_emb, cid, cand_emb FROM qs JOIN cand USING (bucket)) "
        "SELECT qid, cid, cos_sim FROM ("
        f"SELECT qid, cid, {cos} AS cos_sim, "
        f"ROW_NUMBER() OVER (PARTITION BY qid ORDER BY {cos} DESC, cid) AS rn "
        "FROM pairs) t "
        f"WHERE rn <= {TOP_K}"
    )


def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector scalar quantization of embeddings to uint8 codes —
    the storage-compression half of an IVF/PQ-style index (4 B float →
    1 B code = 4× smaller candidate payloads before the distance pass).

    Deterministic affine quantizer: ``code = floor((x - min) / scale)``
    with ``scale = (max - min)/255`` — pure IEEE-double arithmetic, so
    the DuckDB oracle reproduces it bit-exactly.  Narrow row output
    (bounds + code checksum + first code) keeps the driver compare on
    scalars per SURVEY §4.5 (doubles rounded to 6)."""
    emb = _emb(spark, sf_dir)
    mn = F.array_min("emb")
    mx = F.array_max("emb")
    scale = F.greatest((mx - mn) / F.lit(255.0), F.lit(1e-12))
    codes = F.transform(
        "emb", lambda x: F.least(F.lit(255), F.floor((x - mn) / scale)).cast("int")
    )
    return emb.select(
        "vec_id",
        F.round(mn, 6).alias("q_min"),
        F.round(mx, 6).alias("q_max"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: a + x).alias("code_sum"),
        F.element_at(codes, 1).alias("code0"),
    )


_QUANT_ORACLE = (
    "SELECT vec_id, ROUND(list_min(emb), 6) AS q_min, ROUND(list_max(emb), 6) AS q_max, "
    "CAST(list_sum(list_transform(emb, x -> CAST(LEAST(255, FLOOR((x - list_min(emb)) / "
    "GREATEST((list_max(emb) - list_min(emb)) / 255.0, 1e-12))) AS INT))) AS BIGINT) AS code_sum, "
    "CAST(LEAST(255, FLOOR((emb[1] - list_min(emb)) / "
    "GREATEST((list_max(emb) - list_min(emb)) / 255.0, 1e-12))) AS INT) AS code0 "
    "FROM v_emb"
)


PQ_SUBS = 2  # subspaces (32 dims each)
PQ_K = 16  # centroids per subspace codebook


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization search (Jégou et al. 2011) — the
    memory-bound ANN scale path: candidates compress to PQ_SUBS codes
    (8 bytes → 2 bytes here), and each query scores them via a
    K×SUBS lookup table of asymmetric distances (ADC) instead of full
    vectors.

    Codebooks are deterministic seed halves (vectors vec_id < PQ_K,
    the IVF seed policy).  Encode = per-subspace argmin L2² under the
    (round(d²,6), cent_id) total order; ADC = Σ_s LUT[q, s, code_s],
    an exact sum of two 6-dp-rounded doubles; ranking follows §4.5
    rule 4.  At 100 TB the codebooks and per-query LUTs broadcast;
    the candidate side joins on (subspace, code) — the full vectors
    never move after encoding.
    """
    emb = _emb(spark, sf_dir)
    half = lambda s: F.slice("emb", 1 + 32 * s, 32)  # noqa: E731
    d2 = (
        "aggregate(zip_with(h, ch, (x, y) -> (x - y) * (x - y)),"
        " 0D, (a, b) -> a + b)"
    )
    books = None
    for s in range(PQ_SUBS):
        b = emb.where(F.col("vec_id") < PQ_K).select(
            F.lit(s).alias("sub"),
            F.col("vec_id").alias("code"),
            half(s).alias("ch"),
        )
        books = b if books is None else books.unionByName(b)

    def halves(df: DataFrame, idcol: str) -> DataFrame:
        parts = None
        for s in range(PQ_SUBS):
            p = df.select(
                F.col("vec_id").alias(idcol),
                F.lit(s).alias("sub"),
                half(s).alias("h"),
            )
            parts = p if parts is None else parts.unionByName(p)
        return parts

    cand = halves(emb.where(F.col("vec_id") >= 10), "cid")
    w_enc = Window.partitionBy("cid", "sub").orderBy("d2q", "code")
    codes = (
        cand.join(F.broadcast(books), "sub")
        .withColumn("d2q", F.round(F.expr(d2), 6))
        .withColumn("rn", F.row_number().over(w_enc))
        .where(F.col("rn") == 1)
        .select("cid", "sub", "code")
    )
    qs = halves(emb.where(F.col("vec_id") < 10), "qid")
    lut = (
        qs.join(F.broadcast(books), "sub")
        .withColumn("d2q", F.round(F.expr(d2), 6))
        .select("qid", "sub", "code", "d2q")
    )
    adc = (
        codes.join(lut, ["sub", "code"])
        .groupBy("qid", "cid")
        .agg(F.sum("d2q").alias("adc"))
    )
    w_rank = Window.partitionBy("qid").orderBy(F.round("adc", 6), "cid")
    return (
        adc.withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= TOP_K)
        .select("qid", "cid", F.col("rk").cast("int").alias("rk"),
                F.round("adc", 6).alias("adc"))
    )


def _pq_oracle() -> str:
    d2 = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(generate_series(1, 32), "
        "j -> (h[j] - ch[j]) * (h[j] - ch[j]))), (a, b) -> a + b)"
    )
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub, emb[{1 + 32 * s}:{32 + 32 * s}] AS h FROM v_emb"
        for s in range(PQ_SUBS)
    )
    booksubs = " UNION ALL ".join(
        f"SELECT {s} AS sub, vec_id AS code, emb[{1 + 32 * s}:{32 + 32 * s}] AS ch"
        f" FROM v_emb WHERE vec_id < {PQ_K}"
        for s in range(PQ_SUBS)
    )
    return inline_views(
        f"WITH hs AS ({subs}), books AS ({booksubs}),"
        " codes AS (SELECT cid, sub, code FROM ("
        "  SELECT h.vec_id AS cid, h.sub, b.code,"
        f"   ROW_NUMBER() OVER (PARTITION BY h.vec_id, h.sub"
        f"     ORDER BY ROUND({d2}, 6), b.code) AS rn"
        "  FROM hs h JOIN books b ON h.sub = b.sub WHERE h.vec_id >= 10) t"
        " WHERE rn = 1),"
        " lut AS ("
        "  SELECT h.vec_id AS qid, h.sub, b.code,"
        f"   ROUND({d2}, 6) AS d2q"
        "  FROM hs h JOIN books b ON h.sub = b.sub WHERE h.vec_id < 10),"
        " adc AS ("
        "  SELECT lut.qid, codes.cid, SUM(d2q) AS adc"
        "  FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code"
        "  GROUP BY lut.qid, codes.cid)"
        " SELECT qid, cid, CAST(rk AS INT) AS rk, ROUND(adc, 6) AS adc FROM ("
        "  SELECT qid, cid, adc,"
        "   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(adc, 6), cid) AS rk"
        f"  FROM adc) t WHERE rk <= {TOP_K}"
    )




def vec_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health profile: L2-norm distribution per label —
    the collapsed/degenerate-embedding check run before any ANN build
    (norms near 0 or a single spike mean the encoder failed).  Norm is
    the deterministic left-fold dot product; percentiles use the
    validated interpolated-percentile equivalence; one keyed agg."""
    emb = _emb(spark, sf_dir)
    norm = F.sqrt(F.expr(
        "aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (a, b) -> a + b)"
    ))
    return (
        emb.select("label", F.round(norm, 6).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.expr("percentile(nrm, 0.05)"), 6).alias("p05"),
            F.round(F.expr("percentile(nrm, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(nrm, 0.95)"), 6).alias("p95"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


_NORM_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), i -> emb[i] * emb[i])), "
    "(a, b) -> a + b)"
)
_NORM_ORACLE = inline_views(
    "WITH n AS (SELECT label, ROUND(sqrt(" + _NORM_FOLD + "), 6) AS nrm FROM v_emb) "
    "SELECT label, CAST(COUNT(*) AS BIGINT) AS n, "
    "ROUND(quantile_cont(nrm, 0.05), 6) AS p05, "
    "ROUND(quantile_cont(nrm, 0.5), 6) AS p50, "
    "ROUND(quantile_cont(nrm, 0.95), 6) AS p95, "
    "MIN(nrm) AS min_norm, MAX(nrm) AS max_norm "
    "FROM n GROUP BY label"
)




JL_DIM = 16


def vec_project_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 → 16 dims with the
    md5-anchored ±1 matrix (Achlioptas 2003 database-friendly form,
    scale 1/√k) — the cheap dimensionality reduction before ANN
    indexing.  Deterministic matrix ⇒ the oracle replays the same
    projection; per-component ROUND(·, 6).  tests bound the pairwise
    distance distortion (the JL guarantee).

    The 16×64 literal-plane expression tree is deliberately map-side
    (zero shuffles — the scale-correct shape); its local cost is JIT
    warm-up, not data: measured 4.3→14.8→8.5→2.9→1.6→1.4 s across six
    executions of one session at sf0.1 (profile_engine times it
    min-of-2 warm for this reason)."""
    emb = _emb(spark, sf_dir)
    comps = []
    for j in range(JL_DIM):
        plane_arr = F.array(*[F.lit(v) for v in HYPERPLANES[j]])
        comps.append(F.round(dot(F.col("emb"), plane_arr) / 4.0, 6))
    # flat y0..y15 columns, not array<double>: array outputs cross the
    # driver hash as numpy arrays vs lists (round-2 finding) — primitive
    # doubles are the portable projection.
    return emb.select("vec_id", *[c.alias(f"y{j}") for j, c in enumerate(comps)])


def _jl_oracle() -> str:
    comps = []
    for j in range(JL_DIM):
        arr = "[" + ", ".join(f"{v:.1f}" for v in HYPERPLANES[j]) + "]"
        comps.append(f"ROUND(list_dot_product(emb, {arr}) / 4.0, 6) AS y{j}")
    return inline_views(
        f"SELECT vec_id, {', '.join(comps)} FROM v_emb"
    )




def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against exact brute force — the
    evaluation harness a real ANN deployment ships with (an index you
    can't measure is an index you can't trust).

    Per query: |IVF top-k ∩ exact top-k| / k.  The exact side is the
    ``vec_knn``-style linear scan over the same candidate set under
    the same (ROUND(cos,6) DESC, cid) total order; the IVF side is the
    production operator itself — so this measures the deployed plan,
    not a reimplementation.  Output is one primitive row per query.

    Scale: the exact side is the expensive half (linear in N per
    query) — which is WHY it is an offline eval op on a sampled query
    set, while the IVF side is the serving path.
    """
    ivf = ann_ivf_topk(spark, sf_dir).select("qid", "cid")
    emb = _emb(spark, sf_dir).withColumn("nrm", l2_norm(F.col("emb")))
    q = emb.where(F.col("vec_id") < 10).alias("q")
    c = emb.where(F.col("vec_id") >= 10).alias("c")
    cos = F.round(
        dot(F.col("q.emb"), F.col("c.emb")) / (F.col("q.nrm") * F.col("c.nrm")), 6
    )
    exact = (
        q.crossJoin(c)
        .select(
            F.col("q.vec_id").alias("qid"),
            F.col("c.vec_id").alias("cid"),
            cos.alias("cos_sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
            ),
        )
        .where(F.col("rn") <= TOP_K)
        .select("qid", "cid")
    )
    hits = exact.join(ivf, ["qid", "cid"]).groupBy("qid").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    return (
        exact.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / F.lit(float(TOP_K))).alias("recall"),
        )
    )


def _recall_oracle() -> str:
    cos = (
        "ROUND(list_dot_product({a}, {b}) / "
        "(SQRT(list_dot_product({a}, {a})) * SQRT(list_dot_product({b}, {b}))), 6)"
    )
    exact = (
        "SELECT qid, cid FROM ("
        "SELECT q.vec_id AS qid, c.vec_id AS cid, "
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
        + cos.format(a="q.emb", b="c.emb")
        + f" DESC, c.vec_id) AS rn "
        "FROM v_emb q CROSS JOIN v_emb c "
        "WHERE q.vec_id < 10 AND c.vec_id >= 10) t "
        f"WHERE rn <= {TOP_K}"
    )
    return (
        f"WITH ivf AS ({_ivf_oracle()}), exact AS ({exact}), "
        "hits AS (SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_hits "
        "FROM exact e JOIN ivf ON e.qid = ivf.qid AND e.cid = ivf.cid "
        "GROUP BY e.qid) "
        "SELECT qid, COALESCE(n_hits, 0) AS n_hits, "
        f"COALESCE(n_hits, 0) / {float(TOP_K)} AS recall "
        "FROM (SELECT DISTINCT qid FROM exact) q LEFT JOIN hits USING (qid)"
    )


QUERIES = {
    "ann_ivf_topk": ann_ivf_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "vec_quantize_int8": vec_quantize_int8,
    "ann_pq_topk": ann_pq_topk,
    "vec_norm_stats": vec_norm_stats,
    "vec_project_jl": vec_project_jl,
    "ann_recall_eval": ann_recall_eval,
}

ORACLES = {
    "ann_ivf_topk": inline_views(_ivf_oracle()),
    "ann_lsh_topk": inline_views(_lsh_oracle()),
    "vec_quantize_int8": inline_views(_QUANT_ORACLE),
    "ann_pq_topk": _pq_oracle(),
    "vec_norm_stats": _NORM_ORACLE,
    "vec_project_jl": _jl_oracle(),
    "ann_recall_eval": inline_views(_recall_oracle()),
}
