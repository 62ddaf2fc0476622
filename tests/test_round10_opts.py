"""Round-10 optimization pins.

Each test pins an equivalence or plan property a round-10 optimization
relies on (the "add a focused test when an optimization changes an
operator's internals" rule):

- directory-aware broadcast size probe (VERDICT r9 #4),
- scalable ppjoin dictionary rank == the global row_number it replaced
  (VERDICT r9 #3), also when range sampling cannot cover the element
  universe, and the module-level no-unpartitioned-window rule,
- the arithmetic-union verify (no array_union in the jaccard plan),
- the Arrow-batched LSH bucket kernel == the fold-expression keys
  bit-for-bit,
- the LONG-quantized pagerank message sum == the decimal formulation
  bit-for-bit.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

SETJOIN_SRC = (
    Path(__file__).resolve().parent.parent
    / "pserv_spark"
    / "functions"
    / "setjoin.py"
)


def test_table_disk_bytes_directory_aware(tmp_path):
    """A parquet table stored as a DIRECTORY of part files must be
    sized by its data files, not the dirent (the 100 TB layout —
    os.path.getsize on a dir returns ~4 KB and would broadcast
    anything)."""
    from pserv_spark.catalog import table_disk_bytes

    d = tmp_path / "big.parquet"
    d.mkdir()
    (d / "part-00000.snappy.parquet").write_bytes(b"x" * 10_000)
    (d / "part-00001.snappy.parquet").write_bytes(b"y" * 20_000)
    (d / "_SUCCESS").write_bytes(b"")  # marker files don't count
    (d / ".part-00002.crc").write_bytes(b"z" * 999)  # hidden: skipped
    assert table_disk_bytes(str(tmp_path), "big") == 30_000

    f = tmp_path / "small.parquet"
    f.write_bytes(b"q" * 1234)
    assert table_disk_bytes(str(tmp_path), "small") == 1234


def test_size_aware_broadcast_uses_directory_size(tmp_path):
    """Above the cutoff, the helper must NOT hint — including when the
    table is a directory whose dirent size alone would sneak under."""
    from pserv_spark import catalog

    d = tmp_path / "fact.parquet"
    d.mkdir()
    (d / "part-00000.snappy.parquet").write_bytes(
        b"x" * (catalog.BROADCAST_DISK_BYTES + 1)
    )
    assert (
        catalog.table_disk_bytes(str(tmp_path), "fact")
        > catalog.BROADCAST_DISK_BYTES
    )


def test_ppjoin_stack_has_no_unpartitioned_window():
    """VERDICT r9 #3 lint contract: no window in functions/setjoin.py
    may be a global Window.orderBy — a single-partition sort of the
    element universe is a serial choke point at vocabulary scale."""
    src = SETJOIN_SRC.read_text()
    for m in re.finditer(r"Window\s*\.\s*(\w+)", src):
        assert m.group(1) == "partitionBy", (
            f"setjoin.py uses Window.{m.group(1)} without partitionBy "
            f"at offset {m.start()} — the ppjoin stack bans "
            "un-partitioned windows (VERDICT r9 #3)"
        )


def test_encode_sets_plan_has_no_single_partition_exchange(spark, sf_smoke):
    """Plan-level form of the same rule: the encoded relation must be
    built without any Exchange SinglePartition."""
    from pserv_spark.functions import distinct_tokens, encode_sets
    from pserv_spark import catalog

    docs = catalog.table(spark, sf_smoke, "documents")
    tok = docs.select("doc_id", distinct_tokens("text").alias("ts"))
    enc = encode_sets(tok, "doc_id", "ts")
    # enc is checkpointed; lint the plan that PRODUCED it by rebuilding
    # the un-checkpointed pipeline the same way encode_sets does.
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan  # the checkpointed read
    # and the full query run end-to-end plans no single-partition
    # exchange either (the candidate stack + verify):
    from pserv_spark.functions import jaccard_pairs

    full = jaccard_pairs(tok, "doc_id", "ts", 0.9)
    fplan = full._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in fplan


def _assert_global_row_number_encoding(enc, tok, set_col):
    """``enc``'s ``__osh`` arrays must equal an independent Python
    re-derivation of the dictionary: tid = global row_number under
    (document frequency asc, element)."""
    from collections import Counter

    rows = {r["__id"]: list(r["__osh"]) for r in enc.collect()}
    sets = {r["doc_id"]: list(r[set_col]) for r in tok.collect()}
    df = Counter()
    for ts in sets.values():
        df.update(set(ts))
    order = sorted(df, key=lambda w: (df[w], w))
    tid = {w: i + 1 for i, w in enumerate(order)}
    drifted = [
        doc_id
        for doc_id, ts in sets.items()
        if rows.get(doc_id) != sorted(tid[w] for w in set(ts))
    ]
    assert not drifted, (
        f"encoding drifted on {len(drifted)} of {len(sets)} docs "
        f"(first: {drifted[:5]})"
    )


def test_encode_sets_rank_is_the_global_row_number(spark, sf_smoke):
    """The range-partitioned bucket rank + offset must reproduce the
    exact global row_number under (document frequency asc, element) —
    the ppjoin total order the r9 single-partition window computed."""
    from pserv_spark.functions import distinct_tokens, encode_sets
    from pserv_spark import catalog

    # deterministic subset (a bare limit() may pick different rows in
    # the two independent executions below)
    docs = catalog.table(spark, sf_smoke, "documents").where(F.col("doc_id") < 300)
    tok = docs.select("doc_id", distinct_tokens("text").alias("ts"))
    _assert_global_row_number_encoding(encode_sets(tok, "doc_id", "ts"), tok, "ts")


@pytest.mark.parametrize("exchange_reuse", ["true", "false"])
def test_encode_sets_is_a_bijection_when_the_range_sample_is_sparse(
    spark, sf_oracle, exchange_reuse
):
    """The encoding must be the global row_number whatever bucket
    boundaries range sampling draws.  With one sampled key per
    partition the sample cannot cover the shingle universe (~2k
    elements at sf0.01), so independent executions of the range
    exchange draw different boundaries on any core count: the bucket
    ranks and bucket offsets must come from one realization.  Pinned
    with exchange reuse on (one shared range shuffle) and off (the
    realization must be pinned some other way)."""
    from pserv_spark.functions import char_shingles, encode_sets
    from pserv_spark import catalog

    docs = catalog.table(spark, sf_oracle, "documents")
    sh = docs.select("doc_id", char_shingles("text", 5).alias("sh"))
    confs = {
        "spark.sql.execution.rangeExchange.sampleSizePerPartition": "1",
        "spark.sql.exchange.reuse": exchange_reuse,
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        enc = encode_sets(sh, "doc_id", "sh")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    _assert_global_row_number_encoding(enc, sh, "sh")


def test_jaccard_pairs_verify_has_no_array_union(spark, sf_smoke):
    """Round-10 verify micro-optimization: |A∪B| is |A|+|B|−|A∩B|
    (arithmetic), so array_union must not appear in the plan."""
    from pserv_spark.functions import distinct_tokens, jaccard_pairs
    from pserv_spark import catalog

    docs = catalog.table(spark, sf_smoke, "documents")
    tok = docs.select("doc_id", distinct_tokens("text").alias("ts"))
    plan = (
        jaccard_pairs(tok, "doc_id", "ts", 0.9)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "array_union" not in plan
    assert "array_intersect" in plan  # the one remaining array pass


def test_lsh_bucket_kernel_matches_fold_expressions(spark, sf_smoke):
    """The Arrow-batched bucket kernel must produce byte-identical
    (vec_id, bucket) rows to the fold-expression form it replaced —
    the sign of every plane dot is IEEE-order-exact (dimension-major
    accumulation == strict left-to-right fold)."""
    from pserv_spark.operators.similarity import _bucketed_ids, _table_keys, _emb

    kernel = {
        (r["vec_id"], r["bucket"]) for r in _bucketed_ids(spark, sf_smoke).collect()
    }
    fold = {
        (r["vec_id"], r["bucket"])
        for r in _emb(spark, sf_smoke)
        .select("vec_id", F.explode(_table_keys()).alias("bucket"))
        .collect()
    }
    assert kernel == fold


def test_pagerank_long_sum_matches_decimal_formulation(spark, sf_smoke):
    """The LONG-quantized message sum must reproduce the DECIMAL(20,15)
    formulation bit-for-bit (the exactness chain in graph_pagerank's
    comment: ROUND(msg·1e15) recovers the integer, the long sum cannot
    overflow, and SUM/1e15 equals CAST(decimal AS DOUBLE))."""
    from pserv_spark.catalog import load_tables
    from pserv_spark.operators.iterative import _PR_DAMP, _PR_ITERS, graph_pagerank

    got = {r["node"]: r["rank"] for r in graph_pagerank(spark, sf_smoke).collect()}

    li = load_tables(spark, sf_smoke)["lineitem"]
    pk = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    sk = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    half = li.select(pk.alias("src"), sk.alias("dst")).distinct()
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    n = deg.count()
    base = 0.15 / float(n)
    rank = deg.select("src", F.lit(1.0 / float(n)).alias("rank"))
    for _ in range(_PR_ITERS):
        msgs = rank.join(deg, "src").select(
            "src",
            F.round(F.col("rank") / F.col("outdeg"), 15)
            .cast("decimal(20,15)")
            .alias("msg"),
        )
        rank = (
            edges.join(msgs, "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(
                F.round(
                    F.lit(base) + F.lit(_PR_DAMP) * F.sum("msg").cast("double"), 10
                ).alias("rank")
            )
        )
    want = {r["src"]: r["rank"] for r in rank.collect()}
    assert got == want
