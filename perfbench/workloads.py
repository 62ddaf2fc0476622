"""The three workloads: one client, closed loop, whole passes.

Each workload has an untimed ``prepare`` (seeded inputs and the
independent expected outputs), a ``setup`` that is timed into
``setup_s``, and an ``operation`` that the shared loop in ``run.py``
times, checks and repeats pass after pass.
"""

from __future__ import annotations

import os
import shutil
import time

import checks
import gen
from probe import Py4jCounter, group_stats, metric, plan_nodes, tracker_phases

#: The 15 flagship ids of bench.py plus the astronomy, light-curve and
#: zoned-crossmatch ids a catalog user runs.
CATALOG_IDS = (
    "scan_project",
    "agg_groupby_q1",
    "join_multiway_q5",
    "join_left_outer",
    "win_topk_per_group",
    "agg_grouping_sets",
    "topk_global",
    "sessionize",
    "window_tumbling",
    "fn_explode_wordcount",
    "vec_knn",
    "dedup_exact",
    "join_asof",
    "agg_percentile",
    "tfidf",
    "astro_conesearch_sph",
    "astro_box_search",
    "astro_crossmatch_sph",
    "astro_xmatch_best",
    "lightcurve_stetson_j",
    "lightcurve_outlier_mad",
    "vec_crossmatch_zoned",
)

DEDUP_ID = "dedup_ngram_jaccard"


class Context:
    """What one operation needs: the session, the tracer and, in the
    traced run, the Py4J call counter."""

    def __init__(self, spark, tracer, workdir: str):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.py4j = Py4jCounter(spark) if tracer.enabled else None

    def begin(self, op: int, name: str, group: str | None = None) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group or f"op{op}", name)

    def compose_calls(self, before: int) -> None:
        if self.py4j is not None:
            self.tracer.count("queries.py4j_calls", self.py4j.calls - before)

    def calls(self) -> int:
        return self.py4j.calls if self.py4j is not None else 0

    def end(self, op: int, df=None) -> None:
        """Record Spark's own view of the operation (traced run only)."""
        if not self.tracer.enabled:
            return
        for name, value in group_stats(self.spark, f"op{op}").items():
            self.tracer.count(f"spark.{name}", value)
        if df is not None:
            for phase, secs in tracker_phases(df).items():
                self.tracer.count(f"spark.{phase}_s", secs)


# ---------------------------------------------------------------- catalog


class Catalog:
    """22 registry queries in a seeded order over generated sf0.1 tables."""

    def __init__(self, seed: int, inputs: dict):
        import random

        self.data_dir = inputs["data_dir"]
        self.expected = inputs["expected"]
        order = list(CATALOG_IDS)
        random.Random(seed).shuffle(order)
        self.items = order
        # Two passes: each query has its own code paths, and after one pass
        # the JIT is still far from done.  In one process running six
        # passes, throughput went 1.69, 1.95, 2.26, 2.15, 2.22, 2.46
        # queries/s, so a pass measured after one warm-up pass sat on the
        # steepest part of that curve.
        self.warmup = order + order
        self.verified: dict[str, tuple] = {}

    def setup(self, spark, tracer) -> None:
        with tracer.span("registry.build_queries"):
            from pserv_spark.registry import build_queries

            self.queries = build_queries()
        with tracer.span("catalog.load_tables"):
            from pserv_spark.catalog import load_tables

            load_tables(spark, self.data_dir)

    def operation(self, ctx: Context, op: int, qid: str):
        tr = ctx.tracer
        ctx.begin(op, qid)
        calls = ctx.calls()
        t0 = time.perf_counter()
        with tr.span("queries.compose", op):
            df = self.queries[qid](ctx.spark, self.data_dir)
        ctx.compose_calls(calls)
        with tr.span("queries.collect", op):
            rows = df.collect()
        latency = time.perf_counter() - t0
        tr.count("spark.result_rows", len(rows))
        ctx.end(op, df)
        return latency, (df.columns, [tuple(r) for r in rows])

    def size(self, qid: str) -> int:
        return 1  # items are queries

    def check(self, qid: str, result) -> str | None:
        cols, rows = result
        if self.verified.get(qid) == result:
            return None  # identical to a result that matched the oracle
        problem = checks.compare(checks.canon(cols, rows), self.expected[qid])
        if problem is None:
            self.verified[qid] = result
        return problem


def prepare_catalog(seed: int, out: str, oracle_sql: dict) -> dict:
    data_dir = os.path.join(out, "tables")
    gen.catalog_tables(seed, data_dir)
    return {
        "data_dir": data_dir,
        "expected": checks.duckdb_results(data_dir, oracle_sql),
    }


# ------------------------------------------------------------------ dedup


class Dedup:
    """``dedup_ngram_jaccard`` over seeded corpora, one corpus per op."""

    def __init__(self, seed: int, inputs: dict):
        self.items = inputs["corpora"]
        # A whole pass: the JIT-compiled verify code keeps getting faster
        # well past a first small corpus.
        self.warmup = self.items

    def setup(self, spark, tracer) -> None:
        with tracer.span("registry.build_queries"):
            from pserv_spark.registry import build_queries

            self.run = build_queries()[DEDUP_ID]

    def operation(self, ctx: Context, op: int, corpus: dict):
        tr = ctx.tracer
        ctx.begin(op, f"{DEDUP_ID}:{os.path.basename(corpus['dir'])}")
        calls = ctx.calls()
        t0 = time.perf_counter()
        with tr.span("dedup.build", op):
            df = self.run(ctx.spark, corpus["dir"])
        ctx.compose_calls(calls)
        with tr.span("dedup.collect", op):
            rows = df.collect()
        latency = time.perf_counter() - t0
        if tr.enabled:
            tr.count("spark.result_rows", len(rows))
            cands = candidate_count(df)
            if cands is None:
                raise RuntimeError("no verify-join exchange in the executed plan")
            tr.count("setjoin.candidates", cands)
            tr.count("setjoin.verified_per_candidate", len(rows) / max(cands, 1))
        ctx.end(op, df)
        return latency, [tuple(r) for r in rows]

    def size(self, corpus: dict) -> int:
        return corpus["docs"]  # items are documents

    def check(self, corpus: dict, rows) -> str | None:
        return checks.check_pairs(rows, corpus["reference"], corpus["planted"])


def candidate_count(df) -> int | None:
    """Rows of the ppjoin candidate stream: records written by the
    ``repartition(n, d1, d2)`` exchange that feeds the verify join, or
    ``None`` when the plan has no such exchange (the traced run then
    counts the operation as failed rather than report 0 candidates)."""
    for node in plan_nodes(df):
        if node.getClass().getSimpleName() != "ShuffleExchangeExec":
            continue
        desc = str(node.simpleString(400))
        if "REPARTITION_BY_NUM" in desc and "hashpartitioning(d1#" in desc:
            return metric(node, "shuffleRecordsWritten")
    return None


def prepare_dedup(seed: int, out: str) -> dict:
    corpora = []
    for c in gen.dedup_corpora(seed, out):
        corpora.append(
            {
                "dir": c.dir,
                "docs": len(c.texts),
                "reference": checks.jaccard_reference(c.texts, c.doc_ids),
                "planted": checks.planted_jaccard(c.texts, c.doc_ids, c.planted),
            }
        )
    return {"corpora": corpora}


# ----------------------------------------------------------------- ingest


class Ingest:
    """FITS file -> fitslike DataSource -> calibrate_flux ->
    write_partitioned by declination zone, one file per op."""

    def __init__(self, seed: int, inputs: dict):
        self.warmup, self.items = inputs["files"][:1], inputs["files"][1:]

    def setup(self, spark, tracer) -> None:
        with tracer.span("fitslike.register"):
            from pserv_spark.sources.fitslike import FitsLikeDataSource

            spark.dataSource.register(FitsLikeDataSource)

    def operation(self, ctx: Context, op: int, item: dict):
        from pyspark.sql import functions as F

        from pserv_spark.sources.ingest import calibrate_flux, write_partitioned

        tr = ctx.tracer
        out = os.path.join(ctx.workdir, "ingest", f"op{op}")
        if tr.enabled:
            # Decode alone, in a job group of its own and before the
            # operation, so that it stays out of the operation's figures.
            ctx.begin(op, "fitslike.decode", group=f"decode{op}")
            with tr.span("fitslike.decode", op):
                reader = ctx.spark.read.format("fitslike").option("path", item["path"])
                reader.load().write.format("noop").mode("overwrite").save()
        ctx.begin(op, f"ingest:{os.path.basename(item['path'])}")
        calls = ctx.calls()
        t0 = time.perf_counter()
        with tr.span("fitslike.open", op):
            raw = ctx.spark.read.format("fitslike").option("path", item["path"]).load()
        df = calibrate_flux(raw).withColumn(
            "zone", F.floor((F.col("dec") + 90.0) / checks.ZONE_DEG).cast("int")
        )
        ctx.compose_calls(calls)
        with tr.span("ingest.write", op):
            write_partitioned(df, out, ["zone"])
        latency = time.perf_counter() - t0
        files = checks.parquet_files(out)
        written = sum(os.path.getsize(f) for f in files)
        tr.count("ingest.files_written", len(files))
        tr.count("ingest.bytes_written", written)
        tr.count("ingest.bytes_per_row", written / item["rows"])
        ctx.end(op)
        return latency, out

    def size(self, item: dict) -> int:
        return item["rows"]  # items are rows

    def check(self, item: dict, out: str) -> str | None:
        try:
            return checks.check_ingest(out, item["expected"])
        finally:
            shutil.rmtree(out, ignore_errors=True)


def prepare_ingest(seed: int, out: str) -> dict:
    files = []
    for f in gen.fits_files(seed, out):
        files.append(
            {
                "path": f.path,
                "rows": len(f.columns["object_id"]),
                "expected": checks.expected_ingest(f.columns),
            }
        )
    return {"files": files}


WORKLOADS = {"catalog": Catalog, "dedup": Dedup, "ingest": Ingest}
