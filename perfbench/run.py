#!/usr/bin/env python3
"""Benchmark of the pserv_spark checkout this file sits in.

    python3 perfbench/run.py --workload catalog|dedup|ingest --seed N \\
        --seconds S --trace 0|1

One process, one client, closed loop, on ``local[<cpus>]`` where
``<cpus>`` is the CPU count this process may run on.  Inputs and their
expected outputs are made from ``--seed`` in the run's own directory,
which is removed at the end.  After an untimed warm-up, whole passes over the workload's operations run until
``--seconds`` have passed; every result is checked against an
independent computation.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: Heap cap (-Xmx) of the local session's JVM.  The heap is neither
#: pre-sized nor pre-touched, so peak_rss_mb follows the pages the program
#: touches; the cap keeps the collector from letting the heap grow to the
#: program's 8 GB default just because it may.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "items_per_s": "items/s",
    "op_p50_s": "s",
}

#: Per-layer metrics: name -> (unit, how it is derived).  ``span`` and
#: ``count`` values are means per measured operation; ``setup`` values
#: are one set-up span; ``memory`` values are the peak resident set of one
#: part of peak_rss_mb.  A layer the workload does not call reads 0.
PER_LAYER = {
    "session.start_s": ("s", "setup"),
    "registry.build_queries_s": ("s", "setup"),
    "catalog.load_tables_s": ("s", "setup"),
    "fitslike.register_s": ("s", "setup"),
    "memory.driver_rss_mb": ("MB", "memory"),
    "memory.jvm_rss_mb": ("MB", "memory"),
    "memory.workers_rss_mb": ("MB", "memory"),
    "queries.compose_s": ("s", "span"),
    "queries.py4j_calls": ("count", "count"),
    "spark.analysis_s": ("s", "count"),
    "spark.optimization_s": ("s", "count"),
    "spark.planning_s": ("s", "count"),
    "queries.collect_s": ("s", "span"),
    "spark.result_rows": ("count", "count"),
    "spark.jobs": ("count", "count"),
    "spark.stages": ("count", "count"),
    "spark.tasks": ("count", "count"),
    "spark.scheduler_delay_s": ("s", "count"),
    "spark.executor_run_s": ("s", "count"),
    "spark.executor_cpu_s": ("s", "count"),
    "spark.shuffle_write_bytes": ("B", "count"),
    "spark.shuffle_read_bytes": ("B", "count"),
    "spark.spill_bytes": ("B", "count"),
    "dedup.build_s": ("s", "span"),
    "dedup.collect_s": ("s", "span"),
    "setjoin.candidates": ("count", "count"),
    "setjoin.verified_per_candidate": ("ratio", "count"),
    "fitslike.open_s": ("s", "span"),
    "fitslike.decode_s": ("s", "span"),
    "ingest.write_s": ("s", "span"),
    "ingest.files_written": ("count", "count"),
    "ingest.bytes_written": ("B", "count"),
    "ingest.bytes_per_row": ("B/row", "count"),
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def isolate(run_dir: str, cpus: int) -> None:
    """Point every temporary, Spark and worker path at this run's own
    directory, and make the checkout importable by Spark's Python
    workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # Every JVM, the launcher's too: no hsperfdata or temp files elsewhere.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def make_inputs(workload: str, seed: int, out: str) -> None:
    """Make (workload, seed)'s inputs and expected outputs into
    ``<out>/inputs.pkl``.  Runs in a child process of the benchmark, so
    that the generators' and DuckDB's memory stays out of peak_rss_mb and
    ``pserv_spark`` is first imported by the measured process in set-up."""
    import workloads

    prepare = getattr(workloads, f"prepare_{workload}")
    if workload == "catalog":
        from pserv_spark.registry import build_oracles

        oracles = build_oracles()
        inputs = prepare(seed, out, {q: oracles[q] for q in workloads.CATALOG_IDS})
    else:
        inputs = prepare(seed, out)
    done = os.path.join(out, "inputs.pkl")
    with open(done + ".tmp", "wb") as f:
        pickle.dump(inputs, f)
    os.replace(done + ".tmp", done)


def make_inputs_in_child(workload: str, seed: int, run_dir: str) -> dict:
    """Inputs and expected outputs for (workload, seed), made anew by
    :func:`make_inputs` in a child process and loaded here."""
    out = os.path.join(run_dir, "inputs")
    os.makedirs(out)
    code = "import sys, run; run.make_inputs(sys.argv[1], int(sys.argv[2]), sys.argv[3])"
    subprocess.run(
        [sys.executable, "-c", code, workload, str(seed), out],
        cwd=HERE,
        timeout=170,
        check=True,
    )
    with open(os.path.join(out, "inputs.pkl"), "rb") as f:
        return pickle.load(f)  # written by this benchmark, above


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_ops(wl, ctx, items, op0: int):
    """One pass over ``items``; yields (op id, item, latency, problem)."""
    for k, item in enumerate(items):
        op = op0 + k
        with ctx.tracer.span("op", op):
            try:
                latency, result = wl.operation(ctx, op, item)
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                log(f"operation {op} failed:\n{traceback.format_exc()}")
                yield op, item, None, None
                continue
            with ctx.tracer.span("check", op):
                problem = wl.check(item, result)
        yield op, item, latency, problem


def main() -> int:
    import probe

    boot_start = probe.process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["catalog", "dedup", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pserv_spark", "__init__.py")):
        log(f"no pserv_spark package beside {HERE}: nothing to benchmark")
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(run_dir, cpus)
    try:
        return measure(args, cpus, run_dir, boot_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, cpus: int, run_dir: str, boot_start: float) -> int:
    pre_setup = time.clock_gettime(time.CLOCK_BOOTTIME) - boot_start

    import workloads
    from probe import Tracer, cpu_ticks, descendants, peak_rss_mb, steal_share

    phases = {}
    mark = time.perf_counter()
    inputs = make_inputs_in_child(args.workload, args.seed, run_dir)
    phases["inputs_s"] = time.perf_counter() - mark
    # The expected outputs are large and live for the whole run: keep the
    # collector from re-scanning them between timed operations.
    gc.freeze()
    wl = workloads.WORKLOADS[args.workload](args.seed, inputs)
    load_start = os.getloadavg()

    t0 = time.perf_counter()
    tracer = Tracer(bool(args.trace), t0)
    with tracer.span("setup"):
        with tracer.span("session.start"):
            from pserv_spark.session import get_session

            spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup(spark, tracer)
    mark = time.perf_counter()
    setup_s = pre_setup + (mark - t0)

    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        ctx = workloads.Context(spark, tracer, run_dir)
        problems: list[str] = []

        tracer.enabled = False
        for _op, _item, _lat, problem in run_ops(wl, ctx, wl.warmup, -len(wl.warmup)):
            if problem:
                problems.append(f"warm-up: {problem}")
        tracer.enabled = bool(args.trace)
        phases["warmup_s"] = time.perf_counter() - mark

        latencies: list[float] = []
        items = 0
        attempted = failed = 0
        ticks = cpu_ticks()
        start = time.perf_counter()
        while True:
            for _op, item, lat, problem in run_ops(wl, ctx, wl.items, attempted):
                attempted += 1
                if lat is None:
                    failed += 1
                    continue
                latencies.append(lat)
                items += wl.size(item)
                if problem:
                    problems.append(problem)
            if time.perf_counter() - start >= args.seconds:
                break
        measured_s = time.perf_counter() - start
        steal = steal_share(ticks, cpu_ticks())
        workers = descendants(jvm_pid)
        rss_parts = {
            "driver": peak_rss_mb([os.getpid()]),
            "jvm": peak_rss_mb([jvm_pid]),
            "workers": peak_rss_mb(workers),
            "n_workers": len(workers),
        }
        rss = rss_parts["driver"] + rss_parts["jvm"] + rss_parts["workers"]
    finally:
        mark = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - mark
    if not latencies:
        log("every operation failed")
        return 1

    if args.trace:
        metrics = {}
        for name, (unit, kind) in PER_LAYER.items():
            base = name.rsplit("_", 1)[0] if name.endswith("_s") else name
            if kind == "memory":
                value = rss_parts[name.split(".")[1].removesuffix("_rss_mb")]
            elif kind == "setup":
                value = tracer.total(base)
            else:
                value = tracer.per_op(base if kind == "span" else name, len(latencies))
            metrics[name] = {"value": value, "unit": unit}
    else:
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "items_per_s": items / sum(latencies),
            "op_p50_s": statistics.median(latencies),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    for p in problems:
        log(f"INCORRECT: {p}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "measured_s": measured_s,
        "steal_share": steal,
        "phases": phases,
        "peak_rss_mb_by_process": rss_parts,
        "latencies_s": latencies,
        "problems": problems,
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    if args.trace:
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}-{stamp}.json"),
            record,
        )
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({**record, **result}) + "\n")
    print(json.dumps({k: record[k] for k in ("workload", "seed", "cpus", "loadavg_start", "loadavg_end")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
