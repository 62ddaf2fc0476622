#!/usr/bin/env python
"""Exhaustive audit of driver-side materialization sites.

Every ``.collect()`` / ``.toPandas()`` / ``.toLocalIterator()`` in
``pserv_spark/`` pulls rows onto the driver — at 100 TB an unbounded
one is an OOM or a serialization stall, and (worse) it usually means
the surrounding operator isn't actually distributed.  This script
AST-scans the package and fails on any site that is not on the
per-``file:function`` allowlist below, each entry carrying the reason
the site is driver-safe at ANY corpus scale.  (``first()/head()/take()``
are excluded: 1-row/k-row bounded by their own signature.)

Run:  python scripts/audit_driver_collects.py
Writes COLLECT_AUDIT.json (committed) and exits 1 on unlisted sites —
so a future unbounded collect has to be justified here, in review,
with a written reason.
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pserv_spark"

#: Driver-materialization methods that need a boundedness justification.
ACTIONS = {"collect", "toPandas", "toLocalIterator"}

#: file:function -> (expected site count, why every row set collected
#: there is bounded regardless of corpus scale).  The count pins the
#: audit per SITE, not per function: a NEW unbounded .collect() added
#: inside an already-allowlisted function fails the audit (count grew)
#: instead of inheriting the old site's justification silently
#: (ADVICE r5).
ALLOWED: dict[str, tuple[int, str]] = {
    # --- test / diagnostic surfaces (never on a production data path) ---
    "testing.py:compare_df_to_duckdb": (1, "the oracle comparator itself; sf0.01 test tiers only"),
    "testing.py:compare_frames": (2, "the oracle comparator itself; sf0.01 test tiers only"),
    "plans/inspect.py:final_plan": (1, "EXPLAIN diagnostic: executes to read the AQE-final plan"),
    # --- reference-surface API contract ---
    "api.py:apply": (
        1,
        "DbConnection.apply(query, cursorFunc) parity: the REFERENCE's "
        "contract hands the cursor's rows to user code; callers choose "
        "bounded queries, as they do on the reference",
    ),
    # --- 1-row / k-row scalar bounds and iteration state ---
    "operators/extras.py:merge_scd2_apply": (1, "1-row (min+max)/2 timestamp midpoint"),
    "operators/pipeline_ops.py:layout_snapshot_timetravel": (1, "1-row snapshot boundary"),
    "operators/pipeline_ops.py:layout_partition_evolution": (1, "1-row (lo, hi) day bounds"),
    "operators/pipeline_ops.py:layout_vacuum_orphans": (1, "1-row (lo, hi) day bounds"),
    "operators/rollup.py:serve_lambda_union": (1, "1-row hi-day boundary"),
    "streaming/jobs.py:stream_late_drop_audit": (1, "1-row (lo, hi) day bounds"),
    # cluster_kmeans_lloyd: 0 sites since round 10 — the Lloyd loop is
    # composed lazily (VERDICT r9 #7); its former init + per-step
    # centroid collects are gone, so it needs no allowlist entry.
    "operators/dedup.py:dedup_lsh_eval": (
        1,
        "1-row aggregate (n_truth/n_cand/n_hits counts) — r9 fused the "
        "former three count() actions into one job",
    ),
    "operators/iterative.py:sample_coreset_kcenter": (2, "1 seed row + k-center picks"),
    # --- metadata-sized driver state (partition lists, manifests, dicts) ---
    "streaming/jobs.py:apply_batch": (1, "distinct touched-bucket ids (<= _BUCKETS)"),
    "operators/lifecycle_ops.py:purge_store": (1, "distinct erased-user bucket ids (<= _BUCKETS)"),
    "operators/pipeline_ops.py:layout_zonemap_prune": (1, "per-FILE min/max stats: file-count-sized manifest"),
    "operators/pipeline_ops.py:layout_bloom_file_skip": (1, "per-FILE bloom bitsets: file-count-sized manifest"),
    "operators/tokenize_ops.py:_train_cached": (1, "the BPE dictionary (VOCAB=150 words)"),
    # --- fixture builders (test-tier inputs written once to disk) ---
    "operators/ingest_ops.py:_fitslike_fixture": (1, "FITS fixture writer: constant filtered subset"),
    "operators/ingest_ops.py:ingest_badrows_quarantine": (1, "DLQ CSV fixture: o_orderkey < 400 subset"),
    "operators/ingest_ops.py:source_fitslike_varlen": (1, "varlen FITS fixture: user_id < 200 purchase subset"),
}


def scan() -> list[dict]:
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        funcs = [
            (n.lineno, n.end_lineno or n.lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ACTIONS
            ):
                continue
            line = node.lineno
            enclosing = [name for a, b, name in funcs if a <= line <= b]
            fn = enclosing[-1] if enclosing else "<module>"
            rel = str(path.relative_to(PKG))
            sites.append({"site": f"{rel}:{fn}", "line": line})
    return sites


def main() -> int:
    sites = scan()
    report, violations = {}, 0
    counts: dict[str, int] = {}
    for s in sites:
        counts[s["site"]] = counts.get(s["site"], 0) + 1
        entry = ALLOWED.get(s["site"])
        key = f"{s['site']}:{s['line']}"
        if entry is None:
            report[key] = "VIOLATION: undocumented driver-side materialization"
            violations += 1
        else:
            report[key] = f"allowed: {entry[1]}"
    # Per-function site-count pins: a new collect inside an allowlisted
    # function must be re-justified here, not inherited.
    grown = {
        site: f"VIOLATION: {n} sites, {ALLOWED[site][0]} allowed"
        for site, n in counts.items()
        if site in ALLOWED and n != ALLOWED[site][0]
    }
    violations += len(grown)
    report.update(grown)
    stale = sorted(set(ALLOWED) - set(counts))
    out = {"violations": violations, "n_sites": len(sites), "stale_allowlist": stale, "sites": report}
    (REPO / "COLLECT_AUDIT.json").write_text(json.dumps(out, indent=1, sort_keys=True))
    print(json.dumps(out, indent=1, sort_keys=True))
    return 1 if violations or stale else 0


if __name__ == "__main__":
    sys.exit(main())
