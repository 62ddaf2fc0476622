#!/usr/bin/env python3
"""Compare the generated catalog tables with a fixed test tier.

    python3 perfbench/tier_compare.py <tier_dir> [--seed N]

For every table: row count, then min, max, distinct and NULL count of
each column (for the embedding lists: component min, max, standard
deviation and mean vector norm).  Then the number of near-duplicate
document pairs (character-5-gram Jaccard >= 0.9) and the result-row
count of each catalog query under DuckDB running the registry's oracle
SQL.  Prints a Markdown report; nothing is written into the checkout
except a temporary directory under ``perfbench/.work`` that is removed
at the end.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def column_summary(col: pa.ChunkedArray) -> str:
    if pa.types.is_list(col.type):
        flat = pc.list_flatten(col).to_numpy(zero_copy_only=False).astype(np.float64)
        dim = len(flat) // len(col)
        v = flat.reshape(len(col), dim)
        norm = np.linalg.norm(v, axis=1).mean()
        return (
            f"components {v.min():.3f}..{v.max():.3f}, sd {v.std():.3f}, "
            f"mean norm {norm:.3f}"
        )
    mm = pc.min_max(col)
    return (
        f"{mm['min'].as_py()}..{mm['max'].as_py()}, "
        f"{pc.count_distinct(col).as_py():,} distinct, {col.null_count} NULL"
    )


def near_duplicates(data_dir: str) -> int:
    t = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    texts = t.column("text").to_pylist()
    return len(checks.jaccard_reference(texts, t.column("doc_id").to_numpy()))


def result_rows(data_dir: str, oracle: dict[str, str]) -> dict[str, int]:
    return {q: len(rows) for q, (_cols, rows) in checks.duckdb_results(data_dir, oracle).items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tier_dir")
    ap.add_argument("--seed", type=int, default=31)
    args = ap.parse_args()
    from pserv_spark.registry import build_oracles

    oracles = build_oracles()
    oracle = {q: oracles[q] for q in workloads.CATALOG_IDS}
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tier-compare-", dir=work)
    try:
        gen.catalog_tables(args.seed, tmp)
        print(f"| table.column | tier | generated (seed {args.seed}) |")
        print("|---|---|---|")
        for name in checks.TABLES:
            a = pq.read_table(os.path.join(args.tier_dir, f"{name}.parquet"))
            b = pq.read_table(os.path.join(tmp, f"{name}.parquet"))
            same = a.schema.remove_metadata().equals(b.schema.remove_metadata())
            print(f"| {name} rows | {a.num_rows:,} | {b.num_rows:,} (schema equal: {same}) |")
            for c in a.column_names:
                got = column_summary(b.column(c)) if c in b.column_names else "missing"
                print(f"| {name}.{c} | {column_summary(a.column(c))} | {got} |")
        print(
            f"| documents pairs with J >= 0.9 | {near_duplicates(args.tier_dir)} "
            f"| {near_duplicates(tmp)} |"
        )
        print()
        ra, rb = result_rows(args.tier_dir, oracle), result_rows(tmp, oracle)
        print(f"| query | tier rows | generated rows (seed {args.seed}) |")
        print("|---|---|---|")
        for q in workloads.CATALOG_IDS:
            print(f"| `{q}` | {ra[q]:,} | {rb[q]:,} |")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
