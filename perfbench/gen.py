"""Seeded inputs for the three workloads.

Everything here depends only on the seed and on numpy/pyarrow, never on
``pserv_spark``: the program under test receives these files and nothing
else.  The same seed always yields byte-identical inputs.

- ``catalog_tables``: the ten driver tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) at the row counts and
  value distributions of the sf0.1 test tier.
- ``dedup_corpora``: ``documents``-schema corpora with a stated size and
  a stated share of planted near-duplicates.
- ``fits_files``: FITS BINTABLE files (forced-source photometry rows),
  written by this module's own writer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 tier.
CATALOG_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = (("en", 0.40), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))

#: (documents, planted share) of each dedup corpus, in pass order.
DEDUP_CORPORA = ((1200, 0.03), (1200, 0.10), (1200, 0.20))
#: Word edits per planted copy in a dedup corpus, drawn uniformly from
#: this tuple: the copies' Jaccard falls on both sides of 0.9.
DEDUP_EDITS = (0, 1, 1, 2, 3, 5)
#: Planted share and edit mix of the catalog's ``documents``, as in the
#: sf0.1 tier: 5% copies, nearly all one word appended or cut at the
#: end, about 4% exact.
TIER_PLANTED = 0.05
TIER_EDITS = (0,) + (1,) * 24

#: (rows, NaN share) of each FITS file; the first is the warm-up file, run
#: once before timing.  It spans four 10,000-row read blocks, so that the
#: warm-up starts as many Python workers as a timed file runs at once.  A
#: warm-up file as large as a timed one took the first timed file from
#: 15-25% slower than the second to level, but added 4 s to every run.
FITS_FILES = ((40_000, 0.01), (100_000, 0.01), (100_000, 0.05))
FITS_BANDS = "ugrizy"
#: FITS columns: (name, TFORM, big-endian numpy dtype).
FITS_COLUMNS = (
    ("object_id", "K", ">i8"),
    ("ra", "D", ">f8"),
    ("dec", "D", ">f8"),
    ("mjd", "D", ">f8"),
    ("band", "1A", "S1"),
    ("counts", "D", ">f8"),
    ("zero_point", "E", ">f4"),
)

def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, table) so that adding a
    table never shifts another table's values."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list:
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def random_text(rng: np.random.Generator, n_words: int) -> list[str]:
    return [WORDS[i] for i in rng.integers(0, len(WORDS), n_words)]


def _write(table: pa.Table, path: str) -> None:
    # One row group per file, like the driver's tiers.
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def documents_table(
    rng: np.random.Generator,
    n_docs: int,
    planted_share: float,
    edits_mix: tuple[int, ...] = DEDUP_EDITS,
    tail: bool = False,
) -> tuple[pa.Table, list[tuple[int, int, int]]]:
    """A ``documents`` table whose last ``planted_share`` of rows are
    edited copies of earlier rows.

    Each copy gets a number of word edits drawn from ``edits_mix``.  An
    edit substitutes, inserts or deletes a word anywhere, or, with
    ``tail``, appends a word or deletes the last one.  Returns the table
    and the planted ``(source_doc, copy_doc, edits)`` triples;
    ``edits == 0`` is an exact duplicate.
    """
    n_planted = int(round(n_docs * planted_share))
    n_base = n_docs - n_planted
    words = [random_text(rng, int(k)) for k in rng.integers(10, 101, n_base)]
    planted = []
    for copy_id in range(n_base, n_docs):
        src = int(rng.integers(0, n_base))
        edits = int(rng.choice(edits_mix))
        w = list(words[src])
        for _ in range(edits):
            if tail:
                if rng.integers(0, 2) == 0 and len(w) > 10:
                    del w[-1]
                else:
                    w.append(WORDS[int(rng.integers(0, len(WORDS)))])
                continue
            pos = int(rng.integers(0, len(w)))
            op = int(rng.integers(0, 3))
            if op == 0:
                w[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
            elif op == 1:
                w.insert(pos, WORDS[int(rng.integers(0, len(WORDS)))])
            elif len(w) > 10:
                del w[pos]
        words.append(w)
        planted.append((src, copy_id, edits))
    order = rng.permutation(n_docs)  # planted copies land anywhere
    ids = np.empty(n_docs, dtype=np.int64)
    ids[order] = np.arange(n_docs)
    texts = [" ".join(words[i]) for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                _pick(rng, [l for l, _ in LANGS], n_docs, [p for _, p in LANGS]),
                pa.string(),
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    planted = [(int(ids[s]), int(ids[c]), e) for s, c, e in planted]
    return table, planted


def catalog_tables(seed: int, out_dir: str) -> None:
    """Write the ten tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    n = CATALOG_ROWS

    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        f"{out_dir}/nation.parquet",
    )

    rng = _rng(seed, "customer")
    k = n["customer"]
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
                "c_mktsegment": pa.array(
                    _pick(
                        rng,
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                        k,
                    ),
                    pa.string(),
                ),
            }
        ),
        f"{out_dir}/customer.parquet",
    )

    rng = _rng(seed, "supplier")
    k = n["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )

    rng = _rng(seed, "part")
    k = n["part"]
    adjectives = ["blue", "cold", "hot", "large", "small", "red", "old", "new"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    keys = np.arange(k, dtype=np.int64)
    _write(
        pa.table(
            {
                "p_partkey": pa.array(keys),
                "p_name": pa.array(_pick(rng, names, k), pa.string()),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, k)], pa.string()
                ),
                "p_type": pa.array(
                    _pick(
                        rng,
                        ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        k,
                    ),
                    pa.string(),
                ),
                "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
            }
        ),
        f"{out_dir}/part.parquet",
    )

    rng = _rng(seed, "orders")
    k = n["orders"]
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n["customer"], k).astype(np.int64)),
                "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], k), pa.string()),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, k)),
                "o_orderdate": pa.array(
                    _days(rng, "1995-01-01", "2001-08-01", k), pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(
                    _pick(
                        rng,
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                        k,
                    ),
                    pa.string(),
                ),
            }
        ),
        f"{out_dir}/orders.parquet",
    )

    rng = _rng(seed, "lineitem")
    k = n["lineitem"]
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], k).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, n["part"], k).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], k).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, k)),
                "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, k), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, k), 2)),
                "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], k), pa.string()),
                "l_linestatus": pa.array(_pick(rng, ["F", "O"], k), pa.string()),
                "l_shipdate": pa.array(
                    _days(rng, "1995-01-02", "2001-11-04", k), pa.timestamp("us")
                ),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )

    rng = _rng(seed, "events")
    k = n["events"]
    gaps = np.maximum(np.round(rng.exponential(25.9e6, k)).astype(np.int64), 1)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(k, dtype=np.int64)),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 1500, k).astype(np.int64)),
                "event_type": pa.array(
                    _pick(rng, ["click", "error", "purchase", "signup", "view"], k),
                    pa.string(),
                ),
                "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
                "props": pa.array(
                    [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)], pa.string()
                ),
            }
        ),
        f"{out_dir}/events.parquet",
    )

    docs, _ = documents_table(
        _rng(seed, "documents"), n["documents"], TIER_PLANTED, TIER_EDITS, tail=True
    )
    _write(docs, f"{out_dir}/documents.parquet")

    rng = _rng(seed, "embeddings")
    k = n["embeddings"]
    vecs = rng.standard_normal((k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(k, dtype=np.int64)),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, k).astype(np.int32)),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )


@dataclass
class Corpus:
    """One dedup operation's input: ``<dir>/documents.parquet``."""

    dir: str
    texts: list[str]
    doc_ids: np.ndarray
    planted: list[tuple[int, int, int]]


def dedup_corpora(seed: int, out_dir: str) -> list[Corpus]:
    out = []
    for i, (n_docs, share) in enumerate(DEDUP_CORPORA):
        table, planted = documents_table(_rng(seed, f"corpus{i}"), n_docs, share)
        d = os.path.join(out_dir, f"corpus{i}")
        os.makedirs(d, exist_ok=True)
        _write(table, f"{d}/documents.parquet")
        out.append(
            Corpus(
                d,
                table.column("text").to_pylist(),
                table.column("doc_id").to_numpy(),
                planted,
            )
        )
    return out


# ------------------------------------------------------------------ FITS

_FITS_BLOCK = 2880


def _cards(cards: list[str]) -> bytes:
    raw = "".join(c.ljust(80)[:80] for c in cards).encode("ascii")
    return raw + b" " * ((-len(raw)) % _FITS_BLOCK)


def write_fits(path: str, columns: dict[str, np.ndarray]) -> None:
    """Write one BINTABLE HDU after a dataless primary HDU (FITS
    Standard 4.0, §4 and §7.3) with the :data:`FITS_COLUMNS` layout."""
    dtype = np.dtype([(name, dt) for name, _code, dt in FITS_COLUMNS])
    nrows = len(columns["object_id"])
    rows = np.empty(nrows, dtype=dtype)
    for name, _code, _dt in FITS_COLUMNS:
        rows[name] = columns[name]
    primary = _cards(
        [
            f"{'SIMPLE':<8}= {'T':>20}",
            f"{'BITPIX':<8}= {8:>20}",
            f"{'NAXIS':<8}= {0:>20}",
            "END",
        ]
    )
    cards = [
        f"{'XTENSION':<8}= 'BINTABLE'",
        f"{'BITPIX':<8}= {8:>20}",
        f"{'NAXIS':<8}= {2:>20}",
        f"{'NAXIS1':<8}= {dtype.itemsize:>20}",
        f"{'NAXIS2':<8}= {nrows:>20}",
        f"{'PCOUNT':<8}= {0:>20}",
        f"{'GCOUNT':<8}= {1:>20}",
        f"{'TFIELDS':<8}= {len(FITS_COLUMNS):>20}",
    ]
    for i, (name, code, _dt) in enumerate(FITS_COLUMNS, start=1):
        cards.append(f"{'TTYPE' + str(i):<8}= '{name:<8}'")
        cards.append(f"{'TFORM' + str(i):<8}= '{code:<8}'")
    cards.append("END")
    data = rows.tobytes()
    with open(path, "wb") as f:
        f.write(primary)
        f.write(_cards(cards))
        f.write(data)
        f.write(b"\x00" * ((-len(data)) % _FITS_BLOCK))


@dataclass
class FitsFile:
    """One ingest operation's input and the arrays it was written from."""

    path: str
    columns: dict[str, np.ndarray]


def fits_columns(
    rng: np.random.Generator, nrows: int, nan_share: float, first_id: int
) -> dict[str, np.ndarray]:
    """Forced-source rows: sky position, epoch, band, raw counts (a
    ``nan_share`` of them NaN) and a per-row photometric zero point."""
    counts = rng.gamma(2.0, 500.0, nrows)
    counts[rng.random(nrows) < nan_share] = np.nan
    return {
        "object_id": np.arange(first_id, first_id + nrows, dtype=np.int64),
        "ra": rng.uniform(0.0, 360.0, nrows),
        # uniform on the sphere, so polar zones hold fewer rows
        "dec": np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, nrows))),
        "mjd": np.round(rng.uniform(60000.0, 61000.0, nrows), 5),
        "band": np.array(list(FITS_BANDS), dtype="S1")[
            rng.integers(0, len(FITS_BANDS), nrows)
        ],
        "counts": counts,
        "zero_point": rng.normal(27.0, 0.3, nrows).astype(np.float32),
    }


def fits_files(seed: int, out_dir: str) -> list[FitsFile]:
    os.makedirs(out_dir, exist_ok=True)
    out = []
    next_id = 0
    for i, (nrows, nan_share) in enumerate(FITS_FILES):
        cols = fits_columns(_rng(seed, f"fits{i}"), nrows, nan_share, next_id)
        next_id += nrows
        path = os.path.join(out_dir, f"visit{i}.fits")
        write_fits(path, cols)
        out.append(FitsFile(path, cols))
    return out
