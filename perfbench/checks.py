"""Output checks that do not depend on the program under test.

Each check returns ``None`` when the output is right, else a one-line
reason.  None of them imports ``pserv_spark``:

- catalog: an order-insensitive comparison against DuckDB running the
  oracle SQL on the same files, through this module's own canonicaliser;
- dedup: the exact all-pairs character-5-gram Jaccard, computed with
  numpy from the generated texts;
- ingest: the written Parquet read back with pyarrow and compared with
  the arrays the FITS file was generated from.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import numpy as np

#: Two numbers are the same cell when they differ by at most one unit of
#: the 6th decimal (the rounding grain of the oracle SQL; the two engines
#: may round a knife-edge value to neighbouring grains) or by a relative
#: 1e-9 (summation order of unrounded aggregates).
ABS_TOL = 1.01e-6
REL_TOL = 1e-9

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _cell(v):
    """A sortable canonical form of one result cell."""
    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, float(v))
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return (2, 0.0) if math.isnan(f) else (1, f + 0.0)
    if isinstance(v, dt.datetime):
        return (3, v.replace(tzinfo=None).isoformat(sep=" "))
    if isinstance(v, dt.date):
        return (3, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (4, tuple(_cell(x) for x in v))
    return (3, str(v))


def canon(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, cells canonicalised."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(_cell(row[i]) for i in order) for row in rows)
    return [columns[i] for i in order], out


def _cells_match(a, b) -> bool:
    if a[0] != b[0]:
        return False
    if a[0] == 1:
        return abs(a[1] - b[1]) <= ABS_TOL + REL_TOL * max(abs(a[1]), abs(b[1]))
    if a[0] == 4:
        return len(a[1]) == len(b[1]) and all(
            _cells_match(x, y) for x, y in zip(a[1], b[1])
        )
    return a == b


def compare(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]):
    """``None`` when two canonical results are the same multiset of rows."""
    gcols, grows = got
    wcols, wrows = want
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if len(g) != len(w) or not all(_cells_match(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g!r} != {w!r}"
    return None


def duckdb_results(data_dir: str, oracle_sql: dict[str, str]) -> dict:
    """Canonical DuckDB result of every query, over ``data_dir``'s tables."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for qid, sql in oracle_sql.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[qid] = canon(cols, cur.fetchall())
        return out
    finally:
        con.close()


# ----------------------------------------------------------------- dedup

JACCARD_T = 0.9
SHINGLE = 5


def shingles(text: str) -> set[str]:
    """Distinct character 5-grams; a shorter text is its own shingle."""
    return {text[i : i + SHINGLE] for i in range(max(len(text) - SHINGLE + 1, 1))}


def round6(x: float) -> float:
    """ROUND(x, 6) as Spark does it: HALF_UP on the shortest decimal
    representation of the double."""
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def jaccard_reference(texts: list[str], doc_ids) -> dict[tuple[int, int], float]:
    """Every pair ``d1 < d2`` with character-5-gram Jaccard >= 0.9, with
    its 6-dp value.

    Intersections of all pairs come from one 0/1 matrix product (float32
    holds the counts exactly: they are below 2^24).  Only pairs inside the
    size band ``0.9·|A| <= |B| <= |A|/0.9`` are kept; that band is implied
    by J >= 0.9, so it drops no pair.
    """
    sets = [shingles(t) for t in texts]
    vocab: dict[str, int] = {}
    for s in sets:
        for x in s:
            vocab.setdefault(x, len(vocab))
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for i, s in enumerate(sets):
        m[i, [vocab[x] for x in s]] = 1.0
    n = np.array([len(s) for s in sets], dtype=np.int64)
    ids = np.asarray(doc_ids, dtype=np.int64)
    out = {}
    for lo in range(0, len(sets), 512):  # row blocks bound the memory
        hi = min(lo + 512, len(sets))
        inter = np.rint(m[lo:hi] @ m.T).astype(np.int64)
        na, nb = n[lo:hi, None], n[None, :]
        union = na + nb - inter
        keep = (
            (ids[lo:hi, None] < ids[None, :])
            & (10 * na >= 9 * nb)
            & (10 * nb >= 9 * na)
            & (10 * inter >= 9 * union)
        )
        for i, j in zip(*np.nonzero(keep)):
            out[(int(ids[lo + i]), int(ids[j]))] = round6(
                float(inter[i, j]) / float(union[i, j])
            )
    return out


def planted_jaccard(texts: list[str], doc_ids, planted: list) -> dict:
    """The Jaccard of each planted ``(source, copy)`` pair, from Python
    sets (a second derivation, independent of the matrix product)."""
    pos = {int(d): i for i, d in enumerate(doc_ids)}
    out = {}
    for src, copy, _edits in planted:
        a, b = shingles(texts[pos[src]]), shingles(texts[pos[copy]])
        out[(min(src, copy), max(src, copy))] = len(a & b) / len(a | b)
    return out


def check_pairs(rows, reference: dict, planted: dict) -> str | None:
    """The operator's ``(d1, d2, jac)`` rows against the reference, plus
    every planted pair whose Jaccard is >= 0.9."""
    got = {}
    for d1, d2, jac in rows:
        if (d1, d2) in got:
            return f"pair ({d1}, {d2}) returned twice"
        got[(d1, d2)] = jac
    for key, j in planted.items():
        if j >= JACCARD_T and key not in got:
            return f"planted pair {key} (J={j:.4f}) missing"
    missing = reference.keys() - got.keys()
    extra = got.keys() - reference.keys()
    if missing or extra:
        return (
            f"{len(missing)} pairs missing (e.g. {sorted(missing)[:3]}), "
            f"{len(extra)} extra (e.g. {sorted(extra)[:3]})"
        )
    for key, want in reference.items():
        if got[key] is None or abs(got[key] - want) > 1e-12:
            return f"jac of {key}: {got[key]!r} != {want!r}"
    return None


# ---------------------------------------------------------------- ingest

#: Height of a declination zone, degrees; zone = floor((dec + 90) / h).
ZONE_DEG = 10.0
FLUX_REL_TOL = 1e-9


#: Columns compared value for value, per object_id, with the generator's.
INGEST_COLUMNS = ("ra", "dec", "mjd", "band", "counts", "zero_point")


def expected_ingest(columns: dict[str, np.ndarray]) -> dict:
    """What the written Parquet must hold, from the generator's arrays,
    ordered by ``object_id``."""
    order = np.argsort(columns["object_id"], kind="stable")
    cols = {name: columns[name][order] for name in ("object_id",) + INGEST_COLUMNS}
    cols["band"] = cols["band"].astype(str)
    cols["zero_point"] = cols["zero_point"].astype(np.float32)
    counts = cols["counts"]
    flux = counts * np.power(10.0, -0.4 * cols["zero_point"].astype(np.float64))
    return {
        "columns": cols,
        "flux": flux,
        "nulls": int(np.isnan(counts).sum()),
        "flux_sum": float(np.nansum(flux)),
        "zone": np.floor((cols["dec"] + 90.0) / ZONE_DEG).astype(np.int64),
    }


def parquet_files(out_dir: str) -> list[str]:
    found = []
    for root, _dirs, files in os.walk(out_dir):
        found += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(found)


def _as_float(col) -> np.ndarray:
    """A nullable float column as float64, NULL as NaN."""
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=np.float64)


def check_ingest(out_dir: str, expected: dict) -> str | None:
    """Read the zone-partitioned Parquet back with pyarrow (not Spark) and
    compare every row, by ``object_id``, with the generator's arrays."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts, zones = [], []
    for path in parquet_files(out_dir):
        part = os.path.basename(os.path.dirname(path))
        if not part.startswith("zone="):
            return f"{path} is outside a zone directory"
        t = pq.read_table(path)
        parts.append(t.select(["object_id", *INGEST_COLUMNS, "flux"]))
        zones.append(np.full(t.num_rows, int(part.split("=", 1)[1])))
    if not parts:
        return "no parquet written"
    t = pa.concat_tables(parts)
    ids = t.column("object_id").to_numpy()
    order = np.argsort(ids, kind="stable")
    want = expected["columns"]
    if not np.array_equal(ids[order], want["object_id"]):
        return f"id set differs: {len(ids)} ids vs {len(want['object_id'])}"
    wrong = np.concatenate(zones)[order] != expected["zone"]
    if wrong.any():
        return f"{int(wrong.sum())} rows are in another zone than their dec's"
    for name in INGEST_COLUMNS:
        col = t.column(name)
        if name == "band":
            got = np.array(col.to_pylist(), dtype=object)[order]
            bad = got != want[name].astype(object)
        else:
            got = _as_float(col)[order]
            w = want[name].astype(np.float64)
            bad = ~((got == w) | (np.isnan(got) & np.isnan(w)))
        if bad.any():
            k = int(np.flatnonzero(bad)[0])
            return (
                f"{name} differs in {int(bad.sum())} rows, e.g. object_id "
                f"{int(want['object_id'][k])}: {got[k]!r} != {want[name][k]!r}"
            )
    flux = _as_float(t.column("flux"))[order]
    nulls = int(np.isnan(flux).sum())
    if nulls != expected["nulls"]:
        return f"{nulls} NULL flux != {expected['nulls']} seeded NaN counts"
    w = expected["flux"]
    bad = ~(
        (np.isnan(flux) & np.isnan(w))
        | (np.abs(flux - w) <= FLUX_REL_TOL * np.abs(w))
    )
    if bad.any():
        k = int(np.flatnonzero(bad)[0])
        return (
            f"flux differs in {int(bad.sum())} rows, e.g. object_id "
            f"{int(want['object_id'][k])}: {flux[k]!r} != {w[k]!r}"
        )
    total = float(np.nansum(flux))
    if abs(total - expected["flux_sum"]) > FLUX_REL_TOL * abs(expected["flux_sum"]):
        return f"flux sum {total!r} != {expected['flux_sum']!r}"
    return None
