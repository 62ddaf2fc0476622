"""Negative tests of the benchmark's output checks: each check accepts a
right output and reports a corrupted one as incorrect.

    python3 -m pytest -q perfbench/test_checks.py

No Spark session is started: the right outputs come from DuckDB, the
reference computations and pyarrow, and are then corrupted.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

CATALOG_SAMPLE = ("agg_groupby_q1", "scan_project", "tfidf", "astro_xmatch_best")


# ---------------------------------------------------------------- catalog


@pytest.fixture(scope="module")
def catalog(tmp_path_factory):
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pserv_spark.registry import build_oracles

    data = str(tmp_path_factory.mktemp("tables"))
    gen.catalog_tables(0, data)
    oracles = build_oracles()
    sql = {q: oracles[q] for q in CATALOG_SAMPLE}
    con = duckdb.connect()
    for t in checks.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
        )
    raw = {}
    for qid, q in sql.items():
        cur = con.execute(q)
        raw[qid] = ([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return raw, checks.duckdb_results(data, sql)


def test_catalog_accepts_the_oracle_rows_in_any_order(catalog):
    raw, expected = catalog
    for qid, (cols, rows) in raw.items():
        assert rows, qid
        got = checks.canon(cols[::-1], [r[::-1] for r in reversed(rows)])
        assert checks.compare(got, expected[qid]) is None, qid


def test_catalog_rejects_a_dropped_row(catalog):
    raw, expected = catalog
    cols, rows = raw["scan_project"]
    assert checks.compare(checks.canon(cols, rows[1:]), expected["scan_project"])


def test_catalog_rejects_a_wrong_value(catalog):
    raw, expected = catalog
    cols, rows = raw["agg_groupby_q1"]
    i = next(i for i, v in enumerate(rows[0]) if isinstance(v, float))
    bad = [rows[0][:i] + (rows[0][i] + 0.01,) + rows[0][i + 1 :]] + rows[1:]
    assert checks.compare(checks.canon(cols, bad), expected["agg_groupby_q1"])


def test_catalog_rejects_a_renamed_column(catalog):
    raw, expected = catalog
    cols, rows = raw["tfidf"]
    assert checks.compare(checks.canon(["x"] + cols[1:], rows), expected["tfidf"])


def test_catalog_tolerates_one_grain_of_the_6th_decimal(catalog):
    raw, expected = catalog
    cols, rows = raw["astro_xmatch_best"]
    i = cols.index("sep_deg")
    nudged = [r[:i] + (r[i] + 1e-6,) + r[i + 1 :] for r in rows]
    assert checks.compare(checks.canon(cols, nudged), expected["astro_xmatch_best"]) is None


# ------------------------------------------------------------------ dedup


@pytest.fixture(scope="module")
def corpus():
    table, planted = gen.documents_table(gen._rng(0, "test"), 400, 0.25)
    texts = table.column("text").to_pylist()
    ids = table.column("doc_id").to_numpy()
    ref = checks.jaccard_reference(texts, ids)
    return texts, ids, ref, checks.planted_jaccard(texts, ids, planted)


def test_jaccard_reference_equals_brute_force(corpus):
    texts, ids, ref, _planted = corpus
    sets = [checks.shingles(t) for t in texts]
    brute = {}
    for i in range(len(texts)):
        for j in range(len(texts)):
            if ids[i] < ids[j]:
                inter = len(sets[i] & sets[j])
                union = len(sets[i] | sets[j])
                if 10 * inter >= 9 * union:
                    brute[(int(ids[i]), int(ids[j]))] = checks.round6(inter / union)
    assert ref == brute
    assert len(ref) > 20


def _rows(ref):
    return [(a, b, j) for (a, b), j in ref.items()]


def test_dedup_accepts_the_reference(corpus):
    _texts, _ids, ref, planted = corpus
    assert checks.check_pairs(_rows(ref), ref, planted) is None


def test_dedup_rejects_a_dropped_pair(corpus):
    _texts, _ids, ref, planted = corpus
    assert checks.check_pairs(_rows(ref)[1:], ref, planted)


def test_dedup_rejects_a_shifted_jac(corpus):
    _texts, _ids, ref, planted = corpus
    rows = _rows(ref)
    a, b, j = rows[0]
    assert checks.check_pairs([(a, b, j - 1e-6)] + rows[1:], ref, planted)


def test_dedup_rejects_an_extra_pair(corpus):
    _texts, ids, ref, planted = corpus
    extra = next(
        (int(a), int(b)) for a in ids for b in ids if a < b and (a, b) not in ref
    )
    assert checks.check_pairs(_rows(ref) + [(*extra, 0.95)], ref, planted)


def test_dedup_rejects_a_missing_planted_pair(corpus):
    _texts, _ids, ref, planted = corpus
    key = next(k for k, j in planted.items() if j >= checks.JACCARD_T)
    rows = [r for r in _rows(ref) if (r[0], r[1]) != key]
    assert "planted" in checks.check_pairs(rows, ref, planted)


# ----------------------------------------------------------------- ingest


@pytest.fixture()
def ingest(tmp_path):
    """A right ingest output, written with pyarrow the way the ingest
    path partitions it (``zone=<k>`` directories), and a writer for
    corrupted copies of it."""
    cols = gen.fits_columns(gen._rng(0, "test-fits"), 5000, 0.05, 100)
    data = {k: v.copy() for k, v in cols.items()}
    data["band"] = data["band"].astype(str)
    data["flux"] = cols["counts"] * np.power(
        10.0, -0.4 * cols["zero_point"].astype(np.float64)
    )
    data["zone"] = np.floor((cols["dec"] + 90.0) / checks.ZONE_DEG).astype(int)
    out = tmp_path / "out"

    def write(d):
        for z in np.unique(d["zone"]):
            m = d["zone"] == z
            part = out / f"zone={z}"
            part.mkdir(parents=True, exist_ok=True)
            # from_pandas: NaN counts and flux are written as NULL
            t = {k: pa.array(v[m], from_pandas=True) for k, v in d.items() if k != "zone"}
            pq.write_table(pa.table(t), part / "part-0.parquet")

    return str(out), checks.expected_ingest(cols), write, data


def test_ingest_accepts_the_right_output(ingest):
    out, expected, write, data = ingest
    write(data)
    assert checks.check_ingest(out, expected) is None


def test_ingest_accepts_rows_in_any_order(ingest):
    out, expected, write, data = ingest
    perm = np.random.default_rng(1).permutation(len(data["object_id"]))
    write({k: v[perm] for k, v in data.items()})
    assert checks.check_ingest(out, expected) is None


def test_ingest_rejects_a_dropped_row(ingest):
    out, expected, write, data = ingest
    write({k: v[1:] for k, v in data.items()})
    assert checks.check_ingest(out, expected)


def test_ingest_rejects_a_wrong_flux(ingest):
    out, expected, write, data = ingest
    flux = data["flux"].copy()
    flux[np.flatnonzero(~np.isnan(flux))[0]] *= 1.001
    write({**data, "flux": flux})
    assert "flux" in checks.check_ingest(out, expected)


def test_ingest_rejects_flux_permuted_across_rows(ingest):
    out, expected, write, data = ingest
    flux = data["flux"].copy()
    flux[[0, 1]] = flux[[1, 0]]  # the sum and the NULL count stay right
    write({**data, "flux": flux})
    assert "flux differs" in checks.check_ingest(out, expected)


def test_ingest_rejects_a_lost_null(ingest):
    out, expected, write, data = ingest
    write({**data, "flux": np.where(np.isnan(data["flux"]), 0.0, data["flux"])})
    assert "NULL" in checks.check_ingest(out, expected)


@pytest.mark.parametrize("name", ["ra", "mjd", "zero_point"])
def test_ingest_rejects_a_corrupted_column(ingest, name):
    out, expected, write, data = ingest
    col = data[name].copy()
    col[7] = col[7] + col.dtype.type(0.5)
    write({**data, name: col})
    assert f"{name} differs" in checks.check_ingest(out, expected)


def test_ingest_rejects_a_wrong_band(ingest):
    out, expected, write, data = ingest
    band = data["band"].copy()
    band[3] = "u" if band[3] != "u" else "g"
    write({**data, "band": band})
    assert "band differs" in checks.check_ingest(out, expected)


def test_ingest_rejects_wrong_counts(ingest):
    out, expected, write, data = ingest
    counts = data["counts"].copy()
    counts[np.flatnonzero(~np.isnan(counts))[0]] += 1.0
    write({**data, "counts": counts})
    assert "counts differs" in checks.check_ingest(out, expected)


def test_ingest_rejects_a_row_in_the_wrong_zone(ingest):
    out, expected, write, data = ingest
    zone = data["zone"].copy()
    zone[0] = zone[0] + 1
    write({**data, "zone": zone})
    assert "zone" in checks.check_ingest(out, expected)
