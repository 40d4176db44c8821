"""Mimic the driver's correctness gate: run every queries() entry on Spark
and its oracle_sql() on DuckDB at sf0.01; row counts, column names, and
(order-insensitive) values must match."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(rows, columns):
    """Dtype-strict normalization: floats and ints are kept distinct (tagged
    by kind) so a DuckDB HUGEINT->float64 leak (13623.0 vs Spark's 13623)
    fails HERE, like the driver's value hash, not only in CORRECTNESS_rN."""
    import numpy as np

    out = []
    for row in rows:
        vals = []
        for c in columns:
            v = row[c] if not isinstance(row, tuple) else row[columns.index(c)]
            if v is None:
                # SQL NULL: Spark collects Python None while pandas folds a
                # DuckDB NULL double to NaN — sentinel BOTH to one tag so
                # the two spellings of "missing" compare equal
                vals.append(("nul", None))
            elif isinstance(v, (bool, np.bool_)):
                vals.append(("b", bool(v)))
            elif isinstance(v, (float, np.floating)):
                fv = float(v)
                vals.append(("nul", None) if math.isnan(fv) else ("f", round(fv, 6)))
            elif isinstance(v, (int, np.integer)):
                vals.append(("i", int(v)))
            else:
                vals.append(("o", v))
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _all_queries():
    # the driver certifies queries(); the retired near-duplicate variants in
    # extra_queries() keep their oracle gate HERE, every pytest run
    d = dict(entrymod.queries())
    d.update(entrymod.extra_queries())
    return d


def test_driver_registry_fits_the_artifact_window():
    # the driver's correctness artifact records the FIRST 50 entries; r4
    # shipped 54 and the last four were never re-certified — keep it at 50
    q = entrymod.queries()
    assert len(q) == 50, len(q)
    assert not (set(q) & set(entrymod.extra_queries()))
    # every entry (driver-certified or retired) must ship an oracle
    assert set(_all_queries()) <= set(entrymod.oracle_sql())


@pytest.mark.parametrize("name", sorted(_all_queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    q = _all_queries()[name]
    o = entrymod.oracle_sql().get(name)
    sdf = q(spark, SF_DIR)
    cols = sorted(sdf.columns)
    spark_rows = [r.asDict() for r in sdf.collect()]
    got = _normalize(spark_rows, cols)
    # every query MUST ship an oracle: a missing/typo'd oracle_sql() entry
    # previously fell into a vacuous rows-only branch and green-lit an
    # unvalidated query (intentional rows-only queries would be listed in
    # an explicit allowlist here — there are none)
    assert o is not None, f"{name}: no oracle_sql() entry"
    odf = ddb.sql(o).df()
    assert sorted(odf.columns.tolist()) == cols, (sorted(odf.columns.tolist()), cols)
    exp = _normalize([tuple(rec[c] for c in cols) for rec in odf.to_dict("records")], cols)
    assert len(got) == len(exp), f"{name}: {len(got)} spark rows vs {len(exp)} oracle rows"
    assert got == exp, f"{name}: first diff {next(((a, b) for a, b in zip(got, exp) if a != b), None)}"


def test_bench_stdout_line_fits_driver_window():
    """The driver captures only the last ~2000 chars of bench.py stdout;
    r4's line outgrew it and BENCH_r04.json recorded parsed: null. Build
    the headline bench.py prints with worst-case widths and assert it fits
    with margin — per-rep detail goes to the file."""
    import json

    import bench
    from yaschva_spark.pipeline import JobResult

    timings = {n: 9999.999 for n in entrymod.queries()}
    timings["validation_pipeline"] = 9999.9999
    result = JobResult(
        n_buckets_processed=999, n_rows=999_999_999, n_invalid_rows=999_999_999,
        n_violations=999_999_999, n_dup_keys=999_999_999, n_orphans=999_999_999,
        wall_sec=9999.9999,
    )
    payload = bench.headline(timings, "0.01", 1.2345, [9999.9999] * 5, result, 99.99)
    line = json.dumps(payload, separators=(",", ":"))
    assert len(line) < 1900, len(line)


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "path", "rule", "error", "value"} <= set(df.columns)
