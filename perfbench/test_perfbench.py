"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

They check that one seed gives byte-identical inputs, that a run reports
exactly the metrics BENCHMARK.json names, that the layer map covers them,
and that the dedup oracle agrees with ``oracle_sql()`` run by DuckDB.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs, run, trace, workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


def test_doc_tables_same_seed_same_bytes(tmp_path):
    a = inputs.doc_tables(tmp_path / "a", 300, 2_000, seed=5)
    b = inputs.doc_tables(tmp_path / "b", 300, 2_000, seed=5)
    c = inputs.doc_tables(tmp_path / "c", 300, 2_000, seed=6)
    assert inputs.digest_files(a) == inputs.digest_files(b)
    assert inputs.digest_files(a) != inputs.digest_files(c)


def test_code_tables_same_seed_same_bytes(tmp_path):
    from perfbench import host

    host.fit_host()
    spark = host.start_session()
    try:
        a = inputs.code_tables(spark, tmp_path / "a", 5_000, seed=5)
        b = inputs.code_tables(spark, tmp_path / "b", 5_000, seed=5)
        c = inputs.code_tables(spark, tmp_path / "c", 5_000, seed=6)
    finally:
        host.stop_session(spark)
    assert inputs.digest_files(a) == inputs.digest_files(b)
    assert inputs.digest_files(a) != inputs.digest_files(c)


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert set(workloads.TRACED_STAGES) <= set(workloads.WORKLOADS)


def _call(kind, seconds):
    return workloads.Call(kind, seconds, None)


def test_end_to_end_names_match():
    got = run.end_to_end_metrics(20.0, [3.0, 3.2, 3.1], 1000)
    assert set(got) == names("end_to_end")
    assert got["rows_per_s"] == pytest.approx(1000 / 3.1)


def test_per_layer_names_match():
    unit = trace.UnitTrace(start=100.0, end=103.0)
    unit.spans.append(trace.Span("engine", 100.0, 100.5, 40))
    unit.phases.append({"analysis": 0.01, "optimization": 0.02, "planning": 0.03})
    store = {"jobs": [], "stages": [], "executions": []}
    calls = [_call(k, 0.5 * i) for i, k in enumerate(run.CALL_KINDS * 4, 1)]
    host = {"nproc": 4, "ram_gb": 15.0}
    context = run.run_context(calls, 12, 0, host, probe_s=1.0)
    assert context["call_tail_s"] == pytest.approx(6.0) and context["call_tail.n"] == 12
    stage = trace.UnitTrace(start=104.0, end=106.0)
    stage.spans.append(trace.Span("dedup.star", 104.0, 105.0, 0))
    got = run.per_layer_metrics(unit, [unit], store, [3.1], [3.0], context, {"dedup.": [stage]})
    assert set(got) == names("per_layer")
    assert got["dedup.star_build_s"] == pytest.approx(1.0) and got["engine.build_s"] == pytest.approx(0.5)
    run.select(SPEC["per_layer"], got)  # every value a number


def test_layer_map_covers_metrics():
    layers = json.loads((ROOT / "perfbench" / "layers.json").read_text())
    mapped = {m for layer in layers["layers"] for m in layer["metrics"]}
    assert mapped == names("per_layer")
    for layer in layers["layers"]:
        assert set(layer["moves"]) <= names("end_to_end") | names("per_layer")
        assert set(layer["workloads"]) <= set(workloads.WORKLOADS)
    assert layers["build_seed"] != layers["held_out_seed"]


def test_jaccard_oracle_matches_duckdb(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entry
    import pyarrow.parquet as pq

    d = inputs.doc_tables(tmp_path, 400, 0, seed=3)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')")
    want = sorted((int(i), int(j)) for i, j, _ in con.sql(entry.oracle_sql()["minhash_near_dup"]).fetchall())
    docs = pq.read_table(d / "documents.parquet").to_pydict()
    got = workloads.jaccard_pairs(docs["doc_id"], docs["text"])
    assert got == want and len(got) > 5
    assert all(c <= int(i) for i, c in workloads.clusters(got).items())
