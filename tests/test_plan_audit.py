"""Sweeping physical-plan audit over EVERY driver query: row-at-a-time
Python is banned outright, and Arrow/pandas stages may appear only in the
operators whose kernels are deliberately numpy-batched (vector math,
SimHash bit-voting, the dynamic-path interpreter UDF). Everything else
must plan as pure Catalyst — this pins the engine's core scale contract
("no per-row Python", input_hint) against every future operator edit.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

# operators whose design includes an Arrow-batched kernel (and why):
PANDAS_STAGES_OK = {
    "props_json_validation",   # interpreter UDF over the VARIANT screen
    "nested_json_validation",  # one projection: screen-decided rows reach the UDF as NULL
    "ks_drift_by_lang",        # per-group ECDF kernel (applyInPandas)
    "cosine_topk",             # batched GEMM scoring
    "ann_lsh_topk",            # hyperplane sign-bit GEMM
    "ann_ivf_topk",            # centroid assign/probe GEMM
    "embedding_near_dup",      # per-tile GEMM (applyInPandas)
    "embedding_near_dup_lsh",  # runs the exact tiles at th 0.4
    "embedding_near_dup_lsh_banded",  # genuine banded plan: bucket GEMM + verify
    "semdedup_pairs",          # per-tile GEMM inside each cell (applyInPandas)
    "minhash_near_dup",        # affine-mix signature kernel
    "simhash_pairs",           # bit-voting kernel
    "simhash_fingerprints",    # bit-voting kernel
    "codec_features",          # real header decode must see the bytes (mapInPandas)
    # asset_features is NOT here: the stub path is pure Catalyst (conv/
    # substring arithmetic on the JVM digest); only the real-decode path
    # (use_stub=False — the codec_features roundtrip) carries a mapInPandas
    # stage
}

PYTHON_MARKERS = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
                  "FlatMapCoGroupsInPandas")


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_plan_python_policy(spark, name):
    df = entrymod.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # row-at-a-time Python UDFs: never, anywhere
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF in plan"
    if name not in PANDAS_STAGES_OK:
        for marker in PYTHON_MARKERS:
            assert marker not in plan, (
                f"{name}: unexpected {marker} — this operator is supposed "
                "to be pure Catalyst"
            )
