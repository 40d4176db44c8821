"""Plan-contract tests: the physical properties the engine's scale story
depends on, asserted so a refactor can't silently regress them."""

from __future__ import annotations

from pyspark.sql import functions as F

from yaschva_spark import checks
from yaschva_spark.engine import validate_table
from yaschva_spark.fixtures import CODE_SCHEMA

SF = "/root/testdata/sf0.001"


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_typed_validation_is_pure_catalyst(spark):
    """The typed path must stay whole-stage-codegen-able: no Python eval
    node, no shuffle — validation is a projection."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    schema = {
        "doc_id": "integer",
        "text": {"$string": {"minLength": 1, "maxLength": 500}},
        "lang": {"$enum": ["en", "fr", "es", "zh", "de"]},
        "source": {"$string": {"minLength": 1}},
        "n_chars": {"$number": {"min": 0, "max": 600}},
    }
    p = _physical(validate_table(docs, schema))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Exchange" not in p  # no shuffle: validation is per-row


def test_ri_orphans_broadcasts_dimension(spark):
    fact = spark.read.parquet(f"{SF}/events.parquet")
    dim = spark.read.parquet(f"{SF}/customer.parquet")
    p = _physical(checks.ri_orphans(fact, "user_id", dim, "c_custkey"))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_uniqueness_single_exchange(spark):
    """duplicate_keys is one partial+final hash agg pair: exactly one
    shuffle of the key columns, nothing else."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = _physical(checks.duplicate_keys(li, ["l_orderkey", "l_linenumber"]))
    assert p.count("Exchange") == 1, p


def test_column_stats_prunes_scan(spark):
    """Selecting stats over two columns must not read the whole table."""
    # a prior module's persisted full-table read would plan-match this scan
    # and CacheManager would swap in an InMemoryTableScan (no ReadSchema
    # line at all) — clear it; this test asserts the uncached scan shape
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("lang", "n_chars")
    agg = docs.agg(F.countDistinct("lang"), F.avg("n_chars"))
    p = _physical(agg)
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and "text" not in read[0] and "source" not in read[0], p


def test_validation_pipeline_scan_count(spark):
    """The flagship validated projection feeds the manifest agg without a
    Python stage; content digest stays JVM-side (sha2 + conv + bit_xor)."""
    from yaschva_spark.fixtures import code_files

    code = code_files(spark, 2000, seed=3)
    validated = validate_table(code, CODE_SCHEMA)
    manifest = validated.groupBy().agg(
        F.bit_xor(
            F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 15), 16, 10).cast("long")
        ).alias("digest")
    )
    p = _physical(manifest)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hash_split_is_pure_projection(spark):
    from yaschva_spark.ops.split import hash_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _physical(hash_split(docs, "doc_id"))
    assert "Exchange" not in p and "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_apply_dedup_broadcasts_droplist(spark):
    from yaschva_spark.ops.dedup import apply_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clusters = spark.createDataFrame([(5, 1), (1, 1), (9, 9)], "id long, cluster long")
    p = _physical(apply_dedup(docs, clusters, "doc_id"))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_numeric_profile_single_exchange_no_python(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _physical(checks.numeric_profile(docs, "lang", "n_chars"))
    assert p.count("Exchange") == 1, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_semdedup_single_shuffle(spark):
    from yaschva_spark.ops.similarity import semdedup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [[0.0] * 63 + [1.0], [1.0] + [0.0] * 63]
    p = _physical(semdedup_pairs(emb, centroids=cents))
    # one hash partition by cluster feeds the per-cell GEMM; no
    # candidate-pair join exists anywhere in the plan
    assert p.count("Exchange") == 1, p
    assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" not in p


def test_contamination_hash_mode_exchanges_long_keys(spark):
    """by_hash=True must carry 8-byte xxhash64 keys through the
    distinct-agg and membership join — never the n-token shingle strings
    (the dominant exchange of this operator at corpus scale)."""
    from yaschva_spark.ops.dedup import ngram_contamination

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    train = docs.filter(F.col("doc_id") >= 25)
    ev = docs.filter(F.col("doc_id") < 25)
    import re

    out = ngram_contamination(train, ev, "doc_id", "text", n=3, by_hash=True)
    assert dict(out.select("*").drop("id").dtypes).get("sh") is None  # sh not in output
    assert "xxhash64" in out._jdf.queryExecution().analyzed().toString()
    # every exchange partitioning on sh carries a LONG column (plan strings
    # suffix long attrs with L: sh#123L); a string key would lack the suffix
    def _sh_exchanges(plan: str) -> list[str]:
        return re.findall(r"Exchange hashpartitioning\(sh#\d+(L?)[,)]", plan)

    keys = _sh_exchanges(_physical(out))
    assert keys and all(k == "L" for k in keys), keys
    # the text-keyed form exchanges strings — the shape by_hash avoids
    p_txt = _physical(ngram_contamination(train, ev, "doc_id", "text", n=3, by_hash=False))
    keys_txt = _sh_exchanges(p_txt)
    assert keys_txt and all(k == "" for k in keys_txt), keys_txt


def test_cosine_topk_window_sees_only_local_topk(spark):
    """The global window must rank the kernel's parts x queries x k rows,
    not corpus x queries scored rows: the per-partition top-k runs inside
    the GEMM kernel and no join exists anywhere in the plan."""
    from yaschva_spark.ops.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    p = _physical(cosine_topk(emb, queries, k=3))
    assert "MapInPandas" in p
    assert "Join" not in p, p


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """write_bucketed's co-location contract: two tables bucketed by the
    same key into the same bucket count must SortMergeJoin with ZERO
    Exchange (the bucketed scan provides the hashpartitioning) and, since
    they're sortBy'd, zero per-task Sort."""
    from yaschva_spark.io import write_bucketed

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    left = docs.select("doc_id", "lang")
    right = docs.select("doc_id", "n_chars")
    for name, df in (("bkt_left", left), ("bkt_right", right)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed(df, name, ("doc_id",), 4, path=str(tmp_path / name))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "doc_id")
        p = _physical(joined)
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, p
        assert joined.count() == docs.count()
        # the un-bucketed control DOES exchange — the contract is doing work
        ctrl = _physical(left.join(right, "doc_id"))
        assert "Exchange" in ctrl, ctrl
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for name in ("bkt_left", "bkt_right"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_write_validates(spark, tmp_path):
    import pytest

    from yaschva_spark.io import write_bucketed

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError):
        write_bucketed(docs, "t", ("doc_id",), 0)
    with pytest.raises(ValueError):
        write_bucketed(docs, "t", (), 4)


def test_staged_screen_keeps_projection_boundaries(spark):
    """The staged screen's win depends on Catalyst NOT collapsing the
    chained level-projections back into one tree (CollapseProject keeps a
    boundary when aliases are non-cheap and multiply referenced —
    SPARK-36718). If a Spark upgrade changes that heuristic, every staged
    column re-inlines into all its consumers and the fail side re-explodes
    to its measured ~4x cost — catch it here, not in a bench mystery."""
    import __spark_entry__ as e
    from yaschva_spark.jsonscreen import compile_screens, select_levels

    spark.catalog.clearCache()  # plan-shape test: no InMemoryTableScan swap
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    js = F.concat(
        F.lit('{"meta": {"lang": "'), F.col("lang"),
        F.lit('", "n": '), F.col("n_chars").cast("string"),
        F.lit('}, "ids": ['), F.col("doc_id").cast("string"), F.lit("]}"),
    )
    src = docs.select("doc_id", js.alias("js"))
    levels, sc = compile_screens(e.NESTED_JSON_SCHEMA, F.col("js"))
    assert sum(1 for lvl in levels if lvl) >= 3  # parse, extractions, leaf derivations
    out = select_levels(src, levels).select(
        "doc_id", sc["pass"].alias("p"), sc["emit"].alias("m"),
        sc["out"].alias("o"),
        sc["viols"].alias("v"),
    ).filter("p or m")
    plan = _physical(out)
    # every non-empty level must survive as its own Project boundary: the
    # staged alias names appear as OUTPUTS of inner projections, and the
    # root parse expression appears exactly once
    n_projects = plan.count("Project")
    assert n_projects >= sum(1 for lvl in levels if lvl), plan[:2000]
    assert "__yv_s0_" in plan  # the staged parse column is materialized
