"""Synthetic code table + full validation job: injected violations are found
at their designed rates, skew exists, and the manifest makes the job
checkpoint-resumable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yaschva_spark import checks
from yaschva_spark.engine import PASS_COL, VIOLATIONS_COL, validate_table
from yaschva_spark.fixtures import CODE_SCHEMA, HOT_REPO, code_files, repos_dim, with_content_sha
from yaschva_spark.pipeline import add_bucket, run_validation_job

N = 20_000


@pytest.fixture(scope="module")
def code(spark):
    df = code_files(spark, N, seed=42, partitions=8).persist()
    yield df
    df.unpersist()  # session outlives the module; don't leak cached plans


def test_determinism(spark, code):
    again = code_files(spark, N, seed=42, partitions=4)  # different partitioning
    a = code.agg(F.count(F.lit(1)), F.sum(F.crc32(F.concat_ws("|", "repo", "path", "commit")))).collect()[0]
    b = again.agg(F.count(F.lit(1)), F.sum(F.crc32(F.concat_ws("|", "repo", "path", "commit")))).collect()[0]
    assert tuple(a) == tuple(b)


def test_injected_violation_rates(spark, code):
    n = code.count()
    validated = validate_table(code, CODE_SCHEMA)
    rule_counts = {
        (r["path"], r["rule"]): r["n"]
        for r in validated.select(F.explode(VIOLATIONS_COL).alias("v"))
        .groupBy(F.col("v.path").alias("path"), F.col("v.rule").alias("rule"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # designed rates (FIXTURES.md §3), -60%/+80% tolerance on small samples
    def _close(key, rate):
        got = rule_counts.get(key, 0)
        assert 0.4 * rate * n <= got <= 1.8 * rate * n, (key, got, rate * n)

    _close(("$.commit", "regex_mismatch"), 0.005)
    _close(("$.lang", "enum_mismatch"), 0.003)
    _close(("$.repo", "str_too_short"), 0.002)
    _close(("$.content", "not_string"), 0.001)


def test_skew_hot_repo(code):
    n = code.count()
    hot = code.filter(F.col("repo") == HOT_REPO).count()
    assert 0.15 * n <= hot <= 0.25 * n


def test_duplicates_and_orphans(spark, code):
    dups = checks.duplicate_keys(code, ["repo", "path", "commit"], salt_buckets=4)
    assert dups.count() > 0
    orphans = checks.ri_orphans(code, "repo", repos_dim(spark), "repo")
    n_orph = orphans.count()
    assert 0 < n_orph < 0.01 * code.count()
    # every orphan is a ghost or empty repo (dim covers all legit repos)
    bad = orphans.filter(
        ~F.col("repo").startswith("ghost_org/") & (F.col("repo") != "")
    ).count()
    assert bad == 0


def test_content_sha_invariant(code):
    df = with_content_sha(code)
    row = df.filter(F.col("content").isNotNull()).select("content", "content_sha").first()
    import hashlib

    assert hashlib.sha256(row["content"].encode()).hexdigest() == row["content_sha"]


def test_pipeline_run_and_resume(spark, code, tmp_path):
    repos = repos_dim(spark)
    out1 = str(tmp_path / "full")
    full = run_validation_job(spark, code, repos, out1, n_buckets=8)
    assert full.n_buckets_processed == 8
    assert full.n_rows == code.count()
    assert full.n_violations > 0 and full.n_dup_keys > 0 and full.n_orphans > 0

    # rerun on the same manifest: nothing pending
    again = run_validation_job(spark, code, repos, out1, n_buckets=8)
    assert again.n_buckets_processed == 0

    # simulate a crash after half the buckets: first run only sees rows of
    # buckets 0-3 (manifest records those), second run completes the rest
    out2 = str(tmp_path / "resume")
    part1 = add_bucket(code, 8).filter(F.col("yv_bucket") < 4).drop("yv_bucket")
    r1 = run_validation_job(spark, part1, repos, out2, n_buckets=8)
    assert r1.n_buckets_processed == 8  # attempted all, manifest has 4
    r2 = run_validation_job(spark, code, repos, out2, n_buckets=8)
    assert r2.n_buckets_processed == 4  # only the missing buckets
    assert r2.n_rows == full.n_rows
    assert r2.n_violations == full.n_violations

    # violations sink is partitioned by bucket and readable
    viol = spark.read.parquet(f"{out1}/violations")
    assert viol.filter(F.col("rule") == "regex_mismatch").count() > 0
    manifest = spark.read.parquet(f"{out1}/manifest")
    assert manifest.count() == 8
    assert {"bucket", "n_rows", "n_violations", "content_digest"} <= set(manifest.columns)


def test_violations_sink_partition_pruning(spark, code, tmp_path):
    """The bucket-partitioned violations sink must prune at the reader —
    a bucket filter becomes a PartitionFilter, not a post-scan Filter."""
    repos = repos_dim(spark)
    out = str(tmp_path / "prune")
    run_validation_job(spark, code, repos, out, n_buckets=8)
    viol = spark.read.parquet(f"{out}/violations").filter(F.col("bucket") == 3)
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan[:800]
    assert viol.count() > 0
    # pruned read sees exactly the one bucket
    assert viol.select("bucket").distinct().collect()[0][0] == 3


def test_pending_buckets_missing_or_empty_manifest(spark, tmp_path):
    """No manifest yet, or a directory without part files: every bucket
    is pending."""
    from yaschva_spark.pipeline import pending_buckets

    assert pending_buckets(spark, str(tmp_path / "none"), 4) == [0, 1, 2, 3]
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    assert pending_buckets(spark, str(empty), 4) == [0, 1, 2, 3]


def test_corrupt_manifest_raises(spark, code, tmp_path):
    """An unreadable manifest must not read as "nothing done": that would
    reprocess every bucket and append its violations a second time."""
    manifest = tmp_path / "out" / "manifest"
    manifest.mkdir(parents=True)
    (manifest / "part-00000-corrupt.snappy.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        run_validation_job(spark, code, repos_dim(spark), str(tmp_path / "out"), n_buckets=4)
    assert not (tmp_path / "out" / "violations").exists()
