"""The full validation job: checkpoint-resumable, manifest-tracked.

North-rule shape (BASELINE.json): validate the code table, compute the
table-level checks, write violations + a per-partition manifest with lineage
and metrics; re-running after an interruption processes only the partitions
the manifest doesn't cover yet (anti-join), so a 10^12-row run resumes
instead of restarting.

Partitioning model: rows are bucketed by ``xxhash64(repo, path) % n_buckets``
— the stand-in for Iceberg partition ids in this sandbox. Bucketing by a
hash of (repo, path) rather than repo alone keeps the hot repo spread across
buckets (skew containment at the *unit-of-work* level), while the uniqueness
aggregation absorbs within-key skew by map-side partial counts
(checks.duplicate_keys).

One Spark job processes all pending buckets together (full parallelism);
"per-partition" applies to restartability and metrics granularity, not to
scheduling.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yaschva_spark import checks
from yaschva_spark.engine import PASS_COL, VIOLATIONS_COL, validate_table
from yaschva_spark.fixtures import CODE_SCHEMA

BUCKET_COL = "yv_bucket"


@dataclass
class JobResult:
    n_buckets_processed: int
    n_rows: int
    n_invalid_rows: int
    n_violations: int
    n_dup_keys: int
    n_orphans: int
    wall_sec: float


def add_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.abs(F.xxhash64("repo", "path")), F.lit(n_buckets)).cast("int")
    )


def pending_buckets(spark: SparkSession, manifest_path: str, n_buckets: int) -> list[int]:
    """Buckets not yet recorded in the manifest (checkpoint resume). A
    missing manifest, or a directory without part files (which
    ``_hadoop_publish``'s mkdirs can leave behind), means no bucket is
    done; any other read error propagates — treating an unreadable
    manifest as empty would reprocess every bucket and duplicate its
    violations."""
    fs, jpath, _ = _hadoop_fs(spark, manifest_path)
    if not fs.exists(jpath) or not any(
        st.getPath().getName().startswith("part-") for st in fs.listStatus(jpath)
    ):
        return list(range(n_buckets))
    done = {r[0] for r in spark.read.parquet(manifest_path).select("bucket").distinct().collect()}
    return sorted(set(range(n_buckets)) - done)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _hadoop_publish(spark: SparkSession, stage_dir: str, dest_dir: str) -> None:
    """Move staged part files into ``dest_dir`` through the Hadoop
    FileSystem API — one code path for file:, hdfs:, and object-store
    schemes (the driver-local os.rename alternative only ever worked for
    local paths)."""
    fs, src, jvm = _hadoop_fs(spark, stage_dir)
    dst = jvm.org.apache.hadoop.fs.Path(dest_dir)
    fs.mkdirs(dst)
    for status in fs.listStatus(src):
        name = status.getPath().getName()
        if name.startswith("part-"):
            fs.rename(status.getPath(), jvm.org.apache.hadoop.fs.Path(dst, name))


def _hadoop_delete(spark: SparkSession, path: str) -> None:
    try:
        fs, jpath, _ = _hadoop_fs(spark, path)
        fs.delete(jpath, True)
    except Exception:  # cleanup must never mask the primary failure
        pass


def run_validation_job(
    spark: SparkSession,
    code_df: DataFrame,
    repos_df: DataFrame,
    out_dir: str,
    *,
    schema: dict | None = None,
    n_buckets: int = 64,
) -> JobResult:
    """Validate + check + sink + manifest, resumable per bucket.

    Outputs under ``out_dir``:
      * ``violations/`` — exploded violation rows, partitioned by bucket
      * ``manifest/``   — one row per processed bucket: lineage + metrics
    """
    t0 = time.monotonic()
    schema = schema or CODE_SCHEMA
    manifest_path = os.path.join(out_dir, "manifest")
    violations_path = os.path.join(out_dir, "violations")

    pend = pending_buckets(spark, manifest_path, n_buckets)
    if not pend:
        return JobResult(0, 0, 0, 0, 0, 0, 0.0)

    df = add_bucket(code_df, n_buckets)
    if len(pend) < n_buckets:
        df = df.filter(F.col(BUCKET_COL).isin(pend))  # partition pruning analog

    # NO persist: validation is a cheap codegen'd projection over the scan,
    # and each downstream action prunes to only the columns it needs at the
    # parquet reader — recomputing beats caching wide content strings by an
    # order of magnitude here, and caching is impossible at 100 TB anyway.
    validated = validate_table(df, schema, ignore_columns=(BUCKET_COL,))

    # 1) violation sink (partitioned by bucket for pruning + lineage);
    # repartition on the bucket first so each bucket writes one file instead
    # of one file per task per bucket. content_sha (the per-row invariant,
    # input_hint) is computed here on FAILING rows only — the full-table sha
    # pass happens once, in the manifest digest below.
    # no explicit ~pass filter: the non-outer explode drops passing rows
    # (empty violations array) and avoids re-evaluating the violations
    # expression inside an extra Filter node
    viol = validated.select(
        F.col(BUCKET_COL).alias("bucket"),
        "repo",
        "path",
        "commit",
        F.sha2(F.col("content"), 256).alias("content_sha"),
        F.explode(VIOLATIONS_COL).alias("v"),
    ).select("bucket", "repo", "path", "commit", "content_sha", "v.path", "v.rule", "v.error", "v.value")
    viol = viol.toDF(
        "bucket", "repo", "path", "commit", "content_sha",
        "field_path", "rule", "error", "value",
    )

    # 2) uniqueness on (repo, path, commit): fingerprint-shuffle hash agg —
    # the triple is near-unique, so the groupBy shuffle carries ~every row;
    # shuffling the 128-bit key fingerprint instead of three strings cuts
    # the job's largest exchange ~5x in bytes. The fingerprint pair is
    # front-seeded with per-column null flags (checks._key_fingerprint),
    # so the two hashes are independent and NULL-position swaps can't
    # collide: P(any collision) ~ n^2/2^129 ~ 1.5e-15 even at 10^12 keys —
    # below hardware bit-flip rates, so the summary counts are exact in
    # every physically observable sense. When key VALUES are needed (the
    # violation report), checks.duplicate_keys_via_fingerprint adds the
    # broadcast rejoin that re-counts by the real keys (collision-proof,
    # one extra scan) — that cost belongs on the reporting query, not on
    # every pipeline run. Spark's partial agg already collapses hot keys
    # map-side, so no salting is needed for counting.
    dup_summary_df = checks.duplicate_key_fingerprints(
        validated.select("repo", "path", "commit"), ["repo", "path", "commit"]
    ).agg(
        F.count(F.lit(1)).alias("n_dup_keys"),
        F.coalesce(F.sum("dup_count"), F.lit(0)).alias("n_dup_rows"),
    )

    # 3+4) per-bucket manifest: lineage + metrics + referential integrity in
    # ONE hash aggregation. The repo-dimension check rides along as a
    # broadcast left join (a map-side hash probe — no extra scan, no extra
    # job, and the manifest gains per-bucket orphan counts for lineage).
    dim_keys = F.broadcast(
        repos_df.select(F.col("repo").alias("__dim_repo")).dropDuplicates(["__dim_repo"])
    )
    with_dim = validated.join(
        dim_keys, validated["repo"] == F.col("__dim_repo"), "left"
    )
    manifest = (
        with_dim.groupBy(F.col(BUCKET_COL).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col(PASS_COL)).cast("long")).alias("n_invalid_rows"),
            F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
            F.sum(F.col("__dim_repo").isNull().cast("long")).alias("n_orphans"),
            F.approx_count_distinct("repo").alias("n_repos"),
            # content-integrity lineage: order-insensitive xor digest of the
            # per-row sha256 invariant (first 15 hex chars as a long) —
            # bucket digests are comparable run-to-run regardless of task
            # ordering, so a resume or a re-run can prove content equality
            F.bit_xor(
                F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 15), 16, 10).cast("long")
            ).alias("content_digest"),
            F.current_timestamp().alias("processed_at"),
        )
    )

    # All three actions run CONCURRENTLY (one SparkContext schedules the
    # three job DAGs at once; stage tails overlap instead of idling
    # executors) — with one durability constraint: the manifest is the
    # resume marker, so a bucket must never be VISIBLE in the manifest
    # before its violations are durable. The manifest job therefore writes
    # to a staging directory (full overlap with the violations write) and
    # its part files are PUBLISHED into manifest_path only after the
    # violations future resolves — via the Hadoop FileSystem API, so the
    # same code path covers file:, hdfs:, s3a:, ... (rename is atomic-cheap
    # on local/HDFS; object-store connectors implement it as copy — still
    # correct, just not free). Crash windows: before publish -> no manifest
    # rows, buckets reprocess (violations may append duplicate rows on
    # resume — the documented sink caveat); after publish -> fully
    # consistent. A failed violations write aborts publish and the finally
    # clause removes the staged files, so no half-run ever becomes visible.
    stage_dir = os.path.join(out_dir, f"_manifest_stage_{os.getpid()}_{int(time.monotonic() * 1e6)}")
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = {
            "viol": pool.submit(
                lambda: viol.repartition("bucket")
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(violations_path)
            ),
            "dup": pool.submit(lambda: dup_summary_df.collect()[0]),
            "manifest": pool.submit(lambda: manifest.write.mode("overwrite").parquet(stage_dir)),
        }
        try:
            futs["manifest"].result()
            futs["viol"].result()  # durability barrier: violations first
            _hadoop_publish(spark, stage_dir, manifest_path)
            dup_summary = futs["dup"].result()
        finally:
            _hadoop_delete(spark, stage_dir)  # no-op after a clean publish

    # mergeSchema: a resumed out_dir may hold manifest files written before a
    # column existed (e.g. n_orphans); without it Spark infers the schema from
    # ONE footer, so the sum either throws UNRESOLVED_COLUMN or silently drops
    # files. Coalesce keeps totals correct when old files read NULL.
    mread = spark.read.option("mergeSchema", "true").parquet(manifest_path)
    if "n_orphans" not in mread.columns:  # every file predates the column
        mread = mread.withColumn("n_orphans", F.lit(0).cast("long"))
    totals = mread.agg(
        F.sum("n_rows").alias("r"),
        F.sum("n_invalid_rows").alias("i"),
        F.sum("n_violations").alias("v"),
        F.coalesce(F.sum("n_orphans"), F.lit(0)).alias("o"),
        F.count(F.lit(1)).alias("b"),
    ).collect()[0]
    return JobResult(
        n_buckets_processed=len(pend),
        n_rows=totals["r"],
        n_invalid_rows=totals["i"],
        n_violations=totals["v"],
        n_dup_keys=dup_summary["n_dup_keys"],
        n_orphans=totals["o"],
        wall_sec=time.monotonic() - t0,
    )
