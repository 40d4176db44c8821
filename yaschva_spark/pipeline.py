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

Commit rule, shared with the streaming sink (:mod:`yaschva_spark.commit`):
each run writes its violations once, by overwrite; its manifest is
published after them; readers trust only the runs the manifest names.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yaschva_spark import checks, commit
from yaschva_spark.engine import validate_table
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


def pending_buckets(spark: SparkSession, out_dir: str, n_buckets: int):
    """Buckets not yet recorded in the manifest (checkpoint resume), and
    the committed manifest rows, from one read. An unreadable manifest
    raises: treating it as empty would reprocess every bucket."""
    prior = commit.read_manifest(spark, out_dir)
    return sorted(set(range(n_buckets)) - {r["bucket"] for r in prior}), prior


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

    Outputs under ``out_dir``, one ``run=<id>/`` directory per run in each:
      * ``violations/`` — exploded violation rows (with their ``bucket``),
        read by :func:`yaschva_spark.commit.read_violations`
      * ``manifest/``   — one row per bucket: lineage + metrics

    Commit rule (:mod:`yaschva_spark.commit`): the run's violations are
    written once, then its manifest is published; readers trust only the
    runs the manifest names, so an interrupted run resumes without
    duplicate or lost violation rows. The totals are summed on the driver
    over the prior manifest rows and this run's.
    """
    t0 = time.monotonic()
    schema = schema or CODE_SCHEMA

    pend, prior = pending_buckets(spark, out_dir, n_buckets)
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

    # 1) violation rows with their bucket for lineage, written as the scan
    # produces them: no shuffle, no per-bucket directories. content_sha (the
    # per-row invariant, input_hint) is computed here on FAILING rows only —
    # the full-table sha pass happens once, in the manifest digest.
    viol = commit.violation_rows(
        validated,
        F.col(BUCKET_COL).alias("bucket"),
        "repo",
        "path",
        "commit",
        F.sha2(F.col("content"), 256).alias("content_sha"),
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
    manifest = commit.manifest_rows(
        with_dim,
        "content",
        F.sum(F.col("__dim_repo").isNull().cast("long")).alias("n_orphans"),
        F.approx_count_distinct("repo").alias("n_repos"),
        by=[F.col(BUCKET_COL).alias("bucket")],
    )

    # All three jobs run CONCURRENTLY (one SparkContext schedules their
    # DAGs at once; stage tails overlap instead of idling executors): the
    # uniqueness collect here, the violations write and the manifest
    # collect inside the commit.
    with ThreadPoolExecutor(max_workers=1) as pool:
        dup = pool.submit(lambda: dup_summary_df.collect()[0])
        rows = prior + commit.commit(
            spark, out_dir, viol, manifest, f"run={time.time_ns()}_{os.getpid()}"
        )
        dup_summary = dup.result()

    cols = ("n_rows", "n_invalid_rows", "n_violations", "n_orphans")
    n = {c: sum(r[c] for r in rows) for c in cols}
    return JobResult(
        n_buckets_processed=len(pend),
        n_rows=n["n_rows"],
        n_invalid_rows=n["n_invalid_rows"],
        n_violations=n["n_violations"],
        n_dup_keys=dup_summary["n_dup_keys"],
        n_orphans=n["n_orphans"],
        wall_sec=time.monotonic() - t0,
    )
