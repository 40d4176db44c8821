"""The one commit rule shared by the batch and streaming validation sinks.

A commit unit is a bucket set (``pipeline.run_validation_job``, one unit
per run) or a micro-batch (``streaming.incremental_validation_sink``):

* violations are durable per key, by overwrite: rows land with a dynamic
  partition overwrite keyed by the unit column (``bucket`` / ``batch_id``),
  so a resumed or replayed unit REPLACES its partitions instead of adding
  a second copy;
* the manifest is published after them: its aggregation is written to a
  stage directory concurrently with the violations, and moved to
  ``manifest/<unit>/`` by ONE directory rename only once the violations
  write has returned;
* readers trust only the units the manifest names.

Crash windows: before the rename the unit is absent from the manifest and
is redone (its violation partitions are overwritten); after it the unit is
complete. The filesystem work goes through the Hadoop FileSystem API, so
one code path covers file:, hdfs: and object stores (where rename is a
copy: still correct, not free).
"""

from __future__ import annotations

import io
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from yaschva_spark.engine import PASS_COL, VIOLATIONS_COL


def hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def has_data(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds any entry a parquet reader would read — one
    directory listing; ``_``/``.``-prefixed names (``_SUCCESS``, staging
    dirs) are ignored, as Spark ignores them."""
    fs, jpath, _ = hadoop_fs(spark, path)
    return fs.exists(jpath) and any(
        not st.getPath().getName().startswith(("_", ".")) for st in fs.listStatus(jpath)
    )


def violation_rows(validated: DataFrame, *cols) -> DataFrame:
    """One row per violation: ``cols`` (the unit key first, then lineage
    columns), then ``field_path``, ``rule``, ``error``, ``value``. The
    non-outer explode drops passing rows (empty violations array), so no
    separate pass filter re-evaluates the violations expression."""
    exploded = validated.select(*cols, F.explode(VIOLATIONS_COL).alias("v"))
    return exploded.select(
        *exploded.columns[:-1],
        F.col("v.path").alias("field_path"),
        "v.rule",
        "v.error",
        "v.value",
    )


def manifest_rows(validated: DataFrame, content_col: str, *extra: Column, by=()) -> DataFrame:
    """The manifest aggregation: one row per ``by`` group with ``n_rows``,
    ``n_invalid_rows``, ``n_violations``, ``content_digest``, the caller's
    ``extra`` aggregates and ``processed_at``.

    ``content_digest`` is an order-insensitive xor of the per-row sha256
    invariant (first 15 hex chars as a long): digests are comparable
    run-to-run regardless of task ordering, and compose across units."""
    return validated.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col(PASS_COL)).cast("long")).alias("n_invalid_rows"),
        F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
        F.bit_xor(
            F.conv(F.substring(F.sha2(F.col(content_col), 256), 1, 15), 16, 10).cast("long")
        ).alias("content_digest"),
        *extra,
        F.current_timestamp().alias("processed_at"),
    )


def commit(
    spark: SparkSession, out_dir: str, key: str, viol: DataFrame, manifest: DataFrame, unit: str
) -> None:
    """Commit one unit under ``out_dir`` by the module's rule: ``viol``
    (partitioned by ``key``) to ``violations/``, then ``manifest`` to
    ``manifest/<unit>/`` (``unit`` is a ``name=value`` directory name).
    Raises if any step fails; nothing of the unit is then in the
    manifest."""
    stage = os.path.join(out_dir, f"_manifest_stage_{os.getpid()}_{time.monotonic_ns()}")
    try:
        # the two writes overlap; leaving the block joins both, so the
        # stage is never deleted under a running write
        with ThreadPoolExecutor(max_workers=2) as pool:
            written = pool.submit(_write_violations, spark, viol, key, os.path.join(out_dir, "violations"))
            staged = pool.submit(_stage_manifest, manifest, stage)
        written.result()  # durability barrier: violations before the manifest
        staged.result()
        _publish(spark, stage, os.path.join(out_dir, "manifest", unit))
    finally:
        _delete(spark, stage)  # no-op after a clean publish


def _write_violations(spark: SparkSession, viol: DataFrame, key: str, path: str) -> None:
    (
        viol.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key)
        .parquet(path)
    )
    # Spark writes no file for an empty write, which would leave a table
    # ``spark.read.parquet`` cannot infer a schema from: seed one
    # schema-bearing empty partition, key -1, while the table has none
    if not has_data(spark, path):
        _write_empty_parquet(
            spark, viol.drop(key).schema, os.path.join(path, f"{key}=-1", "part-00000-seed.parquet")
        )


def _stage_manifest(manifest: DataFrame, stage: str) -> None:
    manifest.write.mode("overwrite").parquet(stage)


def _publish(spark: SparkSession, stage: str, dest: str) -> None:
    fs, src, jvm = hadoop_fs(spark, stage)
    dst = jvm.org.apache.hadoop.fs.Path(dest)
    if fs.exists(dst):  # a torn copy (rename is a copy on object stores)
        fs.delete(dst, True)
    fs.mkdirs(dst.getParent())
    if not fs.rename(src, dst):
        raise OSError(f"could not publish {stage} as {dest}")


def _delete(spark: SparkSession, path: str) -> None:
    try:
        fs, jpath, _ = hadoop_fs(spark, path)
        fs.delete(jpath, True)
    except Exception:  # cleanup must never mask the primary failure
        pass


def _write_empty_parquet(spark: SparkSession, df_schema, dest_file: str) -> None:
    """Write a schema-bearing 0-row parquet file at ``dest_file`` without
    a Spark job."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    buf = io.BytesIO()
    pq.write_table(to_arrow_schema(df_schema).empty_table(), buf)
    fs, jpath, _ = hadoop_fs(spark, dest_file)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(buf.getvalue()))
    finally:
        out.close()
