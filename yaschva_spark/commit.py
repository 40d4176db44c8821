"""The one commit rule shared by the batch and streaming validation sinks.

The manifest is the table's log. A commit unit (``run=<id>`` of
``pipeline.run_validation_job``, ``batch_id=N`` of the streaming sink):

* writes its violations once, by plain overwrite, to ``violations/<unit>/``
  (a replayed unit REPLACES its rows);
* collects its manifest rows (at most one per bucket or batch) to the
  driver during that write, stages them as one parquet file, and moves
  them to ``manifest/<unit>/`` by ONE directory rename once the
  violations write has returned;
* then deletes every violations unit the manifest does not name (a
  crashed run's). Readers trust only the named ones (:func:`read_violations`).

Crash windows: before the rename the unit is absent from the manifest and
is redone; after it the unit is complete. One writer per ``out_dir``. All
filesystem work goes through the Hadoop FileSystem API (file:, hdfs:,
object stores, where rename is a copy: still correct, not free).
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


def data_entries(spark: SparkSession, path: str) -> set[str]:
    """The names in directory ``path`` a parquet reader would read — one
    listing, without the ``_``/``.``-prefixed names Spark ignores."""
    fs, jpath, _ = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return set()
    names = (st.getPath().getName() for st in fs.listStatus(jpath))
    return {n for n in names if not n.startswith(("_", "."))}


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


def read_manifest(spark: SparkSession, out_dir: str) -> list[dict]:
    """The committed manifest rows under ``out_dir``, each with the
    ``unit`` directory it was published as; ``[]`` when no unit is
    committed yet. Any other read error propagates."""
    path = os.path.join(out_dir, "manifest")
    if not data_entries(spark, path):
        return []
    unit = F.element_at(F.split("_metadata.file_path", "/"), -2).alias("unit")
    return spark.read.parquet(path).select("*", unit).toArrow().to_pylist()


def read_violations(spark: SparkSession, out_dir: str, buckets=None) -> DataFrame:
    """The committed violation rows under ``out_dir``: only the
    ``violations/<unit>/`` directories the manifest names. With ``buckets``,
    only the units whose manifest rows name one of them are read, and only
    those buckets' rows are kept."""
    rows = read_manifest(spark, out_dir)
    if not rows:
        raise FileNotFoundError(f"no committed unit under {out_dir}")
    units = sorted({r["unit"] for r in rows if buckets is None or r["bucket"] in buckets})
    # an empty selection still reads one unit, for the schema
    paths = [os.path.join(out_dir, "violations", u) for u in units or [rows[0]["unit"]]]
    viol = spark.read.parquet(*paths)
    return viol if buckets is None else viol.filter(F.col("bucket").isin(list(buckets)))


def commit(
    spark: SparkSession, out_dir: str, viol: DataFrame, manifest: DataFrame, unit: str
) -> list[dict]:
    """Commit ``viol`` and ``manifest`` as ``unit`` (a ``name=value``
    directory name) under ``out_dir`` by the module's rule and return the
    unit's manifest rows. If any step raises, the manifest lacks the unit."""
    stage = os.path.join(out_dir, f"_manifest_stage_{os.getpid()}_{time.monotonic_ns()}")
    viol_dir = os.path.join(out_dir, "violations")
    try:
        # the manifest collect overlaps the violations write; leaving the
        # block joins the write
        with ThreadPoolExecutor(max_workers=1) as pool:
            written = pool.submit(_write_violations, viol, os.path.join(viol_dir, unit))
            rows = manifest.toArrow()
        written.result()  # durability barrier: violations before the manifest
        _write_parquet(spark, rows, os.path.join(stage, "part-00000.parquet"))
        _publish(spark, stage, os.path.join(out_dir, "manifest", unit))
    finally:
        _delete(spark, stage)  # no-op after a clean publish
    named = data_entries(spark, os.path.join(out_dir, "manifest"))
    for name in data_entries(spark, viol_dir) - named:
        _delete(spark, os.path.join(viol_dir, name))
    return rows.to_pylist()


def _write_violations(viol: DataFrame, path: str) -> None:
    # an empty write still leaves one schema-bearing part file
    viol.write.mode("overwrite").parquet(path)


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


def _write_parquet(spark: SparkSession, table, dest_file: str) -> None:
    """Write the Arrow ``table`` as one parquet file at ``dest_file``
    without a Spark job."""
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(table, buf)
    fs, jpath, _ = hadoop_fs(spark, dest_file)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(buf.getvalue()))
    finally:
        out.close()
