"""Structured Streaming validation.

The typed compiler emits pure column expressions, so the SAME compiled
schema runs unchanged on a streaming DataFrame — validation is a stateless
projection (no watermark needed). State enters only at the aggregation
layer: windowed violation-rate monitoring uses event-time windows + a
watermark so late events are bounded and state is evictable.

At scale this is the continuous-ingest shape of the north rule: a code-file
firehose validated in-flight, violation rows committed per micro-batch, windowed
violation rates feeding alerting. ``trigger(availableNow=True)`` turns the
same query into a catch-up batch over a backlog — the streaming analog of
the pipeline's checkpoint resume (plus Spark's own checkpointLocation for
exactly-once sinks).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yaschva_spark import commit
from yaschva_spark.engine import PASS_COL, VIOLATIONS_COL, validate_table


def read_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (schema mandatory for streaming reads)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_violation_counts(
    validated: DataFrame,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed violation counts by rule, watermark-bounded:
    (window, rule, n). Late rows beyond the watermark are dropped; state is
    evicted once the watermark passes the window end."""
    # watermarks require TIMESTAMP (tz-aware); NTZ sources are cast
    validated = validated.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    exploded = (
        validated.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(VIOLATIONS_COL).alias("v"))
        .select(F.col(ts_col), F.col("v.rule").alias("rule"))
    )
    return exploded.groupBy(
        F.window(F.col(ts_col), window_duration).alias("window"), "rule"
    ).agg(F.count(F.lit(1)).alias("n"))


def run_to_memory_sink(
    stream: DataFrame, query_name: str, output_mode: str = "append"
) -> "StreamingQuery":  # noqa: F821
    """Drain a stream with availableNow into an in-memory table (tests /
    backfills). Caller awaits termination and reads ``spark.table(name)``."""
    return (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    stream_df: DataFrame,
    text_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact streaming deduplication on content hash, state bounded by the
    watermark horizon: ``dropDuplicatesWithinWatermark`` keeps one state
    entry per hash only until the watermark passes its event time, so an
    unbounded firehose doesn't grow state forever (a plain
    ``dropDuplicates`` on a stream would). Semantics: the FIRST arrival
    within the horizon wins; a byte-identical document arriving more than
    ``watermark`` later is treated as new — the right contract for
    continuous ingest dedup, where re-publishes beyond the horizon are
    separate events."""
    return (
        stream_df.withColumn("content_hash", F.sha2(F.col(text_col), 256))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def make_batch_validator(
    schema: dict,
    out_dir: str,
    *,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    stream_id: str = "",
):
    """The ``foreachBatch`` function behind
    :func:`incremental_validation_sink`, exposed so the replay guard is
    directly testable. See that function for the durability contract."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # O(1) replay guard: the manifest is partitioned by batch_id, so
        # the probe touches ONE partition directory — never the k-batch
        # manifest scan that would creep quadratically on a long stream.
        part_dir = os.path.join(out_dir, "manifest", f"batch_id={batch_id}")
        if commit.data_entries(spark, part_dir):
            try:
                committed = spark.read.parquet(part_dir).collect()
            except Exception:
                committed = []  # torn dir (no readable footer): not committed
            if committed:
                if all(r["stream_id"] == stream_id for r in committed):
                    return  # checkpoint replay of a fully-committed batch
                # batch_id collision from a DIFFERENT checkpoint: a reset
                # checkpoint restarted numbering against an out_dir that
                # already holds data — skipping would silently drop the
                # new batch, so fail loudly instead
                raise RuntimeError(
                    f"incremental sink: manifest already holds batch_id "
                    f"{batch_id} from stream {committed[0]['stream_id']!r} "
                    f"but this query is stream {stream_id!r}. The "
                    "checkpoint and out_dir have diverged (checkpoint "
                    "deleted/moved?): restore the original checkpoint or "
                    "use a fresh out_dir."
                )
        validated = validate_table(batch_df, schema)
        commit.commit(
            spark,
            out_dir,
            commit.violation_rows(validated, F.lit(batch_id).alias("batch_id"), *id_cols),
            commit.manifest_rows(validated, content_col, F.lit(stream_id).alias("stream_id")),
            f"batch_id={batch_id}",
        )

    return process_batch


def incremental_validation_sink(
    stream_df: DataFrame,
    schema: dict,
    out_dir: str,
    *,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    checkpoint: str | None = None,
    available_now: bool = True,
) -> "StreamingQuery":  # noqa: F821
    """Continuous-ingest version of ``pipeline.run_validation_job``: each
    micro-batch is validated with the same compiled schema and lands as
    its violation rows (``violations/batch_id=N/``, ``batch_id`` also a
    data column) plus ONE manifest row (``manifest/batch_id=N/``) carrying
    the same lineage metrics (row/violation counts, order-insensitive
    sha256 content digest, timestamp) and the stream identity.

    Commit rule, shared with the batch pipeline
    (:mod:`yaschva_spark.commit`): a batch's violations are written once,
    by overwrite; its manifest row, collected on the driver, is published
    after them; readers trust only the batches the manifest names
    (:func:`yaschva_spark.commit.read_violations`). Restart safety is
    two-layered: Spark's ``checkpointLocation`` replays the failed batch
    with the same batch_id, and the batch function is IDEMPOTENT — a
    batch_id already committed BY THIS STREAM (manifest rows carry a
    stream identity derived from the checkpoint location) is skipped, a
    torn first attempt is overwritten, and a batch_id collision from a
    different checkpoint raises instead of silently dropping data. The
    replay probe reads one manifest partition — O(1) per batch, not a
    scan of the ever-growing manifest.

    ``available_now=True`` drains the backlog and stops — the streaming
    analog of the batch pipeline's resume; False runs continuously.
    """
    cp = checkpoint or f"{out_dir}/_checkpoint"
    fn = make_batch_validator(
        schema, out_dir, id_cols=id_cols, content_col=content_col, stream_id=cp
    )
    writer = stream_df.writeStream.foreachBatch(fn).option("checkpointLocation", cp)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_drift_chi2(
    df: DataFrame,
    ts_col: str,
    cat_col: str,
    baseline: dict[str, float],
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming drift monitor: per-window chi-square of a categorical
    column against a FIXED baseline distribution (e.g. the training
    corpus's language shares): ``(window, n_rows, n_unseen, chi2)``.

    The batch :func:`yaschva_spark.checks.drift_chi2` compares groups to
    the pooled distribution — a two-level aggregation a stream can't
    re-aggregate. Against a *constant* baseline the statistic collapses to
    ONE windowed aggregation (conditional sums per known category, the
    category list coming from the baseline's keys), so it is stateless
    beyond the window and watermark-evictable. Categories absent from the
    baseline get probability 0 (chi2 undefined) — they are counted in
    ``n_unseen`` instead of poisoning the statistic.

    chi2_w = sum_c (o_wc - n_w p_c)^2 / (n_w p_c), over baseline
    categories; windows with no baseline-covered rows report NULL.
    """
    cats = list(baseline)
    df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    aggs = [
        F.sum((F.col(cat_col) == c).cast("long")).alias(f"__o_{i}")
        for i, c in enumerate(cats)
    ]
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    aggs.append(
        # NULL is "not in the baseline" too: a bare ~isin() is NULL for
        # NULL inputs and sum() would skip it, leaving NULL-category rows
        # inside n_cov where they inflate every expected count
        F.sum(
            F.when(F.col(cat_col).isNull() | ~F.col(cat_col).isin(cats), 1).otherwise(0)
        ).alias("n_unseen")
    )
    win = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("window"))
        .agg(*aggs)
    )
    n_cov = F.col("n_rows") - F.col("n_unseen")
    chi2 = None
    for i, c in enumerate(cats):
        e = n_cov * F.lit(float(baseline[c]))
        term = (F.col(f"__o_{i}") - e) ** 2 / e
        chi2 = term if chi2 is None else chi2 + term
    return win.select(
        "window",
        "n_rows",
        "n_unseen",
        F.when(n_cov > 0, F.round(chi2, 6)).alias("chi2"),
    )


def stateful_violation_totals(
    validated: DataFrame,
    key_col: str = "repo",
) -> DataFrame:
    """Custom stateful operator: cumulative per-key row/violation totals
    across micro-batches via ``applyInPandasWithState`` (Arrow-batched; state
    is three longs per key). The 10^8-key scale claim holds only with the
    RocksDB state store the session profile sets (session.py): the default
    HDFS-backed provider keeps all state on-heap and OOMs far earlier.
    Asserted in tests/test_streaming.py (provider + on-disk changelog
    layout).

    Emits one row per key per trigger: (key, n_rows_total, n_violations_total,
    pass_rate) — the continuously-maintained analog of the batch manifest.
    State survives restarts through the query's checkpointLocation."""
    import pandas as pd  # noqa: F401  (imported for the closure)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = validated.select(
        F.col(key_col).alias("key"),
        F.size(VIOLATIONS_COL).alias("n_viol"),
        (~F.col(PASS_COL)).cast("long").alias("invalid"),
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        rows, invalid, viols = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            rows += len(pdf)
            invalid += int(pdf["invalid"].sum())
            viols += int(pdf["n_viol"].sum())
        state.update((rows, invalid, viols))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_rows_total": [rows],
                "n_invalid_total": [invalid],
                "n_violations_total": [viols],
                "pass_rate": [1.0 - invalid / max(rows, 1)],
            }
        )

    return src.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=(
            "key string, n_rows_total long, n_invalid_total long, "
            "n_violations_total long, pass_rate double"
        ),
        stateStructType="n_rows long, n_invalid long, n_viol long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
