"""Source/sink seam (SURVEY.md §7.3).

In this sandbox tables are parquet directories; at production scale the same
engine reads Iceberg — the difference is session config, not engine code:

    get_spark(extra_conf={
        "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.lake.type": "rest",           # or hive/hadoop
        "spark.sql.catalog.lake.uri": "<catalog-uri>",
        # plus iceberg-spark-runtime on the cluster classpath
    })
    spark.read.table("lake.db.code_files")

Plain reads and writes use Spark's own reader and writer, so partition
pruning, snapshot isolation, and manifest-based resume keep working when the
storage layer changes underneath; this module holds the helpers that add a
contract on top (bucketed layout, quarantined ingestion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: tuple[str, ...],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed (+sorted) table write — the co-location contract for
    repeated big-big joins. Two tables bucketed by the same keys into the
    same bucket count join with ZERO exchange: the bucketed scan itself
    reports the join's required hashpartitioning, and with ``sort=True``
    the per-bucket sort order removes the SortMergeJoin's sorts too. At
    100 TB this deletes the dominant shuffle of a fact-fact join from
    every downstream job that reuses the layout — pay the partitioning
    once at write time, amortize it across all consumers. Parquet bucketed
    tables here; Iceberg ``bucket(N, key)`` partition transforms carry the
    same contract at production (see the module header's config seam).

    Bucketing is table metadata, so this is ``saveAsTable`` only (a bare
    path write cannot record the bucket spec); pass ``path`` to keep the
    data external to the warehouse dir."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not keys:
        raise ValueError("at least one bucket key is required")
    writer = df.write.mode(mode).bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_quarantined(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "json",
    corrupt_col: str = "_corrupt_record",
    **options,
):
    """Schema-enforced text ingestion (json/csv) with corrupt-row
    quarantine — the raw-zone entry point a validation pipeline needs
    BEFORE the typed path can run: rows that don't even parse can't reach
    a schema check, so they must be split off losslessly, not dropped
    (silent) or fatal (one bad line kills a 100 TB job).

    Returns ``(good, quarantine)``, both filters over ONE text scan whose
    lines are parsed by a ``from_json``/``from_csv`` EXPRESSION rather
    than a permissive json/csv relation. That choice is deliberate: with
    a native permissive relation, ANY plan whose referenced columns prune
    down to just the corrupt marker — ``good.count()``,
    ``quarantine.count()``, a metrics-only observe — dies with
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN, and always-true
    guard predicates don't survive the optimizer's nullability folding.
    Expressions carry no relation rules, so every downstream shape is
    legal. Nothing meaningful is lost at 100 TB: an ingest pass reads
    every byte by definition (there is no predicate/column pushdown to
    forfeit on raw text), and the parse work is the same JacksonParser/
    UnivocityParser the relation would run.

    ``good`` has exactly ``schema``'s columns. ``quarantine`` carries the
    offending line byte-for-byte, ``parsed_partial`` (the fields that DID
    parse, as JSON — CSV keeps leading fields; JSON parses atomically, so
    all NULLs), and the source file for lineage. Line-delimited sources
    only (json lines / headerless csv) — the shape a raw zone uses."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if any(f.name == corrupt_col for f in schema.fields):
        raise ValueError(f"schema already contains {corrupt_col!r}")
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    parse_opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": corrupt_col,
        **{k: str(v) for k, v in options.items()},
    }
    if fmt == "json":
        parsed = F.from_json(F.col("value"), full, parse_opts)
    elif fmt == "csv":
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in full.fields)
        parsed = F.from_csv(F.col("value"), ddl, parse_opts)
    else:
        raise ValueError(f"quarantine supports json/csv, got {fmt!r}")
    text = spark.read.text(path).withColumn("__p", parsed)
    # from_json returns NULL (not a struct) for lines that fail outright,
    # so corruptness = marker set OR parse result entirely absent
    is_corrupt = F.col("__p").isNull() | F.col("__p")[corrupt_col].isNotNull()
    good = text.filter(~is_corrupt).select(
        *[F.col("__p")[f.name].alias(f.name) for f in schema.fields]
    )
    quarantine = text.filter(is_corrupt).select(
        F.col("value").alias("raw"),
        F.to_json(
            F.struct(*[F.col("__p")[f.name].alias(f.name) for f in schema.fields])
        ).alias("parsed_partial"),
        F.input_file_name().alias("source_file"),
    )
    return good, quarantine
