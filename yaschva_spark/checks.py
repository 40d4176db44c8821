"""Table-level data-quality operators (SURVEY.md §2.2).

These generalize the reference's per-value rules to whole columns at
100 TB scale. Design rules applied throughout:

* **One fused aggregate** for per-column stats — a single pass over the
  table, partial+final hash agg (Catalyst does map-side combine
  automatically), no per-column jobs.
* **No sorts where a hash agg suffices** (uniqueness is groupBy, not a
  window over a global sort).
* **Skew in uniqueness is absorbed map-side** — counts combine per task
  before the shuffle, so a hot key reaches its reducer as one partial
  count per task, never as raw rows.
* **Broadcast the small side** of referential-integrity anti-joins; callers
  flip to sort-merge for large dims.
* Drift statistics are plain arithmetic over grouped counts (chi-square) or
  an Arrow-batched ``applyInPandas`` stage against broadcast global
  quantiles (KS) — never row-at-a-time Python.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yaschva_spark.regexdialect import to_java_pattern


# --- per-column statistics ----------------------------------------------------
def column_stats(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """One-pass per-column stats: null count/rate, approx distinct (HLL++),
    min/max, mean for numerics, avg length for strings.

    Returns one row per column: (column, n_rows, null_count, null_rate,
    approx_distinct, min_value, max_value, mean_value, avg_length).
    All column stats are computed in a single ``agg`` — one scan, one
    partial+final aggregation, regardless of column count.
    """
    cols = list(columns) if columns is not None else df.columns
    by_name = {f.name: f.dataType for f in df.schema.fields}
    exprs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        dt = by_name[c]
        exprs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        exprs.append(F.approx_count_distinct(c).alias(f"{c}__distinct"))
        if isinstance(dt, (T.NumericType,)):
            exprs.append(F.min(c).cast("double").alias(f"{c}__min"))
            exprs.append(F.max(c).cast("double").alias(f"{c}__max"))
            exprs.append(F.avg(F.col(c).cast("double")).alias(f"{c}__mean"))
            exprs.append(F.lit(None).cast("double").alias(f"{c}__avglen"))
        elif isinstance(dt, T.StringType):
            # try_cast: a lexicographic-min string is usually non-numeric and
            # a plain cast would throw under ANSI mode
            exprs.append(F.min(c).cast("string").try_cast("double").alias(f"{c}__min"))
            exprs.append(F.lit(None).cast("double").alias(f"{c}__max"))
            exprs.append(F.lit(None).cast("double").alias(f"{c}__mean"))
            exprs.append(F.avg(F.length(c)).alias(f"{c}__avglen"))
        else:
            exprs.extend(
                F.lit(None).cast("double").alias(f"{c}__{s}")
                for s in ("min", "max", "mean", "avglen")
            )
    wide = df.agg(*exprs)
    # unpivot driver-side (one row in, len(cols) rows out — no shuffle)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("n_rows").alias("n_rows"),
                        F.col(f"{c}__nulls").alias("null_count"),
                        (F.col(f"{c}__nulls") / F.col("n_rows")).alias("null_rate"),
                        F.col(f"{c}__distinct").alias("approx_distinct"),
                        F.col(f"{c}__min").alias("min_value"),
                        F.col(f"{c}__max").alias("max_value"),
                        F.col(f"{c}__mean").alias("mean_value"),
                        F.col(f"{c}__avglen").alias("avg_length"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    )
    return stacked.select("s.*")


def length_histogram(df: DataFrame, column: str, bucket_width: int = 50) -> DataFrame:
    """Histogram of string length (or numeric value) in fixed-width buckets.
    Generalizes the reference's length rules (V7/V10/V12) to distributions."""
    dt = dict((f.name, f.dataType) for f in df.schema.fields)[column]
    measure = F.length(F.col(column)) if isinstance(dt, T.StringType) else F.col(column)
    bucket = F.floor(measure / F.lit(bucket_width)).cast("long")
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lo", F.col("bucket") * bucket_width)
        .withColumn("hi", (F.col("bucket") + 1) * bucket_width)
        .select("bucket", "lo", "hi", "n")
    )


# --- column-rule checks (reference V4-V7 over columns) --------------------------
def enum_check(df: DataFrame, column: str, allowed: Sequence[str]) -> DataFrame:
    """Count conforming/violating values for a string-enum rule (V6)."""
    ok = F.col(column).isin(*allowed)
    return df.agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col(column).isNull() | ~ok, 1).otherwise(0)).alias("n_violating"),
    )


def regex_check(df: DataFrame, column: str, pattern: str) -> DataFrame:
    """Regex conformance counts (V7): ``pattern`` is ECMA-u, evaluated as
    the validators do — the exact-ECMA Java spelling from
    :func:`~yaschva_spark.regexdialect.to_java_pattern` under ``rlike``
    (unanchored search, same as ECMAScript ``.test``). An untranslatable
    pattern raises :class:`ValueError`."""
    ok = F.col(column).rlike(to_java_pattern(pattern))
    return df.agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_match"),
        F.sum(F.when(F.col(column).isNull() | ~ok, 1).otherwise(0)).alias("n_miss"),
    )


def range_check(df: DataFrame, column: str, lo: float | None, hi: float | None) -> DataFrame:
    """Range-rule violation counts (V4)."""
    c = F.col(column)
    below = F.lit(False) if lo is None else (c < lo)
    above = F.lit(False) if hi is None else (c > hi)
    return df.agg(
        F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(F.when(below, 1).otherwise(0)).alias("n_below"),
        F.sum(F.when(above, 1).otherwise(0)).alias("n_above"),
        F.sum(F.when(c.isNotNull() & ~below & ~above, 1).otherwise(0)).alias("n_ok"),
    )


# --- uniqueness (hash agg) ------------------------------------------------------
def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys occurring more than once: ``(keys..., dup_count)``.

    Pure hash aggregation (no window/sort). Spark's automatic partial
    aggregation already collapses hot keys map-side (each task emits one
    partial count per key), so no reducer hotspot exists even for a key
    holding 20% of all rows — explicit salting measured ~10x slower on
    near-unique keys (it doubles the shuffle and defeats map-side combine).
    """
    counted = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("dup_count"))
    return counted.filter(F.col("dup_count") > 1)


def uniqueness_summary(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(n_keys, n_dup_keys, n_dup_rows) — the manifest-level uniqueness metric."""
    counted = duplicate_keys(df, keys)
    return counted.agg(
        F.count(F.lit(1)).alias("n_dup_keys"),
        F.coalesce(F.sum("dup_count"), F.lit(0)).alias("n_dup_rows"),
    )


def _key_fingerprint(keys: Sequence[str], seed: int):
    """One 64-bit fingerprint of a key tuple, safe for pairing.

    Two pitfalls this encodes (both were real bugs):

    * The seed goes at the FRONT. Spark chains ``xxhash64`` children
      left-to-right, so ``xxhash64(*cols, lit(s))`` is a function of the
      single prefix state ``xxhash64(*cols)`` — two trailing-seed variants
      collide *together* whenever the prefix state collides, making a
      "128-bit" pair effectively 64-bit (~n^2/2^65, tens of thousands of
      false dup keys at 10^12 rows). Leading seeds give the two chains
      different states from the first byte onward, so the pair behaves as
      two independent hashes.
    * ``xxhash64`` skips NULL children, so ('a', NULL, 'x') and
      ('a', 'x', NULL) hash identically at ANY scale. Each column is
      therefore paired with its ``isnull`` flag (an int, never NULL),
      which disambiguates the position of every NULL.
    """
    children = [F.lit(seed)]
    for k in keys:
        children.append(F.col(k))
        children.append(F.col(k).isNull().cast("int"))
    return F.xxhash64(*children)


def duplicate_key_fingerprints(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Shuffle-light duplicate detection: group by a 128-bit key fingerprint
    (two front-seeded xxhash64 values, see :func:`_key_fingerprint`) instead
    of the key columns themselves.

    The shuffle carries 16 bytes per row instead of the full key tuple —
    on wide string keys like (repo, path, commit) that is a ~5x byte
    reduction, which is what matters at 10^12 rows where the uniqueness
    shuffle is the job's largest exchange. Collision probability for the
    front-seeded pair is ~n^2/2^129 under the standard independence
    assumption for distinct-seed xxhash64 chains (~10^-15 at 10^12 keys);
    where exact counts are the contract, use
    :func:`duplicate_keys_via_fingerprint`, whose key-verification rejoin
    removes even those.

    Output: (fp1, fp2, dup_count) with dup_count > 1. To recover the actual
    key values, semi-join this (tiny) result back to the table on the same
    fingerprint expressions — see :func:`duplicate_keys_via_fingerprint`.
    """
    fp1 = _key_fingerprint(keys, 1)
    fp2 = _key_fingerprint(keys, 2)
    return (
        df.select(fp1.alias("fp1"), fp2.alias("fp2"))
        .groupBy("fp1", "fp2")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def duplicate_keys_via_fingerprint(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Exact duplicate keys at fingerprint-shuffle cost: detect duplicate
    fingerprints (16-byte shuffle), then broadcast the tiny duplicate set
    back onto the table and re-count by the REAL key columns — any hash
    collision is eliminated by the verification count, so the output is
    exactly :func:`duplicate_keys` with a fraction of the shuffle."""
    fps = duplicate_key_fingerprints(df, keys).select("fp1", "fp2")
    candidates = df.join(
        F.broadcast(fps),
        (_key_fingerprint(keys, 1) == F.col("fp1"))
        & (_key_fingerprint(keys, 2) == F.col("fp2")),
    )
    return (
        candidates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


# --- referential integrity ---------------------------------------------------------
def ri_orphans(
    fact: DataFrame,
    fk: str,
    dim: DataFrame,
    pk: str,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact rows whose FK has no match in the dimension (left anti-join).

    ``broadcast_dim=True`` for small dims (the repo dimension); False lets
    Catalyst/AQE pick sort-merge for big ones. NULL FKs count as orphans
    (they reference nothing)."""
    keys = dim.select(F.col(pk).alias("__pk")).dropDuplicates(["__pk"])
    if broadcast_dim:
        keys = F.broadcast(keys)
    return fact.join(keys, fact[fk] == F.col("__pk"), "left_anti")


# --- distribution drift -----------------------------------------------------------
def drift_chi2(df: DataFrame, group_col: str, cat_col: str) -> DataFrame:
    """Per-group chi-square statistic of a categorical column against the
    pooled (global) distribution. Pure grouped arithmetic: two hash aggs and
    a broadcast join of category shares — no Python.

    chi2_g = sum_c (o_gc - e_gc)^2 / e_gc,  e_gc = n_g * (n_c / n).
    Categories a group lacks still contribute e_gc (o=0).
    """
    # ONE scan of the fact table: the contingency table `obs` (|groups| x
    # |cats| rows — tiny by construction for a categorical drift check)
    # carries everything else. Category totals, group totals, and the grand
    # total are window sums OVER OBS, not extra aggregations of df; missing
    # cells (a group lacking a category) are folded in algebraically:
    #   sum_all e_gc = n_g              (since sum_c n_c = n)
    #   chi2_g = sum_present (o-e)^2/e + sum_absent e
    #          = sum_present [(o-e)^2/e - e] + n_g
    # The unpartitioned window for the grand total funnels only obs (not df)
    # through one partition — bounded by the category cross product.
    obs = df.groupBy(group_col, cat_col).agg(F.count(F.lit(1)).alias("o"))
    enriched = obs.select(
        group_col,
        cat_col,
        "o",
        F.sum("o").over(Window.partitionBy(cat_col)).alias("n_c"),
        F.sum("o").over(Window.partitionBy(group_col)).alias("n_g"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("n_g") * F.col("n_c") / F.col("n")
    term = (F.col("o") - e) ** 2 / e - e
    return (
        enriched.groupBy(group_col)
        .agg(
            F.max("n_g").alias("n_rows"),
            F.round(F.sum(term) + F.max("n_g"), 6).alias("chi2"),
        )
        .select(group_col, "n_rows", "chi2")
    )


def drift_psi(
    df: DataFrame, group_col: str, cat_col: str, eps: float = 1e-6
) -> DataFrame:
    """Per-group Population Stability Index of a categorical column vs the
    pooled distribution — the monitoring-dashboard companion to
    :func:`drift_chi2` (chi2 grows with n; PSI is share-scaled, so one
    alerting threshold works at any table size: <0.1 stable, >0.25 shifted).

    psi_g = sum_c (p_gc - p_c) * ln(p_gc / p_c), p_gc = group share of
    category c, p_c = pooled share. Categories a group lacks contribute via
    the ``eps`` clamp (the standard PSI zero-cell convention, applied to
    both shares so the formula is symmetric and SQL-reproducible).

    Same one-scan shape as chi2: the fact table is aggregated once into the
    contingency table ``obs``; marginals are window sums OVER OBS, and the
    cells a group lacks are folded in algebraically instead of
    materializing a dense grid:

        psi_g = sum_present [(p_gc-p_c)ln(p_gc/p_c) - f(c)] + S,
        f(c)  = (eps - p_c) ln(eps / p_c),   S = sum_{all cats} f(c)

    (subtract each present cat's absent-cell term, then add the full
    absent-cell sum S back — S itself is a window sum over obs weighted by
    1/count(group rows per cat), since each cat appears once per group that
    has it). NULL categories are a real level (window partitioning is
    null-safe, unlike a join).
    """
    obs = df.groupBy(group_col, cat_col).agg(F.count(F.lit(1)).alias("o"))
    enriched = obs.select(
        group_col,
        "o",
        F.sum("o").over(Window.partitionBy(cat_col)).alias("n_c"),
        F.sum("o").over(Window.partitionBy(group_col)).alias("n_g"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
        F.count(F.lit(1)).over(Window.partitionBy(cat_col)).alias("cnt_c"),
    )
    p_c = F.greatest(F.col("n_c") / F.col("n"), F.lit(eps))
    p_g = F.greatest(F.col("o") / F.col("n_g"), F.lit(eps))
    f_absent = (F.lit(eps) - p_c) * F.log(F.lit(eps) / p_c)
    terms = enriched.select(
        group_col,
        "n_g",
        ((p_g - p_c) * F.log(p_g / p_c) - f_absent).alias("term"),
        F.sum(f_absent / F.col("cnt_c")).over(Window.partitionBy()).alias("s_all"),
    )
    return (
        terms.groupBy(group_col)
        .agg(
            F.max("n_g").alias("n_rows"),
            F.round(F.sum("term") + F.max("s_all"), 6).alias("psi"),
        )
        .select(group_col, "n_rows", "psi")
    )


def numeric_profile(
    df: DataFrame,
    group_col: str,
    num_col: str,
    fracs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group numeric distribution profile: count, mean, sample stddev,
    and exact linear-interpolation percentiles at ``fracs`` — the
    distributional generalization of the reference's numeric bounds (V4),
    one row per (group, fraction).

    One hash aggregation; Spark's ``percentile`` is the exact sorted-data
    interpolation (identical to SQL ``quantile_cont``), so an independent
    engine reproduces every output bit — that is the oracle story. Exact
    percentiles hold per-group state proportional to distinct values: the
    right tool for bounded-cardinality measures (lengths, scores); swap in
    ``approx_percentile`` beyond ~10^8 distinct values per group (same
    plan, Greenwald-Khanna state).
    NULL measures are excluded from all four statistics; a group with no
    non-NULL measure has a NULL percentile array and explodes to zero rows
    (= SQL ``unnest(NULL)``) — both engines agree on both edges.
    """
    farr = F.array(*[F.lit(float(f)) for f in fracs])
    agg = df.groupBy(group_col).agg(
        F.count(num_col).alias("n_values"),
        F.round(F.avg(num_col), 6).alias("mean_value"),
        F.round(F.stddev(num_col), 6).alias("stddev_value"),
        F.percentile(num_col, farr).alias("__qs"),
    )
    return agg.select(
        group_col,
        "n_values",
        "mean_value",
        "stddev_value",
        F.posexplode("__qs").alias("__i", "quantile_value"),
    ).select(
        group_col,
        "n_values",
        "mean_value",
        "stddev_value",
        F.element_at(farr, F.col("__i") + 1).alias("fraction"),
        F.round("quantile_value", 6).alias("quantile_value"),
    )


def drift_ks(
    df: DataFrame, group_col: str, num_col: str, n_quantiles: int = 101,
    exact_grid: bool = False,
) -> DataFrame:
    """Per-group Kolmogorov–Smirnov statistic of a numeric column vs the
    pooled distribution, via ``applyInPandas`` (Arrow batches, one pandas
    call per group — no per-row Python).

    The global ECDF is summarized by ``n_quantiles`` quantiles computed
    once and broadcast into the UDF closure; each group's ECDF is
    evaluated on that grid. Groups are assumed to fit in executor memory
    (true for per-partition drift checks; for giant groups sample first).

    ``exact_grid=False`` (default, the scale path) uses Greenwald-Khanna
    approximate quantiles — one pass, bounded memory at any table size.
    ``exact_grid=True`` uses exact linear-interpolation percentiles
    (Spark's ``percentile``), making the whole statistic a closed form
    over the data that an independent SQL engine can reproduce — the
    driver's DuckDB oracle runs exactly that (quantile_cont + grid-count
    SQL in __spark_entry__). Exact percentiles hold per-group state
    proportional to distinct values, so prefer the default beyond ~10^8
    distinct values.
    """
    fracs = [i / (n_quantiles - 1) for i in range(n_quantiles)]
    if exact_grid:
        grid = df.select(
            F.percentile(num_col, F.array(*[F.lit(f) for f in fracs])).alias("g")
        ).collect()[0]["g"]
    else:
        grid = df.approxQuantile(num_col, fracs, 0.001)

    def ks(pdf):
        import numpy as np
        import pandas as pd

        x = np.sort(pdf[num_col].dropna().to_numpy())
        if len(x) == 0:
            stat = float("nan")
        else:
            g = np.asarray(grid)
            ecdf_group = np.searchsorted(x, g, side="right") / len(x)
            ecdf_global = np.linspace(0.0, 1.0, len(g))
            stat = float(np.max(np.abs(ecdf_group - ecdf_global)))
        return pd.DataFrame(
            {group_col: [pdf[group_col].iloc[0]], "n_rows": [len(pdf)], "ks_stat": [stat]}
        )

    # carry the group column's REAL dtype — an int group col under a
    # hardcoded 'string' field fails the Arrow batch conversion
    g_type = df.schema[group_col].dataType.simpleString()
    out_schema = f"{group_col} {g_type}, n_rows long, ks_stat double"
    return df.select(group_col, num_col).groupBy(group_col).applyInPandas(ks, out_schema)


def completeness_daily(df: DataFrame, ts_col: str) -> DataFrame:
    """Zero-filled per-day row counts — the freshness/completeness monitor
    that catches what drift checks can't: a day with NO rows at all (a
    stalled ingestion) never shows up in a plain groupBy, because absent
    groups produce no output. Output: ``(day date, n long)`` for every
    calendar day between the data's min and max, gaps included as n=0.

    Scale shape: ONE count aggregation over the data (map-side combined,
    exchange carries one row per distinct day); the calendar spine is
    GENERATED from a 1-row bounds agg (the only driver action, bounded
    like the quantile grid) via ``sequence`` — never shuffled out of the
    data. NULL timestamps are excluded (they belong to the null-rate
    check, not the calendar).

    The spine and bucket are DATE-typed end to end: stepping TIMESTAMPS by
    ``interval 1 day`` (fixed 24h) from the min would stop aligning with
    per-day bucket values across a DST transition in a non-UTC session
    timezone — post-transition days would join-miss and report n=0 while
    their real counts were dropped. ``sequence(date, date)`` steps by
    calendar day, immune to that."""
    day = F.to_date(F.col(ts_col))
    nn = df.filter(F.col(ts_col).isNotNull())
    counts = nn.groupBy(day.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))
    bounds = nn.agg(F.min(day).alias("lo"), F.max(day).alias("hi")).first()
    spark = df.sparkSession
    if bounds["lo"] is None:
        return spark.createDataFrame(
            [], T.StructType([T.StructField("day", T.DateType()),
                              T.StructField("n", T.LongType())])
        )
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit(bounds["lo"]), F.lit(bounds["hi"]))).alias("bucket")
    )
    return (
        spine.join(counts, "bucket", "left")
        .select(
            F.col("bucket").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )
