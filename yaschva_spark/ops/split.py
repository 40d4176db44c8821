"""Deterministic dataset splitting/sampling for training pipelines.

A 100 TB training pipeline cannot use ``df.randomSplit``/``df.sample`` for
its train/val/test cut: those are partition-RNG based, so the assignment of
a given row changes with partitioning, task retries, and appends. Here the
assignment is a pure function of the row's id — ``pmod(xxhash64(seed, id),
GRANULARITY)`` against cumulative weight boundaries — which makes it

* **reproducible**: any re-run, any cluster size, same split;
* **stable under appends**: new rows join splits at the right rates while
  old rows never move (no need to persist an assignment table);
* **shuffle-free**: a projection/filter, fully inside whole-stage codegen,
  pushed to the scan when the id is all the filter needs.

The front-seeded hash chain (seed literal FIRST — see
checks._key_fingerprint for why trailing seeds are not independent) is
replicated bit-exactly in pure Python (yaschva_spark.xxh64), which is what
lets an independent SQL oracle verify every assignment: Spark's
``xxhash64`` of a LongType child is XXH64 of its 8 little-endian bytes
(XXH64.hashLong's specialization is arithmetically the generic byte path
at n=8), chained left-to-right.
"""

from __future__ import annotations

import struct
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yaschva_spark.xxh64 import xxh64

GRANULARITY = 1_000_000


def _bucket_col(id_col: str, seed: int) -> Column:
    # BOTH children cast to long so Spark hashes 8 bytes each (int-typed
    # children take the 4-byte hashInt path, which would diverge from the
    # replica AND move every row's split on an int->bigint id migration)
    h = F.xxhash64(F.lit(seed).cast("long"), F.col(id_col).cast("long"))
    return F.pmod(h, F.lit(GRANULARITY))


def _boundaries(weights: Mapping[str, float]) -> list[tuple[str, int]]:
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("split weights must sum to > 0")
    acc = 0.0
    out = []
    for name, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for split {name!r}")
        acc += w / total
        out.append((name, min(int(round(acc * GRANULARITY)), GRANULARITY)))
    out[-1] = (out[-1][0], GRANULARITY)  # close the last range exactly
    return out


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float] | None = None,
    seed: int = 7,
    split_col: str = "split",
) -> DataFrame:
    """Add a deterministic split label: ``weights`` (insertion-ordered) are
    normalized into contiguous bucket ranges of the id hash. Default
    98/1/1 train/val/test."""
    weights = weights if weights is not None else {"train": 0.98, "val": 0.01, "test": 0.01}
    bounds = _boundaries(weights)
    b = _bucket_col(id_col, seed)
    expr = None
    for name, hi in bounds:
        cond = b < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(split_col, expr)


def hash_sample(df: DataFrame, id_col: str, fraction: float, seed: int = 7) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose id-hash bucket
    falls below the fraction boundary. Unlike ``df.sample`` the kept set is
    a pure function of ids — re-runs, different partitionings, and
    incremental appends all agree."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    hi = int(round(fraction * GRANULARITY))
    return df.filter(_bucket_col(id_col, seed) < hi)


# --- the independent replica (oracle side) -----------------------------------
def replica_bucket(id_value: int, seed: int = 7) -> int:
    """Pure-Python value of ``_bucket_col`` for one long id — the chained
    XXH64 replica: hash the seed's 8 LE bytes with Spark's default seed 42,
    then the id's 8 LE bytes seeded by that result."""
    h1 = xxh64(struct.pack("<q", seed), 42)
    h2 = xxh64(struct.pack("<Q", id_value & 0xFFFFFFFFFFFFFFFF), h1)
    # Spark's pmod sees the SIGNED long; 10^6 does not divide 2^64, so the
    # unsigned residue differs for negative hashes — convert first (Python's
    # % on a negative operand already matches pmod)
    signed = h2 - (1 << 64) if h2 >= (1 << 63) else h2
    return signed % GRANULARITY


def replica_split(id_value: int, weights: Mapping[str, float], seed: int = 7) -> str:
    b = replica_bucket(id_value, seed)
    for name, hi in _boundaries(weights):
        if b < hi:
            return name
    raise AssertionError("unreachable: boundaries close at GRANULARITY")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    default: float = 0.0,
    seed: int = 7,
) -> DataFrame:
    """Deterministic per-stratum sample — the rebalancing step a training
    pipeline runs when one language/source dominates the corpus: keep a
    different fraction of each stratum, with :func:`hash_sample`'s id-hash
    stability (re-runs, repartitions, retries, and appends all agree, and
    a row's fate never depends on which other rows are present).

    ``fractions`` maps stratum value -> keep fraction; strata not listed
    (including NULL) keep ``default``. The per-stratum boundary compiles to
    one CASE expression over the id-hash bucket — a pure projection/filter,
    no shuffle, no sampling state, pushable to the scan. Unlike
    ``df.sampleBy`` (partition-RNG: assignment moves with partitioning and
    retries) this is replayable bit-for-bit by the pure-Python XXH64
    replica, which is what the SQL oracle uses."""
    for k, frac in fractions.items():
        if k is None:
            # `col == lit(None)` is NULL, so the CASE would fall through to
            # `default` for NULL strata while replica_keep's fractions.get
            # would return the configured fraction — the bit-for-bit replay
            # contract would silently break. Refuse rather than diverge.
            raise ValueError(
                "None stratum key is not supported: NULL strata always keep "
                "`default` (a CASE on equality cannot match NULL)"
            )
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for stratum {k!r} must be in [0, 1]")
    if not 0.0 <= default <= 1.0:
        raise ValueError("default fraction must be in [0, 1]")
    hi = F.lit(int(round(default * GRANULARITY)))
    expr = None
    for k, frac in fractions.items():
        cond = F.col(strata_col) == F.lit(k)
        lim = F.lit(int(round(frac * GRANULARITY)))
        expr = F.when(cond, lim) if expr is None else expr.when(cond, lim)
    bound = hi if expr is None else expr.otherwise(hi)
    return df.filter(_bucket_col(id_col, seed) < bound)


def replica_keep(
    id_value: int, stratum, fractions: Mapping[str, float],
    default: float = 0.0, seed: int = 7,
) -> bool:
    """Pure-Python replica of :func:`stratified_sample`'s keep decision."""
    frac = fractions.get(stratum, default)
    return replica_bucket(id_value, seed) < int(round(frac * GRANULARITY))


#: Per-task row budget for one window partition in cap_per_stratum's
#: chunks="auto" sizing — same philosophy as dedup.NAIVE_ROWS_PER_TASK: a
#: single row_number window partition is one un-splittable task, so a
#: stratum larger than this budget gets chunked. Kept well under the
#: measured hash-agg/window spill cliff (dedup's 16.4M rows/task dead
#: point); over-chunking costs one extra cheap local window, under-chunking
#: costs a straggler task holding the whole hot stratum.
WINDOW_ROWS_PER_TASK = 4_000_000


def choose_cap_chunks(df: DataFrame, strata_col: str, rows_per_task: int = WINDOW_ROWS_PER_TASK) -> int:
    """One-aggregation sketch (pattern of dedup.candidate_sketch) that sizes
    ``cap_per_stratum``'s chunk count from the HOTTEST stratum: C such that
    any one stage-1 window task holds ~max_stratum/C ≤ ``rows_per_task``
    rows. Returns 1 when no stratum exceeds the budget (the common case —
    the sketch costs one count-agg scan, the win is avoiding a 100 TB
    dominant-domain stratum serializing onto a single task)."""
    row = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("max_n"))
        .collect()[0]
    )
    max_n = int(row["max_n"] or 0)
    return max(1, -(-max_n // rows_per_task))  # ceil div


def cap_per_stratum(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    cap: int,
    seed: int = 7,
    chunks: int | str = 1,
    rows_per_task: int = WINDOW_ROWS_PER_TASK,
) -> DataFrame:
    """Keep at most ``cap`` rows per stratum — the per-domain/per-source cap
    of corpus mixing (a fraction can't express "no more than N pages from
    any one domain"; this can). Selection is deterministic: the ``cap``
    smallest ``(id-hash bucket, id)`` rows of each stratum win, so re-runs
    and repartitions agree exactly, and under appends a kept row is only
    ever displaced by a lower-bucket newcomer — never reshuffled at random.

    ``chunks=1`` runs one ``row_number`` window per stratum: correct
    everywhere, but a dominant stratum serializes onto a single task (a
    window partition is unsplittable). For skewed strata set ``chunks=C``:
    stage 1 takes a local top-``cap`` per ``(stratum, bucket % C)`` — any
    one task's window holds ~1/C of the stratum — and stage 2 ranks the
    ≤ ``C*cap`` survivors per stratum. Exact for any C (the global top-cap
    is contained in the union of per-chunk top-caps), same two-phase shape
    as ``cosine_topk``'s local-heap → global-merge.

    ``chunks="auto"`` sizes C from a one-agg hottest-stratum sketch
    (:func:`choose_cap_chunks`) so the caller need not know the skew —
    the r4 default of 1 silently serialized a dominant stratum unless the
    caller thought to ask."""
    from pyspark.sql import Window

    if cap < 0:
        raise ValueError("cap must be >= 0")
    if chunks == "auto":
        chunks = choose_cap_chunks(df, strata_col, rows_per_task)
    # bool is an int subclass: True would silently run as chunks=1
    if isinstance(chunks, bool) or not isinstance(chunks, int) or chunks < 1:
        raise ValueError("chunks must be >= 1 or 'auto'")
    out_cols = df.columns
    dfb = df.withColumn("__b", _bucket_col(id_col, seed))
    if chunks > 1:
        w1 = Window.partitionBy(
            strata_col, F.pmod(F.col("__b"), F.lit(chunks))
        ).orderBy("__b", id_col)
        dfb = (
            dfb.withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") <= cap)
            .drop("__rn")
        )
    w = Window.partitionBy(strata_col).orderBy("__b", id_col)
    return (
        dfb.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .select(*out_cols)
    )


def replica_cap_keep(rows, cap: int, seed: int = 7) -> set:
    """Pure-Python replica of :func:`cap_per_stratum`: ``rows`` is an
    iterable of ``(id, stratum)``; returns the set of kept ids."""
    by_stratum: dict = {}
    for i, s in rows:
        by_stratum.setdefault(s, []).append((replica_bucket(int(i), seed), int(i)))
    kept = set()
    for lst in by_stratum.values():
        kept.update(i for _, i in sorted(lst)[:cap])
    return kept
