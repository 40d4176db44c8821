"""Similarity search + embedding near-dup over embedding columns (array<float>).

* :func:`cosine_topk` — exact brute-force top-k: broadcast the (small) query
  set against the corpus; per-query top-k via window rank. The correctness
  baseline.
* :func:`ann_lsh_topk` — the scale path: random-hyperplane LSH (sign bits of
  dot products with R seeded hyperplanes), bucket join to produce
  candidates, exact cosine re-rank of candidates. Recall < 1 by
  construction; the probe multiplicity trades recall for cost.
* :func:`ann_ivf_topk` — IVF alternative: seeded k-means coarse quantizer
  (Lloyd iterations as hash aggregations, centroids broadcast each round),
  probe the ``nprobe`` nearest centroid lists, exact re-rank within them.

Embedding near-dup has three regimes and ONE exact plan:

* :func:`embedding_near_dup_pairs` — exact embedding-cosine near-duplicate
  pairs (i < j, cosine >= threshold), the correctness baseline for dedup.
  The exact plan is triangle tiles (:func:`_tile_pairs`): rows hash into
  B blocks, a per-row explode copies each row into the B block pairs
  p <= q containing its block (no join), and each tile runs one GEMM
  kernel (:func:`_tile_pair_frame`) whose similarity matrix is computed
  in chunks of at most ``TILE_CHUNK_ENTRIES`` entries, whatever n is.
* :func:`embedding_near_dup_lsh` — the near-dup scale path: a cost-model
  planner (:func:`lsh_near_dup_params`) picks (n_planes, n_tables) from
  (threshold, n, recall target) or runs the exact tiles when LSH can't
  win; the LSH plan is bucket self-join candidates + exact cosine
  verification (precision 1, recall ≈ 1-(1-p^P)^T).
* :func:`semdedup_pairs` — k-means cells, every cell run through the
  same tiles (``cell_blocks`` blocks per cell).

Vector math strategy (measured on this corpus): the batched kernels — pair
cosine, multi-table bucket signatures, centroid argmin/probe — run as
Arrow-vectorized pandas UDFs over numpy matrices (one GEMM per batch).
Catalyst alternatives were tried and rejected: higher-order
``aggregate(zip_with(...))`` evaluates its lambda through the interpreted
expression path per element (~30x slower), and flat-unrolled
``a[1]*b[1]+...`` expressions blow past codegen method limits once a plan
needs many dot products per row (32 hyperplanes or 16 centroids), falling
back to interpreted evaluation. numpy's C loops + Arrow batch transfer win
by an order of magnitude; per the engine's UDF policy only batch-level
vectorized Python is used, never per-row.

Everything deterministic: hyperplanes/centroid init come from
``random.Random(seed)``, ranking ties break on neighbor id.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yaschva_spark.ops.dedup import banded_pairs


def _mat(series: pd.Series):
    """Arrow list column -> [n, d] float64 matrix."""
    import numpy as np

    return np.vstack(series.to_numpy()).astype(np.float64)


@F.pandas_udf(T.DoubleType())  # type object: no DDL parse, no context needed at import
def _cosine_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched exact cosine of row-aligned vector pairs (one einsum per
    Arrow batch)."""
    import numpy as np

    A, B = _mat(a), _mat(b)
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return pd.Series(num / den)


def cosine(a, b):
    """Cosine similarity of two vector columns (batched pandas kernel)."""
    return _cosine_pair(a, b)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _bucket_udf(tables: list[list[list[float]]]):
    """Factory: vector -> array of per-table LSH bucket ids.

    All ``n_tables x n_planes`` sign bits come from ONE [n,d]x[d,T*P] matmul
    per Arrow batch; bit i of a table's bucket is plane i's sign (matching
    the reference ordering bucket += bit << i)."""
    import numpy as np

    n_tab = len(tables)
    n_pl = len(tables[0])
    planes = np.array(tables, dtype=np.float64).reshape(n_tab * n_pl, -1).T
    weights = 1 << np.arange(n_pl, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def f(v: pd.Series) -> pd.Series:
        V = _mat(v)
        bits = (V @ planes) > 0  # [n, n_tab*n_pl]
        buckets = (bits.reshape(len(V), n_tab, n_pl) * weights).sum(axis=2)
        return pd.Series(list(buckets))

    return f


def _assign_udf(centroids: list[list[float]]):
    """Factory: vector -> nearest-centroid id (squared L2, first-index ties),
    via the ||v||^2 - 2 v.C' + ||c||^2 expansion — O(n*k) memory."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64)  # [k, d]
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def f(v: pd.Series) -> pd.Series:
        V = _mat(v)
        d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    return f


def _probe_udf(centroids: list[list[float]], nprobe: int):
    """Factory: vector -> the nprobe nearest centroid ids (ascending
    distance, index tie-break)."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def f(v: pd.Series) -> pd.Series:
        V = _mat(v)
        d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return f


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The shared top-k tail: (query_id, neighbor_id, sim) rows -> each
    query's k best as (query_id, neighbor_id, rank, sim), ranked by sim
    desc with neighbor_id asc breaking ties, sim rounded to 6 places."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding itself).

    Output: (query_id, neighbor_id, rank, sim).

    Scale shape (r3 verdict #3): the query matrix ships to every partition
    (a bounded driver collect — the query set is small by this operator's
    contract, same order as the broadcast the old plan did), and each
    corpus partition runs ONE ``block @ Q.T`` GEMM per Arrow batch while
    keeping a running top-k per query ACROSS its batches — so only
    ``partitions x queries x k`` rows ever leave Python, and the final
    global window ranks that tiny set. The previous plan materialized all
    ``corpus x queries`` scored rows through the window's exchange, which
    is the job's dominant shuffle at corpus scale (10^9 corpus x 100
    queries = 10^11 window-input rows vs ~10^5 here).

    Local/global tie-break are identical (sim desc, neighbor_id asc), so
    the per-partition truncation is lossless: any global top-k row is a
    fortiori in its partition's top-k under the same total order.
    """
    import numpy as np

    qrows = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).collect()
    qrows.sort(key=lambda r: r["query_id"])  # collect order is plan-dependent
    qids = [r["query_id"] for r in qrows]
    Q = np.array([list(r["qv"]) for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    m = len(qids)
    qid_arr = np.asarray(qids)

    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def part_topk(batches):
        # running (sim, neighbor_id) top-k per query, merged batch by batch
        run_s = [np.empty(0, dtype=np.float64) for _ in range(m)]
        run_i = [np.empty(0, dtype=object) for _ in range(m)]
        for pdf in batches:
            ids = pdf["neighbor_id"].to_numpy()
            C = _mat(pdf["cv"])
            S = (C @ Q.T) / (np.linalg.norm(C, axis=1)[:, None] * qn[None, :])
            S[ids[:, None] == qid_arr[None, :]] = -np.inf  # exclude self
            for j in range(m):
                all_s = np.concatenate([run_s[j], S[:, j]])
                all_i = np.concatenate([run_i[j], ids])
                # sim desc, neighbor_id asc: stable id-asc sort, then
                # stable sim-desc sort preserves the id order within ties
                order = np.argsort(all_i, kind="stable")
                order = order[np.argsort(-all_s[order], kind="stable")][:k]
                run_s[j], run_i[j] = all_s[order], all_i[order]
        # drop the -inf self-mask sentinels: on a tiny corpus (fewer than k
        # non-self candidates) they would otherwise survive the rank<=k
        # filter and emit (query, neighbor==query, -Infinity) rows the old
        # broadcast-join plan could never produce
        for j in range(m):
            keep = run_s[j] > -np.inf
            run_s[j], run_i[j] = run_s[j][keep], run_i[j][keep]
        n_out = sum(len(s) for s in run_s)
        if n_out:
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qid_arr, [len(s) for s in run_s]),
                    "neighbor_id": np.concatenate(run_i),
                    "sim": np.concatenate(run_s),
                }
            )

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return _rank_topk(c.mapInPandas(part_topk, schema=out_schema), k)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    A single table's bucket-collision probability for neighbors at angle θ is
    (1 - θ/π)^n_planes — too low for weakly-correlated corpora — so L
    independent tables are unioned (recall ≈ 1-(1-p)^L) before one exact
    cosine re-rank of the deduplicated candidates. Candidate-join shuffle is
    ∝ corpus x n_tables, never O(n^2) — and it carries IDS ONLY: corpus
    vectors rejoin per deduplicated candidate (the broadcast query side
    keeps its vectors, which is free). Replicating each corpus vector
    n_tables times through the explode+dedup shuffle would multiply the
    job's largest exchange by tables x vector size."""
    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    bucketer = _bucket_udf(tables)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(bucketer(F.col(vec_col))).alias("table_id", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.posexplode(bucketer(F.col(vec_col))).alias("table_id", "bucket"),
    )
    cand = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cvecs = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = cand.join(cvecs, "neighbor_id").select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
    )
    return _rank_topk(scored, k)


#: the most vectors one tile block may hold (a tile holds two blocks:
#: ~2 x 250k x 64 x 8 bytes = 256 MB of vectors at d = 64)
BLOCK_ROWS = 250_000
#: the most similarity-matrix entries the tile kernel materializes at once
#: (32 MB of float64): a tile's matrix is computed in chunks of at most
#: this many entries, so kernel memory does not grow with n
TILE_CHUNK_ENTRIES = 1 << 22
# block hash seed; the pairs a tile plan emits do not depend on it
_BLOCK_SEED = 42


def _tile_pair_frame(threshold: float, left, right, intra: bool, key: dict):
    """One triangle tile: exact cosine of ``left x right`` pandas slices
    (columns id, v), emitting canonical (i < j, sim >= threshold) pairs
    after the ``key`` columns. ``intra`` (``left`` and ``right`` are the
    same block's rows) keeps only left id < right id, so each unordered
    pair counts once; a cross tile canonicalizes via min/max, since id
    order is independent of block order. The similarity matrix is
    computed in chunks of at most ``TILE_CHUNK_ENTRIES`` entries (whole
    rows of ``right`` when they fit), so the kernel's memory is bounded
    whatever the tile's size."""
    import numpy as np

    lid = left["id"].to_numpy().astype(np.int64)
    rid = right["id"].to_numpy().astype(np.int64)
    parts = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
    if len(lid) and len(rid):
        L = _mat(left["v"])
        R = L if intra else _mat(right["v"])
        ln, rn = np.linalg.norm(L, axis=1), np.linalg.norm(R, axis=1)
        cols = min(len(rid), TILE_CHUNK_ENTRIES)
        rows = TILE_CHUNK_ENTRIES // cols
        for a in range(0, len(lid), rows):
            la = lid[a : a + rows]
            for b in range(0, len(rid), cols):
                rb = rid[b : b + cols]
                G = (L[a : a + rows] @ R[b : b + cols].T) / (
                    ln[a : a + rows, None] * rn[None, b : b + cols]
                )
                keep = G >= threshold
                if intra:
                    keep &= la[:, None] < rb[None, :]
                x, y = np.nonzero(keep)
                parts.append((np.minimum(la[x], rb[y]), np.maximum(la[x], rb[y]), G[x, y]))
    i, j, sim = (np.concatenate(c) for c in zip(*parts))
    return pd.DataFrame({**key, "i": i, "j": j, "sim": sim})


def _replicate_tiles(rows: DataFrame, n_blocks: int) -> DataFrame:
    """Triangle replication: hash each row (columns incl. ``id``) into a
    block ``blk`` < B = ``n_blocks`` and copy it into the B tiles
    (p, q) = (least(blk, y), greatest(blk, y)) for y < B, i.e. every
    unordered block pair p <= q that contains its block, once each. A
    per-row explode: no join replicates the rows, and the tile (p, q)
    holds exactly the rows of blocks p and q."""
    blk = F.pmod(F.xxhash64("id", F.lit(_BLOCK_SEED)), F.lit(n_blocks)).cast("int")
    y = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    rep = rows.withColumn("blk", blk).withColumn("y", y)
    p, q = F.least("blk", "y").alias("p"), F.greatest("blk", "y").alias("q")
    return rep.select(*rows.columns, "blk", p, q)


def _tile_pairs(
    rows: DataFrame, n_blocks: int, threshold: float, keys: tuple[str, ...] = ()
) -> DataFrame:
    """The ONE exact cosine-pair plan. ``rows`` (columns ``keys``, id, v)
    -> (``keys``, i, j, sim): every pair i < j of rows with equal ``keys``
    and cosine >= threshold, sim rounded to 6 places. Each tile of
    :func:`_replicate_tiles` (per ``keys`` value) is one applyInPandas
    group running :func:`_tile_pair_frame`; a pair {x, y} is scored in
    exactly one tile, (min(bx, by), max(bx, by)). Per-task memory is ~2n/B
    vectors plus the kernel's bounded chunk; the shuffle carries n*B
    rows."""
    fields = [T.StructField(n, T.LongType()) for n in ("i", "j")]
    out_schema = T.StructType(
        [rows.schema[k] for k in keys] + fields + [T.StructField("sim", T.DoubleType())]
    )

    def gemm(key, pdf):
        *kv, p, q = key
        # an intra tile (p == q) holds only block p's rows
        left, right = (pdf, pdf) if p == q else (pdf[pdf["blk"] == p], pdf[pdf["blk"] == q])
        return _tile_pair_frame(threshold, left, right, p == q, dict(zip(keys, kv)))

    tiles = _replicate_tiles(rows, n_blocks).groupBy(*keys, "p", "q")
    pairs = tiles.applyInPandas(gemm, out_schema)
    return pairs.select(*keys, "i", "j", F.round("sim", 6).alias("sim"))


def _exact_pairs(df: DataFrame, id_col: str, vec_col: str, threshold: float, n: int) -> DataFrame:
    """Exact pairs of an ``n``-row corpus as triangle tiles, with the
    smallest B whose B(B+1)/2 tiles cover the default parallelism and
    whose blocks hold at most ``BLOCK_ROWS`` vectors."""
    n_blocks = max(1, -(-n // BLOCK_ROWS))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    while n_blocks * (n_blocks + 1) // 2 < parallelism:
        n_blocks += 1
    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return _tile_pairs(rows, n_blocks, threshold)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (i, j, sim) with i < j
    and cosine >= threshold.

    One ``count()`` sizes the triangle tiles (:func:`_exact_pairs`); no
    vector reaches the driver, and no kernel's memory grows with n. The
    n^2/2 flops are irreducible (this is the exact operator and the
    oracle baseline); :func:`embedding_near_dup_lsh` is the sub-quadratic
    escape when its planner says LSH wins."""
    return _exact_pairs(df, id_col, vec_col, threshold, df.count())


# cost-model knee of lsh_near_dup_params: up to this n an exact pair costs
# one GEMM flop; beyond it the exact tiles need more than 4 blocks of
# BLOCK_ROWS and shuffle every row B times, so the model charges exact
# pairs at the candidate-pair rate, like the LSH plan's
GEMM_LIMIT = 1_000_000
# most hyperplane tables the planner considers
MAX_TABLES = 64
# measured cost of touching a candidate pair via a shuffle join (+ Arrow
# gather) relative to scoring a pair inside a blocked GEMM
CAND_COST_RATIO = 200.0


def lsh_near_dup_params(
    threshold: float, n: int, target_recall: float = 0.95
) -> tuple[str, int, int]:
    """Closed-form LSH parameter selection — the candidate-budget planner.

    For hyperplane LSH, a pair at cosine s collides in one table with
    p(s) = (1 - arccos(s)/pi)^P; recall over T tables is 1-(1-p)^T. For
    each P we take the smallest T hitting ``target_recall`` AT the
    threshold (pairs above it do strictly better), then score

        cost_lsh(P,T) = T*n            (bucketing rows)
                      + T*(1/2)^P * n^2/2 * CAND_COST_RATIO
        cost_exact    = n^2/2 * (1 if n <= GEMM_LIMIT else CAND_COST_RATIO)

    (1/2)^P is the collision rate of *uncorrelated* pairs (cosine ~ 0 —
    measured on the synthetic corpus, and the generic assumption for
    embeddings without cluster structure).

    Returns ('lsh', P, T) or ('exhaustive', 0, 0) when no (P, T) within
    ``MAX_TABLES`` beats the exact tiles — exactly like a planner
    choosing index scan vs full scan from selectivity. At threshold 0.4
    the gap between p1 = 0.63 and the background 0.5 is so small that LSH
    NEVER wins up to ``GEMM_LIMIT``; at threshold 0.8+ and n > GEMM_LIMIT
    it wins by ~10x.
    """
    import math

    p1 = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    pair_unit = 1.0 if n <= GEMM_LIMIT else CAND_COST_RATIO
    cost_exact = (n * n / 2.0) * pair_unit
    best: tuple[float, int, int] | None = None
    for P in range(2, 25):
        pp = p1**P
        if pp >= 1.0 or pp <= 0.0:
            continue
        T = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pp))
        if T < 1 or T > MAX_TABLES:
            continue
        cost = T * n + T * (0.5**P) * (n * n / 2.0) * CAND_COST_RATIO
        if best is None or cost < best[0]:
            best = (cost, P, T)
    if best is None or best[0] >= cost_exact:
        return ("exhaustive", 0, 0)
    return ("lsh", best[1], best[2])


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int | None = None,
    dim: int = 64,
    seed: int = 42,
    target_recall: float = 0.95,
    expected_n: int | str | None = None,
) -> DataFrame:
    """Near-dup scale path with a self-tuning plan.

    Parameters (n_planes, n_tables) default to the
    :func:`lsh_near_dup_params` cost model, fed by ``expected_n`` — pass
    an approximate row count; ``expected_n='count'`` opts into an exact
    ``df.count()`` scan, and leaving it None runs that scan with a
    warning (a hidden full scan is a surprise at scale). When the model
    concludes LSH cannot beat the exact tiles — true for low thresholds
    like 0.4, where the per-plane probability gap (0.63 vs the 0.50
    background) is too thin — the operator runs the exact plan of
    :func:`embedding_near_dup_pairs`, sized from that n (recall 1.0, and
    faster than any banded plan at that setting — measured: a fixed 4x12
    banding was slower than its own exact baseline). Passing both
    n_planes and n_tables forces the LSH plan (used by tests and by
    callers who know their corpus); passing only one raises
    ``ValueError``.

    The LSH plan itself: multi-table hyperplane bucketing (one GEMM per
    Arrow batch for all sign bits), candidate self-join on (table, bucket)
    carrying ids only, exact cosine verification — precision 1.0, recall
    ≈ 1-(1-p^P)^T at the threshold."""
    if (n_planes is None) != (n_tables is None):
        raise ValueError("embedding_near_dup_lsh: pass both n_planes and n_tables, or neither")
    if n_planes is None:
        if expected_n is None or expected_n == "count":
            if expected_n is None:
                # a full scan just to feed the planner is a surprise at
                # scale — callers should pass expected_n (or the explicit
                # "count" opt-in to silence this)
                import warnings

                warnings.warn(
                    "embedding_near_dup_lsh: expected_n not set — running a "
                    "df.count() scan to feed the cost-model planner; pass "
                    "expected_n=<approx rows> (or expected_n='count' to "
                    "opt into the scan) at scale",
                    stacklevel=2,
                )
            n = df.count()
        else:
            n = int(expected_n)
        plan, n_planes, n_tables = lsh_near_dup_params(threshold, n, target_recall)
        if plan == "exhaustive":
            return _exact_pairs(df, id_col, vec_col, threshold, n)
    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    bucketer = _bucket_udf(tables)
    # ids only through the banded join (CLAUDE.md LSH rule): vectors rejoin
    # per deduplicated candidate instead of riding n_tables copies through
    # the explode + pair-dedup shuffles
    cand = banded_pairs(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(bucketer(F.col(vec_col))).alias("band", "bucket"),
        )
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cand = cand.join(
        vecs.withColumnRenamed("id", "i").withColumnRenamed("v", "iv"), "i"
    ).join(vecs.withColumnRenamed("id", "j").withColumnRenamed("v", "jv"), "j")
    return (
        cand.select("i", "j", cosine(F.col("iv"), F.col("jv")).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("i", "j", F.round("sim", 6).alias("sim"))
    )


def semdedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_clusters: int = 8,
    kmeans_iters: int = 3,
    dim: int = 64,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    cell_blocks: int = 1,
) -> DataFrame:
    """SemDeDup-style cluster-scoped near-duplicate pairs (Abbas et al.
    2023, arXiv:2303.09540): k-means partition the corpus, then exact
    pairwise cosine ONLY within each cluster. Output: (cluster, i, j, sim)
    with i < j and sim >= threshold.

    This is the sub-quadratic embedding-dedup path real LLM pipelines run:
    semantic duplicates co-locate in embedding space, so restricting the
    quadratic comparison to cluster cells keeps ~all true pairs while doing
    ~n^2/k of the work. It occupies the regime where the cost-model planner
    (:func:`lsh_near_dup_params`) rejects hyperplane LSH — low thresholds
    like 0.4, where per-plane selectivity is too thin — because k-means
    cells adapt to the corpus's actual density instead of cutting it with
    random planes.

    Plan shape: one cluster assignment (batched GEMM projection), then
    the exact tiles of :func:`embedding_near_dup_pairs` run per cell
    (:func:`_tile_pairs` keyed on the cluster id): ONE hash partition by
    (cluster, tile), one local GEMM per tile — no candidate-pair shuffle
    at all (the LSH/banded plans shuffle ids per (table, bucket)). At
    10^12 rows pick k ~ n/50k so a cell's vectors stay executor-sized.
    Recall is bounded by clustering quality (pairs straddling a cell
    boundary are missed — the documented SemDeDup approximation);
    precision is 1.0 since scoring is exact.

    **Mega-cell guard** (``cell_blocks``): a duplicate-dense corpus —
    exactly what this operator hunts — can collapse into one giant cell,
    the hot-key failure mode of a single-task GEMM. ``cell_blocks = B``
    hashes every cell's rows into B blocks, so the cell becomes B(B+1)/2
    tiles, each its own task: per-task memory drops ~B-fold, at the cost
    of each row entering the shuffle B times. B = 1 is one tile per cell.
    Output is identical for any B (asserted in tests) — pick B so
    (cell_rows/B) vectors fit an executor.

    ``centroids`` injects a pretrained quantizer (the oracle shares these
    exact floats); None trains the seeded in-Spark k-means.
    """
    if cell_blocks < 1:
        raise ValueError(f"semdedup_pairs: cell_blocks must be >= 1, got {cell_blocks}")
    if centroids is None:
        centroids = _kmeans_centroids(df, vec_col, n_clusters, kmeans_iters, seed, dim)
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _assign_udf(centroids)(F.col(vec_col)).alias("cluster"),
    )
    return _tile_pairs(assigned, cell_blocks, threshold, keys=("cluster",))


def _kmeans_centroids(
    corpus: DataFrame, vec_col: str, k: int, iters: int, seed: int, dim: int
) -> list[list[float]]:
    """Seeded Lloyd k-means on the driver loop: each iteration broadcasts
    the centroids (inside the assignment UDF closure) and runs one hash
    aggregation (per-cluster element-wise sums via ``posexplode``).
    Centroid state is k x dim floats — driver-tiny at any corpus size."""
    init = (
        corpus.select(
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
            F.xxhash64(F.col(vec_col).cast("string"), F.lit(seed)).alias("h"),
        )
        .orderBy("h")
        .limit(k)
        .collect()
    )
    if not init:
        raise ValueError("k-means init: corpus is empty")
    # corpora smaller than k yield fewer init rows — clamp k instead of
    # indexing past the collected centroids (small/filtered corpora degrade
    # to fewer lists rather than crashing)
    centroids = [list(r["v"]) for r in init]
    k = len(centroids)
    for _ in range(iters):
        assigned = corpus.select(
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
            _assign_udf(centroids)(F.col(vec_col)).alias("cluster"),
        )
        sums = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[int, list[float]] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r["cluster"], [0.0] * dim)[r["pos"]] = r["s"]
            cnt[r["cluster"]] = r["n"]
        centroids = [
            [x / cnt[c] for x in acc[c]] if c in acc else centroids[c]
            for c in range(k)
        ]
    return centroids


def kmeans_centroids_local(M, k: int, iters: int = 3) -> list[list[float]]:
    """Driver-side deterministic Lloyd k-means over an in-memory matrix.

    Init = the first k rows (callers pass rows sorted by id for
    determinism); assignment = squared-L2 argmin with first-index ties;
    empty clusters keep their previous centroid. Used to INJECT a coarse
    quantizer into :func:`ann_ivf_topk` so an independent SQL oracle can
    share the identical centroids; at cluster scale train with the Spark
    loop (:func:`_kmeans_centroids`) instead.
    """
    import numpy as np

    M = np.asarray(M, dtype=np.float64)
    k = min(k, len(M))
    C = M[:k].copy()
    for _ in range(iters):
        d2 = (M * M).sum(1)[:, None] - 2.0 * (M @ C.T) + (C * C).sum(1)[None, :]
        a = d2.argmin(axis=1)
        for c in range(k):
            sel = M[a == c]
            if len(sel):
                C[c] = sel.mean(axis=0)
    return [[float(x) for x in row] for row in C]


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 3,
    dim: int = 64,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer -> inverted lists ->
    probe the nprobe nearest lists per query -> exact cosine re-rank.

    The corpus-side work is one cluster assignment (a projection — the
    inverted 'index' is just a cluster_id column, so at 100 TB it is a
    bucketed/partitioned write, amortized across every later query batch).
    Query fan-out is |queries| x nprobe broadcast rows; recall is governed
    by nprobe/n_lists. ``centroids`` injects a pretrained quantizer
    (e.g. :func:`kmeans_centroids_local`, which a SQL oracle can share);
    None trains in-Spark via :func:`_kmeans_centroids`."""
    if centroids is None:
        centroids = _kmeans_centroids(corpus, vec_col, n_lists, kmeans_iters, seed, dim)
    nprobe = min(nprobe, len(centroids))  # k was clamped for small corpora
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _assign_udf(centroids)(F.col(vec_col)).alias("cluster"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_probe_udf(centroids, nprobe)(F.col(vec_col))).alias("cluster"),
    )
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, k)
