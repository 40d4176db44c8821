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
* :func:`embedding_near_dup_pairs` — exact embedding-cosine near-duplicate
  pairs (i < j, cosine >= threshold); the correctness baseline for dedup.
* :func:`embedding_near_dup_lsh` — the near-dup scale path: a cost-model
  planner (:func:`lsh_near_dup_params`) picks (n_planes, n_tables) from
  (threshold, n, recall target) or delegates to the exhaustive GEMM kernel
  when LSH can't win; the LSH plan is bucket self-join candidates + exact
  cosine verification (precision 1, recall ≈ 1-(1-p^P)^T).

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
    local = c.mapInPandas(part_topk, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


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
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (i, j, sim) with i < j
    and cosine >= threshold.

    Blocked-GEMM execution: the corpus matrix (n x d float64) is collected
    once and broadcast; each partition then computes ONE ``local_block @
    corpus.T`` matmul and emits only the above-threshold (i < j) pairs. One
    corpus scan, ZERO shuffle — the previous pair-join plan materialized
    all n^2/2 vector pairs through Arrow (~2 GB at n=2000, d=64), which was
    the entire 6 s cost at sf0.1; the GEMM form moves n*d bytes once and
    n^2*d flops stay inside numpy.

    Validity bound: the broadcast right side is n*d*8 bytes — fine to ~10^6
    vectors (~0.5 GB). Beyond that, exhaustive compare is a tiled block
    join whatever you do; this operator stays the *oracle baseline* and
    :func:`embedding_near_dup_lsh` (whose auto-tuner knows this bound) is
    the scale path."""
    import numpy as np

    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).collect()
    if not rows:  # np.linalg.norm(axis=1) on a 0-d matrix would raise
        return df.sparkSession.createDataFrame([], "i long, j long, sim double")
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    M = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    bc = df.sparkSession.sparkContext.broadcast((ids, M, norms))
    out_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("j", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def gen(batches):
        ids_r, M_r, n_r = bc.value
        for pdf in batches:
            L = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            lid = pdf["id"].to_numpy().astype(np.int64)
            G = (L @ M_r.T) / (np.linalg.norm(L, axis=1)[:, None] * n_r[None, :])
            mask = (G >= threshold) & (lid[:, None] < ids_r[None, :])
            li, ri = np.nonzero(mask)
            yield pd.DataFrame({"i": lid[li], "j": ids_r[ri], "sim": G[li, ri]})

    pairs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).mapInPandas(
        gen, out_schema
    )
    return pairs.select("i", "j", F.round("sim", 6).alias("sim"))


def _tile_pair_frame(threshold: float, left, right, intra: bool, cluster=None):
    """One triangle tile: exact cosine GEMM of ``left x right`` pandas
    slices (columns id, v), emitting canonical (i < j, sim >= threshold)
    pairs. ``intra`` applies the strict-order mask (same block: count each
    unordered pair once); cross tiles canonicalize via min/max since id
    order is independent of block order. Shared by
    :func:`embedding_near_dup_tiled` and :func:`semdedup_pairs`'s
    cell tiling so the mask/canonicalization logic exists exactly once."""
    import numpy as np

    def frame(a, b, s):
        out = {"i": a, "j": b, "sim": s}
        if cluster is not None:
            out = {"cluster": cluster, **out}
        return pd.DataFrame(out)

    if len(left) == 0 or len(right) == 0:
        return frame([], [], [])
    L = np.vstack(left["v"].to_numpy()).astype(np.float64)
    R = np.vstack(right["v"].to_numpy()).astype(np.float64)
    lid = left["id"].to_numpy().astype(np.int64)
    rid = right["id"].to_numpy().astype(np.int64)
    G = (L @ R.T) / (
        np.linalg.norm(L, axis=1)[:, None] * np.linalg.norm(R, axis=1)[None, :]
    )
    if intra:
        li, ri = np.nonzero((G >= threshold) & (lid[:, None] < rid[None, :]))
        a, b = lid[li], rid[ri]
    else:
        li, ri = np.nonzero(G >= threshold)
        a, b = np.minimum(lid[li], rid[ri]), np.maximum(lid[li], rid[ri])
    return frame(a, b, G[li, ri])


def _replicate_block_pairs(rows: DataFrame, n_blocks: int, seed: int) -> DataFrame:
    """Triangle replication: hash each row (columns incl. ``id``) into one
    of ``n_blocks`` blocks, then broadcast-join it to every unordered block
    pair (p <= q) containing its block — exactly B copies per row (block x
    joins the B-x pairs with p=x plus the x+1 pairs with q=x, minus the
    double-counted (x,x) tile), n*B replicated rows total; downstream
    groups on (p, q) see exactly the two blocks of their tile."""
    spark = rows.sparkSession
    blk = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n_blocks)).cast("int")
    bpairs = spark.createDataFrame(
        [(p, q) for p in range(n_blocks) for q in range(p, n_blocks)], "p int, q int"
    )
    return rows.withColumn("blk", blk).join(
        F.broadcast(bpairs), (F.col("blk") == F.col("p")) | (F.col("blk") == F.col("q"))
    )


def embedding_near_dup_tiled(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Exact all-pairs cosine BEYOND the broadcast bound: triangle block
    partitioning. Rows hash into ``n_blocks`` blocks; every unordered
    block pair (p <= q) is one ``applyInPandas`` group that GEMMs its two
    sub-matrices locally — an unordered doc pair {x, y} lands in exactly
    group (min(bx,by), max(bx,by)), so output equals
    :func:`embedding_near_dup_pairs` (asserted in tests) with NO corpus
    broadcast: peak memory per task is ~2(n/B) vectors, total shuffle is
    n*B replicated rows. Pick B so n*d*16/B fits an executor —
    at n=10^9, d=64, B=4096 a group holds ~250 MB. The n^2/2 flops are
    irreducible (this is the exact operator); the LSH path is the
    sub-quadratic escape."""
    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    rep = _replicate_block_pairs(rows, n_blocks, seed)
    out_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("j", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def gemm_group(key, pdf):
        p, q = key
        return _tile_pair_frame(
            threshold, pdf[pdf["blk"] == p], pdf[pdf["blk"] == q], intra=(p == q)
        )

    pairs = rep.groupBy("p", "q").applyInPandas(gemm_group, out_schema)
    return pairs.select("i", "j", F.round("sim", 6).alias("sim"))


# broadcast validity bound of embedding_near_dup_pairs (n*d*8 bytes on the
# driver + every executor); beyond it the exact path must tile
GEMM_LIMIT = 1_000_000


def lsh_near_dup_params(
    threshold: float,
    n: int,
    target_recall: float = 0.95,
    max_tables: int = 64,
    gemm_limit: int = GEMM_LIMIT,
    cand_cost_ratio: float = 200.0,
) -> tuple[str, int, int]:
    """Closed-form LSH parameter selection — the candidate-budget planner.

    For hyperplane LSH, a pair at cosine s collides in one table with
    p(s) = (1 - arccos(s)/pi)^P; recall over T tables is 1-(1-p)^T. For
    each P we take the smallest T hitting ``target_recall`` AT the
    threshold (pairs above it do strictly better), then score

        cost_lsh(P,T) = T*n            (bucketing rows)
                      + T*(1/2)^P * n^2/2 * cand_cost_ratio
        cost_exact    = n^2/2 * (1 if n <= gemm_limit else cand_cost_ratio)

    (1/2)^P is the collision rate of *uncorrelated* pairs (cosine ~ 0 —
    measured on the synthetic corpus, and the generic assumption for
    embeddings without cluster structure). ``cand_cost_ratio`` is the
    measured ~2-order gap between touching a candidate pair via a shuffle
    join (+Arrow gather) and scoring a pair inside a blocked GEMM; once n
    exceeds ``gemm_limit`` the broadcast kernel is off the table and exact
    pays shuffle costs too, which is where LSH's regime starts.

    Returns ('lsh', P, T) or ('exhaustive', 0, 0) when no (P, T) within
    ``max_tables`` beats the exhaustive kernel — exactly like a planner
    choosing index scan vs full scan from selectivity. At threshold 0.4
    the gap between p1 = 0.63 and the background 0.5 is so small that LSH
    NEVER wins while the GEMM kernel is available; at threshold 0.8+ and
    n > gemm_limit it wins by ~10x.
    """
    import math

    p1 = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    pair_unit = 1.0 if n <= gemm_limit else cand_cost_ratio
    cost_exact = (n * n / 2.0) * pair_unit
    best: tuple[float, int, int] | None = None
    for P in range(2, 25):
        pp = p1**P
        if pp >= 1.0 or pp <= 0.0:
            continue
        T = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pp))
        if T < 1 or T > max_tables:
            continue
        cost = T * n + T * (0.5**P) * (n * n / 2.0) * cand_cost_ratio
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
    concludes LSH cannot beat the exhaustive kernel — true for low
    thresholds like 0.4, where the per-plane probability gap (0.63 vs the
    0.50 background) is too thin — the operator DELEGATES to the exact
    path: :func:`embedding_near_dup_pairs` (broadcast GEMM; recall 1.0,
    and faster than any banded plan at that setting — measured: the
    previous fixed 4x12 banding was slower than its own exact baseline)
    while n fits the broadcast bound, else
    :func:`embedding_near_dup_tiled` (the broadcast kernel's collect is
    invalid past ~10^6 vectors). Passing explicit n_planes/n_tables
    forces the LSH plan (used by tests and by callers who know their
    corpus).

    The LSH plan itself: multi-table hyperplane bucketing (one GEMM per
    Arrow batch for all sign bits), candidate self-join on (table, bucket)
    carrying ids only, exact cosine verification — precision 1.0, recall
    ≈ 1-(1-p^P)^T at the threshold. Passing ONE of the pair forces LSH
    too: the other is derived from ``target_recall`` via the same closed
    form rather than silently overriding the caller's choice."""
    import math

    if n_planes is None or n_tables is None:
        if n_planes is not None or n_tables is not None:
            # one side explicit: honor it, close the recall equation for
            # the other (recall = 1-(1-p1^P)^T at the threshold)
            p1 = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
            if n_planes is not None:
                pp = p1**n_planes
                n_tables = (
                    1
                    if pp >= 1.0
                    else max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pp)))
                )
            else:
                # deepest banding whose required table count still fits
                n_planes = 2
                for P in range(3, 25):
                    pp = p1**P
                    if not 0.0 < pp < 1.0:
                        break
                    t_req = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pp))
                    if t_req > n_tables:
                        break
                    n_planes = P
        else:
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
            plan, p_auto, t_auto = lsh_near_dup_params(threshold, n, target_recall)
            if plan == "exhaustive":
                if n > GEMM_LIMIT:
                    # the broadcast GEMM kernel is invalid here (it collects
                    # the corpus); the exact path that survives is the tiled
                    # triangle join — size blocks to ~GEMM_LIMIT/4 vectors
                    import math as _math

                    n_blocks = max(2, _math.ceil(n / (GEMM_LIMIT // 4)))
                    return embedding_near_dup_tiled(
                        df, id_col, vec_col, threshold, n_blocks=n_blocks, seed=seed
                    )
                return embedding_near_dup_pairs(df, id_col, vec_col, threshold)
            n_planes, n_tables = p_auto, t_auto
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

    Plan shape: one cluster assignment (batched GEMM projection), ONE hash
    partition by cluster id, one local GEMM per cell — no candidate-pair
    shuffle at all (the LSH/banded plans shuffle ids per (table, bucket)).
    At 10^12 rows pick k ~ n/50k so a cell's matrix stays executor-sized.
    Recall is bounded by clustering quality (pairs straddling a cell
    boundary are missed — the documented SemDeDup approximation);
    precision is 1.0 since scoring is exact.

    **Mega-cell guard** (``cell_blocks > 1``): a duplicate-dense corpus —
    exactly what this operator hunts — can collapse into one giant cell,
    the hot-key failure mode of a single-task GEMM. ``cell_blocks = B``
    composes the triangle block scheme of
    :func:`embedding_near_dup_tiled` *inside every cell*: rows hash into B
    sub-blocks, each unordered sub-block pair (p <= q) of the SAME cell is
    its own task, so per-task memory drops ~B-fold and the widest cell
    fans out to B(B+1)/2 parallel tasks, at the cost of each row entering
    the shuffle B times. Output is identical for any B (asserted in
    tests) — pick B so (cell_rows/B) vectors fit an executor.

    ``centroids`` injects a pretrained quantizer (the oracle shares these
    exact floats); None trains the seeded in-Spark k-means.
    """
    if centroids is None:
        centroids = _kmeans_centroids(df, vec_col, n_clusters, kmeans_iters, seed, dim)
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _assign_udf(centroids)(F.col(vec_col)).alias("cluster"),
    )
    out_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("i", T.LongType()),
            T.StructField("j", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    if cell_blocks <= 1:

        def cell_gemm(key, pdf):
            return _tile_pair_frame(threshold, pdf, pdf, intra=True, cluster=key[0])

        pairs = assigned.groupBy("cluster").applyInPandas(cell_gemm, out_schema)
    else:
        rep = _replicate_block_pairs(assigned, cell_blocks, seed)

        def tile_gemm(key, pdf):
            cluster, p, q = key
            return _tile_pair_frame(
                threshold,
                pdf[pdf["blk"] == p],
                pdf[pdf["blk"] == q],
                intra=(p == q),
                cluster=cluster,
            )

        pairs = rep.groupBy("cluster", "p", "q").applyInPandas(tile_gemm, out_schema)
    return pairs.select("cluster", "i", "j", F.round("sim", 6).alias("sim"))


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
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )
