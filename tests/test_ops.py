"""Training-data ops: dedup, similarity, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yaschva_spark.ops import dedup, similarity, text
from yaschva_spark.ops import multimodal as mm

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").persist()
    yield df
    df.unpersist()  # session outlives the module; don't leak cached plans


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").persist()
    yield df
    df.unpersist()


# --- dedup -------------------------------------------------------------------
def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a b c")], "id long, t string"
    )
    got = dedup.exact_duplicates(df, "id", "t").collect()
    assert len(got) == 1
    assert got[0]["n"] == 3 and got[0]["ids"] == [1, 2, 4]


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c d")], "id long, t string")
    got = {r["id"]: r["shingle_set"] for r in dedup.shingles(df, "id", "t", n=3).collect()}
    assert 1 not in got  # too short for a 3-gram
    assert sorted(got[2]) == ["a b c", "b c d"]


def test_ngram_jaccard_finds_injected_near_dups(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    assert len(pairs) > 0
    assert all(p["i"] < p["j"] and p["jaccard"] >= 0.5 for p in pairs)


def test_minhash_lsh_matches_exact(docs):
    exact = {
        (r["i"], r["j"]) for r in
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["i"], r["j"]) for r in
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert lsh == exact  # verification makes LSH output exact (given recall)


def test_simhash_near_dups(spark, docs):
    # mutated copy of a doc pairs with the original; unrelated docs don't
    base = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "id long, t string",
    )
    pairs = dedup.simhash_pairs(base, "id", "t", max_hamming=16).collect()
    keys = {(p["i"], p["j"]) for p in pairs}
    assert (1, 2) in keys
    assert (1, 3) not in keys and (2, 3) not in keys
    # determinism
    fp1 = {r["id"]: r["simhash"] for r in dedup.simhash(base, "id", "t").collect()}
    fp2 = {r["id"]: r["simhash"] for r in dedup.simhash(base, "id", "t").collect()}
    assert fp1 == fp2


# --- similarity ---------------------------------------------------------------
def test_cosine_topk_exact(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.cosine_topk(emb, queries, k=3).collect()
    assert len(got) == 5 * 3
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)


def test_cosine_topk_tiny_corpus_never_emits_self(spark):
    """corpus == queries with corpus size <= k: fewer than k non-self
    candidates exist, so the -inf self-mask sentinels must be DROPPED, not
    ranked — the r4 kernel let a (q, q, -Infinity) row survive rank<=k."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
    emb3 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.cosine_topk(emb3, emb3, k=5).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in got)
    assert all(r["sim"] > float("-inf") for r in got)
    # each query sees exactly the 2 real non-self neighbors
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert per_q == {1: {2, 3}, 2: {1, 3}, 3: {1, 2}}


def test_ann_lsh_recall(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=1).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh_topk(emb, queries, k=1).collect()
    }
    # 4 planes -> 16 buckets over 500 vectors: top-1 recall should be decent
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall


# --- text ----------------------------------------------------------------------
def test_token_counts_and_fingerprint(spark):
    df = spark.createDataFrame([(1, "ab cd efg"), (2, "efg cd ab")], "id long, t string")
    tc = {r["id"]: r for r in text.token_counts(df, "id", "t").collect()}
    assert tc[1]["n_tokens"] == 3 and tc[1]["n_words_regex"] == 3
    fp = {r["id"]: r["fingerprint"] for r in text.fingerprint(df, "id", "t").collect()}
    # 1*2 + 2*2 + 3*3 = 15
    assert fp[1] == 15
    assert fp[1] != fp[2]  # same bag of words, different order -> different fp


def test_quality_profile(docs):
    prof = text.quality_profile(docs, "doc_id", "text")
    rows = prof.collect()
    assert all(0 <= r["quality_score"] <= 1 for r in rows)
    assert all(r["n_tokens"] > 0 for r in rows)


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "le chat et la maison de la rue"),
            (3, "zz yy xx"),
        ],
        "id long, t string",
    )
    got = {r["id"]: r["pred_lang"] for r in text.lang_id(df, "id", "t").collect()}
    assert got[1] == "en" and got[2] == "fr" and got[3] == "und"


# --- multimodal -----------------------------------------------------------------
def test_multimodal_plumbing(spark):
    assets = mm.synthetic_assets(spark, 100)
    feats = mm.decode_features(assets)
    rows = feats.collect()
    assert len(rows) == 100
    assert all(r["n_bytes"] > 0 and r["width"] >= 16 for r in rows)
    images = [r for r in rows if r["kind"] == "image"]
    assert all(r["n_frames"] == 1 for r in images)
    # deterministic across runs
    again = {r["asset_id"]: r["digest"] for r in mm.decode_features(assets).collect()}
    assert all(again[r["asset_id"]] == r["digest"] for r in rows)
    # frame-sample plan only covers videos, stride respected
    plan = mm.frame_sample_plan(assets, every_nth=50).collect()
    vids = {r["asset_id"] for r in rows if r["kind"] == "video"}
    assert {r["asset_id"] for r in plan} == vids
    assert all(r["frame_idx"] % 50 == 0 for r in plan)


def test_decode_real_is_stubbed_for_unknown_magic():
    # formats without a stdlib-parseable header (MP3, unknown blobs) stay
    # an honest stub; malformed payloads of KNOWN formats raise ValueError
    with pytest.raises(NotImplementedError):
        mm.decode_real("audio", b"\xff\xfb\x90\x44 mp3 frame sync")
    with pytest.raises(NotImplementedError):
        mm.decode_real("audio", b"ID3\x04\x00\x00\x00\x00\x00\x00")
    with pytest.raises(NotImplementedError):
        mm.decode_real("image", b"bytes")
    with pytest.raises(ValueError):  # JPEG magic but no SOF segment
        mm.decode_real("image", b"\xff\xd8\xff\xd9")


def test_decode_real_compressed_codec_headers():
    """Encode->decode roundtrip for the real container formats: the encoders
    write spec-conformant headers (PNG chunk CRCs, GIF block stream, JPEG
    marker segments, ISO-BMFF box tree) and decode_real must read back
    exactly the dims/frames that were written."""
    assert mm.decode_real("image", mm.encode_png(640, 480)) == (640, 480, 1)
    # APNG: acTL num_frames before IDAT
    assert mm.decode_real("image", mm.encode_png(12, 7, n_frames=9)) == (12, 7, 9)
    assert mm.decode_real("image", mm.encode_gif(320, 200)) == (320, 200, 1)
    # animated GIF: one image descriptor per frame, walked past LZW blocks
    assert mm.decode_real("image", mm.encode_gif(31, 17, n_frames=4)) == (31, 17, 4)
    assert mm.decode_real("image", mm.encode_jpeg(1920, 1080)) == (1920, 1080, 1)
    # progressive JPEG carries dims in SOF2 instead of SOF0
    prog = bytearray(mm.encode_jpeg(99, 44))
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    assert mm.decode_real("image", bytes(prog)) == (99, 44, 1)
    assert mm.decode_real("video", mm.encode_mp4(1280, 720, n_frames=300)) == (1280, 720, 300)
    # audio-only MP4 (no tkhd dims): (0, 0, sample_count)
    assert mm.decode_real("audio", mm.encode_mp4(0, 0, n_frames=4410)) == (0, 0, 4410)
    # truncated/malformed known formats raise ValueError, not garbage
    with pytest.raises(ValueError):
        mm.decode_real("image", mm.encode_png(8, 8)[:12])
    with pytest.raises(ValueError):
        mm.decode_real("image", mm.encode_gif(8, 8)[:12])
    with pytest.raises(ValueError):
        mm.decode_real("video", mm.encode_mp4(8, 8)[:16])


def _bmp_fixture(w: int, h: int) -> bytes:
    import struct

    row = (w * 3 + 3) & ~3  # 24bpp rows pad to 4 bytes
    pixels = b"\x00" * (row * h)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + dib + pixels


def _wav_fixture(n_channels: int, bits: int, n_samples: int, rate: int = 8000) -> bytes:
    import struct

    block = n_channels * bits // 8
    data = b"\x00" * (block * n_samples)
    fmt = struct.pack("<HHIIHH", 1, n_channels, rate, rate * block, block, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_real_libfree_formats():
    assert mm.decode_real("image", _bmp_fixture(37, 21)) == (37, 21, 1)
    # top-down BMP stores negative height
    import struct

    bmp = bytearray(_bmp_fixture(8, 4))
    struct.pack_into("<i", bmp, 22, -4)
    assert mm.decode_real("image", bytes(bmp)) == (8, 4, 1)
    assert mm.decode_real("image", b"P6\n# a comment\n640 480\n255\n" + b"\0" * 10) == (640, 480, 1)
    assert mm.decode_real("image", b"P2 12 7 255 ") == (12, 7, 1)
    assert mm.decode_real("audio", _wav_fixture(2, 16, 1000)) == (2, 16, 1000)
    # RIFF does not mandate chunk order: data before fmt is legal
    block = 2 * 16 // 8
    data = b"\x00" * (block * 250)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * block, block, 16)
    body = b"WAVE" + b"data" + struct.pack("<I", len(data)) + data
    body += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert mm.decode_real("audio", wav) == (2, 16, 250)
    with pytest.raises(ValueError):
        mm.decode_real("image", b"P6 oops")


def test_decode_features_real_path(spark):
    rows = [
        (1, "image", _bmp_fixture(64, 32)),
        (2, "image", b"P5\n10 20\n255\n" + b"\0" * 200),
        (3, "audio", _wav_fixture(1, 8, 500)),
    ]
    df = spark.createDataFrame(rows, "asset_id long, kind string, payload binary")
    got = {r["asset_id"]: r for r in mm.decode_features(df, use_stub=False).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_frames"]) == (64, 32, 1)
    assert (got[2]["width"], got[2]["height"]) == (10, 20)
    assert (got[3]["width"], got[3]["height"], got[3]["n_frames"]) == (1, 8, 500)
    import hashlib

    for aid, kind, payload in rows:
        assert got[aid]["n_bytes"] == len(payload)
        assert got[aid]["digest"] == hashlib.sha256(payload).hexdigest()


def test_decode_features_stub_path_is_pure_catalyst(spark):
    # the stub path is conv/substring arithmetic on the JVM digest: no
    # Python stage of ANY kind may appear in its plan (r3 verdict #4)
    assets = mm.synthetic_assets(spark, 20)
    feats = mm.decode_features(assets)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, plan
    # and the Catalyst expression agrees row-for-row with the Python
    # reference (_stub_features) and the documented digest derivation
    import hashlib

    payloads = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    for r in feats.collect():
        d = hashlib.sha256(payloads[r["asset_id"]]).digest()
        assert r["width"] == 16 + d[0] * 4
        assert r["height"] == 16 + d[1] * 4
        assert r["n_frames"] == (1 if r["kind"] == "image" else 1 + d[2])
        assert (r["width"], r["height"], r["n_frames"]) == mm._stub_features(
            r["kind"], r["digest"]
        )


def _all_pairs_reference(df, threshold: float) -> dict:
    """INDEPENDENT brute force for the near-dup operators: every pairwise
    cosine in one numpy matrix, {(i, j): sim rounded to 6} for i < j and
    cosine >= threshold."""
    import numpy as np

    rows = sorted(df.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"])
    ids = [int(r["vec_id"]) for r in rows]
    M = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    G = (M @ M.T) / (norms[:, None] * norms[None, :])
    x, y = np.nonzero(np.triu(G >= threshold, k=1))
    return {(ids[a], ids[b]): round(float(G[a, b]), 6) for a, b in zip(x, y)}


def _pairs(df) -> dict:
    return {(r["i"], r["j"]): r["sim"] for r in df.collect()}


def test_embedding_near_dup_exact(emb):
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    assert all(p["i"] < p["j"] and p["sim"] >= 0.4 for p in pairs)
    # identical pair set AND sims to the numpy all-pairs reference
    assert {(p["i"], p["j"]): p["sim"] for p in pairs} == _all_pairs_reference(emb, 0.4)
    got = {(p["i"], p["j"]) for p in pairs}
    low = similarity.embedding_near_dup_pairs(emb, threshold=0.3).collect()
    assert {(p["i"], p["j"]) for p in low} >= got  # monotone in threshold


def test_embedding_near_dup_lsh_precision_and_recall(emb):
    exact = set(_all_pairs_reference(emb, 0.35))
    approx = {
        (p["i"], p["j"])
        for p in similarity.embedding_near_dup_lsh(emb, threshold=0.35).collect()
    }
    assert approx <= exact  # exact verification -> precision 1.0
    if exact:
        assert len(approx) / len(exact) >= 0.6  # multi-table recall


def test_ann_ivf_recall(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=1).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_ivf_topk(emb, queries, k=1, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_ann_ivf_deterministic(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, similarity.ann_ivf_topk(emb, queries, k=2).collect()))
    b = sorted(map(tuple, similarity.ann_ivf_topk(emb, queries, k=2).collect()))
    assert a == b


def test_simhash_pairs_query_shape(docs):
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    assert all(p["i"] < p["j"] and p["hamming"] <= 3 for p in pairs)


def test_multimodal_resize_plan(spark):
    assets = mm.synthetic_assets(spark, 50)
    plan = mm.resize_plan(assets, target_w=128, target_h=96)
    rows = plan.collect()
    assert len(rows) == 50
    for r in rows:
        assert abs(r["scale_x"] - 128 / r["width"]) < 1e-9
        assert abs(r["scale_y"] - 96 / r["height"]) < 1e-9
        assert len(r["resized_digest"]) == 64
    # deterministic
    again = {r["asset_id"]: r["resized_digest"] for r in plan.collect()}
    assert all(again[r["asset_id"]] == r["resized_digest"] for r in rows)


def test_exact_duplicates_bounded_sample(spark):
    # one mega-group: n/min_id exact, ids bounded by sample_ids (the guard
    # against a pathological group blowing an aggregation buffer)
    df = spark.createDataFrame(
        [(i, "same text") for i in range(50)] + [(99, "unique")], "id long, t string"
    )
    got = dedup.exact_duplicates(df, "id", "t", sample_ids=10).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n"] == 50 and r["min_id"] == 0
    assert r["ids"] == list(range(10))  # first sample_ids ascending


def test_ann_ivf_small_corpus_clamps_k(emb):
    # corpus smaller than n_lists must degrade (fewer lists), not IndexError
    small = emb.filter(F.col("vec_id") < 5)
    queries = small.filter(F.col("vec_id") < 2)
    got = similarity.ann_ivf_topk(small, queries, k=2, n_lists=16, nprobe=8).collect()
    assert len(got) > 0


def test_lsh_planner_regimes():
    # low threshold + GEMM-able corpus: planner must refuse LSH (the 0.63 vs
    # 0.50 per-plane gap can't pay for banding when a blocked GEMM exists)
    plan, _, _ = similarity.lsh_near_dup_params(0.4, 2000)
    assert plan == "exhaustive"
    # high threshold, corpus beyond the broadcast bound: LSH wins
    plan, p, t = similarity.lsh_near_dup_params(0.85, 10_000_000)
    assert plan == "lsh" and p >= 6 and t >= 2
    # recall bound really holds at the threshold for the chosen params
    import math

    p1 = (1 - math.acos(0.85) / math.pi) ** p
    assert 1 - (1 - p1) ** t >= 0.95


def test_lsh_near_dup_auto_delegates_exact(emb):
    # at threshold 0.4 the planner runs the exact tiles -> output EQUALS
    # the all-pairs reference
    auto = _pairs(similarity.embedding_near_dup_lsh(emb, threshold=0.4))
    assert auto == _all_pairs_reference(emb, 0.4)


def test_lsh_near_dup_forced_banding_recall(spark):
    # planted near-dups at cosine ~0.9 over random background; force the
    # banded plan with planner-chosen params and measure recall/precision
    import math
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(100, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i < 30:  # planted near-dup: small perturbation -> cosine ~0.97
            rows.append((1000 + i, [float(x) for x in v + rng.normal(scale=0.12, size=64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    threshold = 0.85
    # params as the planner would pick for a beyond-GEMM corpus
    _, p, t = similarity.lsh_near_dup_params(threshold, 10_000_000)
    exact = set(_all_pairs_reference(df, threshold))
    got = {
        (r["i"], r["j"])
        for r in similarity.embedding_near_dup_lsh(
            df, threshold=threshold, n_planes=p, n_tables=t
        ).collect()
    }
    assert got <= exact  # exact verification -> precision 1.0
    assert len(exact) >= 25
    assert len(got) / len(exact) >= 0.95  # the tuner's recall target


def test_lsh_near_dup_auto_planner_picks_banding(spark):
    # VERDICT r2: the LSH branch must be exercised via the PLANNER, not
    # only with forced params. Planted near-dups at cosine ~0.97 +
    # expected_n beyond the GEMM bound -> the cost model picks ('lsh',P,T)
    # and the banded plan must hit its recall target against exact.
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(100, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i < 30:
            rows.append((1000 + i, [float(x) for x in v + rng.normal(scale=0.12, size=64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan, _, _ = similarity.lsh_near_dup_params(0.85, 10_000_000)
    assert plan == "lsh"
    exact = set(_all_pairs_reference(df, 0.85))
    got = {
        (r["i"], r["j"])
        for r in similarity.embedding_near_dup_lsh(
            df, threshold=0.85, expected_n=10_000_000
        ).collect()
    }
    assert got <= exact  # exact verification -> precision 1.0
    assert len(exact) >= 25
    assert len(got) / len(exact) >= 0.95  # the tuner's recall target


def test_lsh_near_dup_exhaustive_beyond_gemm_uses_tiled(emb, monkeypatch):
    # plan 'exhaustive' at n = 2M runs the exact tiles sized from the n the
    # planner already has: 250k vectors per block -> B = 8 (no count())
    plan, _, _ = similarity.lsh_near_dup_params(0.2, 2_000_000)
    assert plan == "exhaustive"
    blocks = []
    tile_pairs = similarity._tile_pairs

    def spy(rows, n_blocks, *a, **k):
        blocks.append(n_blocks)
        return tile_pairs(rows, n_blocks, *a, **k)

    monkeypatch.setattr(similarity, "_tile_pairs", spy)
    got = _pairs(similarity.embedding_near_dup_lsh(emb, threshold=0.2, expected_n=2_000_000))
    assert blocks == [8]
    assert got == _all_pairs_reference(emb, 0.2)


def test_lsh_near_dup_expected_n_scan_warns(emb):
    import warnings

    with pytest.warns(UserWarning, match="expected_n not set"):
        similarity.embedding_near_dup_lsh(emb, threshold=0.4)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the opt-in spelling must be silent
        similarity.embedding_near_dup_lsh(emb, threshold=0.4, expected_n="count")


def test_prefix_bound_float_ulp_guard(spark):
    # ADVICE r2: ceil(t*sz) can land one ulp high when t*sz is an exact
    # integer (t=1/91, sz=273 -> 3.0000000000000004). The fixed JVM-side
    # expression must agree with exact rational arithmetic on every such
    # hazardous combo (prefix may only ever be LONGER, never shorter).
    from fractions import Fraction

    combos = [(p, q, sz) for p in range(1, 30) for q in range(p + 1, 100)
              for sz in (q, 2 * q, 3 * q) if sz <= 300]
    df = spark.createDataFrame(
        [(p, q, sz, p / q) for (p, q, sz) in combos], "p int, q int, sz int, t double"
    )
    got = df.select(
        "p", "q", "sz", "t",
        (F.col("sz") - F.ceil(F.col("t") * F.col("sz") - F.lit(1e-9)) + 1).alias("bound"),
    ).collect()
    for r in got:
        # losslessness is relative to the DOUBLE threshold the verify
        # filter compares against — Fraction(t) is that value exactly,
        # the double *product* t*sz is what can round one ulp high
        exact = r["sz"] - (-(-(Fraction(r["t"]) * r["sz"]) // 1)) + 1
        assert r["bound"] >= exact, (r["p"], r["q"], r["sz"], r["bound"], exact)


def test_prefix_filter_is_lossless(spark, docs):
    # the prefix-filtered plan must equal the naive inverted index exactly
    for th in (0.3, 0.5, 0.8):
        fast = {
            (r["i"], r["j"]): round(r["jaccard"], 9)
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=th, candidate_plan="prefix"
            ).collect()
        }
        naive = {
            (r["i"], r["j"]): round(r["jaccard"], 9)
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=th, candidate_plan="naive"
            ).collect()
        }
        assert fast == naive, th


def test_prefix_filter_random_corpus(spark):
    import random

    rng = random.Random(11)
    vocab = [f"w{k}" for k in range(30)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(4, 15))))
            for i in range(80)]
    df = spark.createDataFrame(rows, "id long, t string")
    for th in (0.2, 0.5):
        fast = {(r["i"], r["j"]) for r in
                dedup.ngram_jaccard_pairs(df, "id", "t", n=2, threshold=th,
                                          candidate_plan="prefix").collect()}
        naive = {(r["i"], r["j"]) for r in
                 dedup.ngram_jaccard_pairs(df, "id", "t", n=2, threshold=th,
                                           candidate_plan="naive").collect()}
        assert fast == naive, th


def test_candidate_sketch_and_rule():
    # the decision rule against sketches TAKEN FROM the measured corpora
    # (dedup.choose_candidate_plan docstring): naive must be chosen in every
    # regime it was measured faster, prefix at both measured failure modes
    flat = {"postings": 260388, "cand_pairs": 1.27e6, "max_df": 25}
    mid = {"postings": 276940, "cand_pairs": 8.81e7, "max_df": 2493}
    dead_volume = {"postings": 795935, "cand_pairs": 5.24e8, "max_df": 100}
    dead_hotkey = {"postings": 795935, "cand_pairs": 1.0e8, "max_df": 7531}
    assert dedup.choose_candidate_plan(flat, 32) == "naive"
    assert dedup.choose_candidate_plan(mid, 32) == "naive"
    assert dedup.choose_candidate_plan(dead_volume, 32) == "prefix"
    assert dedup.choose_candidate_plan(dead_hotkey, 32) == "prefix"
    # both quadratic terms flip to prefix under corpus scale-up at fixed
    # parallelism: 10x the corpus is ~100x cand_pairs / ~10x max_df
    scaled = {"postings": flat["postings"] * 10,
              "cand_pairs": flat["cand_pairs"] * 100, "max_df": flat["max_df"] * 10}
    assert dedup.choose_candidate_plan({**scaled, "cand_pairs": 5e9}, 32) == "prefix"


def test_candidate_plan_auto(spark, docs):
    # end-to-end: on the flat driver corpus the sketch picks naive; on the
    # boilerplate Zipf fixture it picks prefix (the sketch crosses the
    # hot-key budget) — and BOTH auto outputs equal the fixed naive plan
    from tests.ziptext import zipf_corpus

    sk_flat = dedup.candidate_sketch(
        dedup.shingles(docs, "doc_id", "text", 3))
    assert dedup.choose_candidate_plan(sk_flat, 32) == "naive"

    zdf = zipf_corpus(spark, 800, boiler_frac=0.95, header_words=30).persist()
    zdf.count()
    sk_zipf = dedup.candidate_sketch(dedup.shingles(zdf, "doc_id", "text", 3))
    # every boilerplate doc shares the header shingles: df ~ 0.95*n
    assert sk_zipf["max_df"] > 700
    assert dedup.choose_candidate_plan(
        sk_zipf, 32, rows_per_task=1e5, hot_key_rows=2e5) == "prefix"
    for corpus in (docs, zdf):
        auto = {(r["i"], r["j"]): round(r["jaccard"], 9)
                for r in dedup.ngram_jaccard_pairs(
                    corpus, "doc_id", "text", n=3, threshold=0.5,
                    candidate_plan="auto").collect()}
        naive = {(r["i"], r["j"]): round(r["jaccard"], 9)
                 for r in dedup.ngram_jaccard_pairs(
                     corpus, "doc_id", "text", n=3, threshold=0.5,
                     candidate_plan="naive").collect()}
        assert auto == naive
    zdf.unpersist()


def test_duplicated_spans_hand_corpus(spark):
    rows = [
        (1, "a b c d e f g h i j"),                    # shares 8-gram with doc 2
        (2, "x y a b c d e f g h z"),
        (3, "p q r s t u v w p q r s t u v w"),        # internal repeat -> one span
        (4, "k l m"),                                  # shorter than n: no windows
        (5, "a b c d e f g h u1 u2 u3 u4 u5 u6 u7 u8 u9 p q r s t u v w"),  # two islands
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id"], r["span_start"], r["span_len"], r["n_dup_windows"])
        for r in dedup.duplicated_spans(df, "doc_id", "text", n=8).collect()
    }
    want = {
        (1, 0, 8, 1), (2, 2, 8, 1),
        (3, 0, 16, 2),            # pos 0 and 8 merge: 8 - 0 <= n
        (5, 0, 8, 1), (5, 17, 8, 1),  # u1..u9 filler puts the second island at 17
    }
    assert got == want
    # hash and text grouping produce identical spans
    got_txt = {
        (r["id"], r["span_start"], r["span_len"], r["n_dup_windows"])
        for r in dedup.duplicated_spans(df, "doc_id", "text", n=8, by_hash=False).collect()
    }
    assert got_txt == want
    # doc 5 makes both shared 8-grams df=3, so min_df=3 keeps all spans...
    assert dedup.duplicated_spans(df, "doc_id", "text", n=8, min_df=3).count() == 5
    # ...and min_df above every window frequency yields none
    assert dedup.duplicated_spans(df, "doc_id", "text", n=8, min_df=4).count() == 0


def test_duplicated_spans_on_documents(spark, docs):
    spans = dedup.duplicated_spans(docs, "doc_id", "text", n=8).collect()
    assert len(spans) > 0  # the corpus has injected near-dups
    for r in spans:
        assert r["span_len"] >= 8 and r["n_dup_windows"] >= 1
        assert r["span_len"] == 8 + (r["span_len"] - 8)  # sanity: well-formed
    a = {(r["id"], r["span_start"], r["span_len"])
         for r in dedup.duplicated_spans(docs, "doc_id", "text", n=8, by_hash=False).collect()}
    b = {(r["id"], r["span_start"], r["span_len"]) for r in spans}
    assert a == b


def test_strip_spans(spark):
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y a b c d e f g h z"),
        (3, "p q r s t u v w p q r s t u v w"),
        (4, "k l m"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.duplicated_spans(df, "doc_id", "text", n=8)
    got = {r["id"]: (r["clean_text"], r["n_removed"])
           for r in dedup.strip_spans(df, spans, "doc_id", "text").collect()}
    assert got == {
        1: ("i j", 8),
        2: ("x y z", 8),
        3: ("", 16),       # whole doc was duplicated
        4: ("k l m", 0),   # untouched passthrough
    }


def test_tiled_near_dup_equals_numpy_all_pairs(emb):
    want = _all_pairs_reference(emb, 0.35)
    rows = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    for n_blocks in (1, 3, 8):
        assert _pairs(similarity._tile_pairs(rows, n_blocks, 0.35)) == want, n_blocks


@pytest.mark.parametrize("n_blocks", [1, 2, 5])
def test_tile_replication_is_exact_triangle(spark, n_blocks):
    # each row lands in exactly B tiles, one per block pair (p <= q) that
    # contains its block, and each tile holds exactly blocks p and q
    from collections import defaultdict

    rows = spark.range(40)
    got = similarity._replicate_tiles(rows, n_blocks).collect()
    block = {r["id"]: r["blk"] for r in got}
    assert set(block) == set(range(40))
    copies = defaultdict(list)
    tiles = defaultdict(set)
    for r in got:
        assert r["blk"] == block[r["id"]] and r["p"] <= r["q"]
        copies[r["id"]].append((r["p"], r["q"]))
        tiles[(r["p"], r["q"])].add(r["id"])
    for i, ts in copies.items():
        want = sorted((min(block[i], y), max(block[i], y)) for y in range(n_blocks))
        assert sorted(ts) == want and len(set(ts)) == n_blocks
    for (p, q), ids in tiles.items():
        assert ids == {i for i, b in block.items() if b in (p, q)}


def test_tile_kernel_chunking_is_exact(monkeypatch):
    # a chunk budget far below the tile gives the unchunked output exactly,
    # for an intra tile (one block) and a cross tile (two blocks)
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    V = rng.normal(size=(60, 8))
    V[30:] = V[:30] + rng.normal(scale=0.3, size=(30, 8))  # near-dups
    frame = pd.DataFrame({"id": rng.permutation(1000)[:60], "v": list(V)})
    left, right = frame[:25], frame[25:]
    cases = [(frame, frame, True), (left, right, False)]
    whole = [similarity._tile_pair_frame(0.5, a, b, intra, {"c": 7}) for a, b, intra in cases]
    assert all(len(w) > 0 for w in whole)
    for budget in (1, 7, 50):
        monkeypatch.setattr(similarity, "TILE_CHUNK_ENTRIES", budget)
        for (a, b, intra), want in zip(cases, whole):
            got = similarity._tile_pair_frame(0.5, a, b, intra, {"c": 7})
            key = ["i", "j"]
            pd.testing.assert_frame_equal(
                got.sort_values(key).reset_index(drop=True),
                want.sort_values(key).reset_index(drop=True),
            )


def test_near_dup_rejects_partial_parameters(emb):
    with pytest.raises(ValueError, match="both n_planes and n_tables"):
        similarity.embedding_near_dup_lsh(emb, n_planes=6)
    with pytest.raises(ValueError, match="both n_planes and n_tables"):
        similarity.embedding_near_dup_lsh(emb, n_tables=6)
    with pytest.raises(ValueError, match="cell_blocks"):
        similarity.semdedup_pairs(emb, cell_blocks=0)


# --- SemDeDup (cluster-scoped near-dup) --------------------------------------
def test_semdedup_single_cluster_equals_exact(emb):
    # one cluster = exhaustive: output must equal the all-pairs reference
    exact = _all_pairs_reference(emb, 0.4)
    got = {
        (r["i"], r["j"]): r["sim"]
        for r in similarity.semdedup_pairs(emb, threshold=0.4, n_clusters=1).collect()
    }
    assert got == exact and len(exact) > 0


def test_semdedup_clustered_subset_of_exact(emb):
    exact = _all_pairs_reference(emb, 0.4)
    rows = similarity.semdedup_pairs(emb, threshold=0.4, n_clusters=4).collect()
    assert len(rows) > 0
    for r in rows:
        # precision 1: every emitted pair is a true pair with the exact sim
        assert exact[(r["i"], r["j"])] == r["sim"]
    # same-cell scoping: both endpoints carry the emitting cluster id
    assert all(r["cluster"] is not None and r["cluster"] >= 0 for r in rows)


def test_semdedup_high_threshold_recall_on_planted_corpus(spark):
    # planted 0.9-cosine duplicate pairs living in tight groups: k-means
    # cells must keep essentially all of them (the SemDeDup premise)
    import math
    import random

    rng = random.Random(5)
    rows = []
    vid = 0
    for g in range(6):
        base = [rng.gauss(0, 1) for _ in range(16)]
        for _ in range(20):
            jit = [b + rng.gauss(0, 0.08) for b in base]
            rows.append((vid, jit))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = len(_all_pairs_reference(df, 0.9))
    got = similarity.semdedup_pairs(
        df, threshold=0.9, n_clusters=6, kmeans_iters=3, dim=16, seed=7
    ).count()
    assert exact > 100
    # boundary-straddling pairs are the documented approximation; a seeded
    # k-means occasionally splits one planted group across two cells
    assert 0.85 <= got / exact <= 1.0


def test_semdedup_cell_blocks_identical_output(emb):
    base = sorted(
        (r["cluster"], r["i"], r["j"], r["sim"])
        for r in similarity.semdedup_pairs(emb, threshold=0.4, n_clusters=4).collect()
    )
    tiled = sorted(
        (r["cluster"], r["i"], r["j"], r["sim"])
        for r in similarity.semdedup_pairs(
            emb, threshold=0.4, n_clusters=4, cell_blocks=3
        ).collect()
    )
    assert base == tiled and len(base) > 0


def test_dup_clusters_raises_when_not_converged(spark):
    # a 200-node path needs 9 star rounds; with max_iters=3 the edges are
    # still moving — that must be an error, not a silently split component
    pairs = spark.createDataFrame([(i, i + 1) for i in range(200)], "i long, j long")
    with pytest.raises(RuntimeError, match="not a fixed point"):
        dedup.dup_clusters_star(pairs, max_iters=3)
    # and with room to converge the same chain is one component
    full = dedup.dup_clusters_star(pairs, max_iters=40).collect()
    assert {r["cluster"] for r in full} == {0} and len(full) == 201


def test_dup_clusters_star_closes_long_chain_in_log_rounds(spark):
    # a 200-node path: min-label would need ~100 rounds; star contraction
    # must converge within ~log2(200) + slack
    pairs = spark.createDataFrame([(i, i + 1) for i in range(200)], "i long, j long")
    got = {r["id"]: r["cluster"] for r in dedup.dup_clusters_star(pairs, max_iters=14).collect()}
    assert set(got.values()) == {0} and len(got) == 201


def test_dup_clusters_star_shapes(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "i long, j long",
    )
    got = {r["id"]: r["cluster"] for r in dedup.dup_clusters_star(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_apply_dedup_keeps_canonicals_and_singletons(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    clusters = dedup.dup_clusters_star(pairs)
    kept = dedup.apply_dedup(docs, clusters, "doc_id")
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    cl = {r["id"]: r["cluster"] for r in clusters.collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    # dropped = exactly the non-canonical members; one survivor per group
    assert kept_ids == all_ids - {i for i, c in cl.items() if c != i}
    for c in set(cl.values()):
        assert c in kept_ids
    assert len(cl) > 0


def test_ngram_contamination_planted(spark):
    train = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "entirely different training material here today")],
        "id long, t string",
    )
    ev = spark.createDataFrame(
        [(1, "the quick brown fox appears verbatim"),   # leading 3-grams overlap
         (2, "no overlap with anything in training"),
         (3, "ab cd")],                                  # too short for 3-grams
        "id long, t string",
    )
    got = {r["id"]: r for r in dedup.ngram_contamination(train, ev, "id", "t").collect()}
    assert 3 not in got
    assert got[2]["n_contaminated"] == 0 and got[2]["contamination_rate"] == 0.0
    # doc 1: 4 distinct 3-grams, 2 of which ("the quick brown", "quick brown fox")
    # appear in train
    assert got[1]["n_shingles"] == 4 and got[1]["n_contaminated"] == 2
    assert got[1]["contamination_rate"] == 0.5
    # hash-keyed (8-byte shuffle keys) and text-keyed runs agree exactly
    txt = {tuple(r) for r in
           dedup.ngram_contamination(train, ev, "id", "t", by_hash=False).collect()}
    assert {tuple(r) for r in got.values()} == txt


def test_ngram_contamination_hash_equals_text_on_documents(spark, docs):
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    a = sorted(map(tuple, dedup.ngram_contamination(
        docs, ev, "doc_id", "text", n=5, by_hash=True).collect()))
    b = sorted(map(tuple, dedup.ngram_contamination(
        docs, ev, "doc_id", "text", n=5, by_hash=False).collect()))
    assert a == b


def test_gopher_rules_flags(spark):
    long_ok = " ".join(["word"] * 60)
    df = spark.createDataFrame(
        [
            (1, long_ok),                               # passes everything
            (2, "short doc"),                           # word-count fail
            (3, " ".join(["###"] * 60)),                # symbol + alpha fail
            (4, "\n".join(["- item " + "w " * 30] * 5)),  # all-bullet fail
        ],
        "id long, t string",
    )
    got = {r["id"]: r for r in text.gopher_rules(df, "id", "t").collect()}
    assert got[1]["pass_gopher"] and got[1]["flag_word_count"]
    assert not got[2]["flag_word_count"] and not got[2]["pass_gopher"]
    assert not got[3]["flag_symbol_ratio"] and not got[3]["flag_alpha_words"]
    assert not got[4]["flag_bullet_ratio"] and got[4]["bullet_ratio"] == 1.0
    # 5 identical lines -> 4/5 duplicates: the repetition flag trips
    assert got[4]["dup_line_ratio"] == 0.8 and not got[4]["flag_dup_lines"]
    assert got[1]["flag_dup_lines"]


def _union_find(edges) -> dict:
    """Reference connected components: ``{id: min id of its component}``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


#: (nodes, edges) of fixed-size fuzz graphs; the other seeds draw both
_FUZZ_SHAPES = {5: (60, 80), 9: (80, 110)}


@pytest.mark.parametrize("seed", [11, 12, 13, 14, 5, 9])
def test_dup_clusters_star_fuzz_vs_union_find(spark, seed):
    import random

    rng = random.Random(seed)
    n_nodes, n_edges = _FUZZ_SHAPES.get(seed) or (rng.randint(20, 120), rng.randint(10, 180))
    edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    if not edges:
        edges = [(0, 1)]
    pairs = spark.createDataFrame(edges, "i long, j long")
    got = {r["id"]: r["cluster"] for r in dedup.dup_clusters_star(pairs).collect()}
    assert got == _union_find(edges), seed


def test_dup_clusters_star_hub_with_chain(spark):
    # the star shape round 1 makes of a near-clique: one hub whose whole
    # neighborhood lands in one window partition, plus a chain hanging off
    # it that carries the component min, and a separate small component
    hub = 100_000
    edges = [(hub, hub + k) for k in range(1, 5_001)]
    edges += [(i, i + 1) for i in range(10, 40)] + [(40, hub)]
    edges += [(7, 8), (8, 9)]
    pairs = spark.createDataFrame(edges, "i long, j long")
    got = {r["id"]: r["cluster"] for r in dedup.dup_clusters_star(pairs).collect()}
    assert got == _union_find(edges)
    assert got[hub + 5_000] == 10 and got[9] == 7


def test_dup_clusters_star_job_count(spark):
    # one Spark action per round plus the input checkpoint: measured 13 jobs
    # (input 1, three rounds of 4 — each shuffle stage is its own job under
    # AQE); a blocking convergence probe per round would exceed the bound
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "i long, j long",
    )
    sc.setJobGroup("dup_clusters_star_job_count", "job-count gate")
    try:
        dedup.dup_clusters_star(pairs)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("dup_clusters_star_job_count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < n_jobs <= 13, n_jobs


def test_simhash_pairs_exact_recall_for_any_bound(spark, docs):
    # pigeonhole banding must find EVERY pair within the bound — including
    # hammings 4..6+ that the old fixed 4x16 layout silently missed
    fps = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    ids = sorted(fps)
    for mh in (3, 6, 12):
        got = {
            (r["i"], r["j"]): r["hamming"]
            for r in dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=mh).collect()
        }
        want = {}
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                h = bin((fps[ids[x]] ^ fps[ids[y]]) & (2**64 - 1)).count("1")
                if h <= mh:
                    want[(ids[x], ids[y])] = h
        assert got == want, mh
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=64)


def test_pii_scrub_planted(spark):
    from yaschva_spark.ops import text as txt

    rows = [
        (1, "mail me at jo.doe+x@corp.example.org or root@a.io thanks"),
        (2, "server 192.168.1.254 and 10.0.0.1 up"),
        (3, "ssn 123-45-6789 phone +14155550123"),
        (4, "nothing sensitive here 1.2 v3"),
        (5, "edge 999.999.999.999 still dotted-quad shaped"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["id"]: r for r in txt.pii_scrub(df, "id", "t").collect()}
    assert got[1]["clean_text"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert got[1]["n_email"] == 2 and got[1]["n_ipv4"] == 0
    assert got[2]["clean_text"] == "server <IP> and <IP> up"
    assert got[2]["n_ipv4"] == 2
    assert got[3]["clean_text"] == "ssn <ID> phone <PHONE>"
    assert got[3]["n_ssn"] == 1 and got[3]["n_phone"] == 1
    assert got[4]["clean_text"] == rows[3][1]  # untouched
    assert all(got[4][c] == 0 for c in ("n_email", "n_ipv4", "n_ssn", "n_phone"))
    # the pattern is shape-based, not a validator: 999.* is redacted too
    assert got[5]["n_ipv4"] == 1
    # pure Catalyst: a projection with no shuffle and no Python stage
    p = txt.pii_scrub(df, "id", "t")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "Python" not in p and "Pandas" not in p
