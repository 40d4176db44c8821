"""Direct unit tests for table-level checks not fully covered by the
DuckDB oracle gate: KS drift (applyInPandas, no SQL oracle), the plain vs
fingerprint uniqueness paths, and column_stats' HLL sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yaschva_spark import checks


def test_drift_ks_orders_groups_by_shift(spark):
    # group 'same' draws from the pooled distribution; group 'shifted' is
    # displaced by +500 — its KS statistic must dominate
    base = spark.range(0, 4000).select(
        F.lit("same").alias("g"), (F.col("id") % 1000).cast("double").alias("x")
    )
    shifted = spark.range(0, 4000).select(
        F.lit("shifted").alias("g"),
        ((F.col("id") % 1000) + 500).cast("double").alias("x"),
    )
    df = base.unionByName(shifted)
    got = {r["g"]: r for r in checks.drift_ks(df, "g", "x").collect()}
    assert set(got) == {"same", "shifted"}
    assert got["same"]["n_rows"] == 4000 and got["shifted"]["n_rows"] == 4000
    # the pooled ECDF sits halfway between the two groups: each group
    # deviates ~0.25 at the crossover, the shifted one strictly more than
    # the unshifted one can't be near zero either — assert the ordering and
    # sane magnitudes rather than exact values (grid is approximate)
    assert got["shifted"]["ks_stat"] > got["same"]["ks_stat"] - 1e-9
    assert 0.1 < got["shifted"]["ks_stat"] <= 1.0
    # identical-to-pooled sanity: a lone group IS the pooled distribution
    solo = base.withColumn("g", F.lit("only"))
    stat = checks.drift_ks(solo, "g", "x").collect()[0]["ks_stat"]
    assert stat < 0.05


def test_drift_ks_empty_group_values(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", None)], "g string, x double"
    )
    got = {r["g"]: r["ks_stat"] for r in checks.drift_ks(df, "g", "x").collect()}
    # a group with no values keeps its row; the statistic comes back SQL
    # NULL (Arrow folds the kernel's NaN into null for a double column)
    assert got["b"] is None
    assert got["a"] is not None


def test_duplicate_keys_plain_matches_fingerprint(spark):
    df = spark.createDataFrame(
        [(i % 7, "k") for i in range(100)] + [(99, "x")], "a long, b string"
    )
    plain = {(r["a"], r["b"]): r["dup_count"]
             for r in checks.duplicate_keys(df, ["a", "b"]).collect()}
    fp = {(r["a"], r["b"]): r["dup_count"]
          for r in checks.duplicate_keys_via_fingerprint(df, ["a", "b"]).collect()}
    assert plain == fp
    assert all(v == 100 // 7 + (1 if k[0] < 100 % 7 else 0) for k, v in plain.items())


def test_column_stats_hll_sanity(spark):
    df = spark.range(0, 20000).select(
        (F.col("id") % 1234).alias("k"), F.col("id").cast("double").alias("v")
    )
    stats = {r["column"]: r for r in checks.column_stats(df).collect()}
    assert abs(stats["k"]["approx_distinct"] - 1234) / 1234 < 0.05
    assert stats["v"]["null_count"] == 0
    assert stats["v"]["min_value"] == 0.0 and stats["v"]["max_value"] == 19999.0


def test_fingerprint_distinguishes_null_positions(spark):
    # xxhash64 skips NULL children: without per-column null flags,
    # ('a', NULL, 'x') and ('a', 'x', NULL) collide at ANY scale
    df = spark.createDataFrame(
        [("a", None, "x"), ("a", "x", None), ("b", "y", "z")],
        "r string, p string, c string",
    )
    assert checks.duplicate_key_fingerprints(df, ["r", "p", "c"]).count() == 0
    assert checks.duplicate_keys_via_fingerprint(df, ["r", "p", "c"]).count() == 0


def test_fingerprint_seeds_are_independent(spark):
    # front-seeded chains: fp1 and fp2 must not be a deterministic function
    # of each other (trailing-seed construction made fp2 = g(fp1))
    df = spark.range(0, 2000).select(F.col("id").cast("string").alias("k"))
    rows = df.select(
        checks._key_fingerprint(["k"], 1).alias("fp1"),
        checks._key_fingerprint(["k"], 2).alias("fp2"),
    ).collect()
    # xor of independent hashes should itself look uniform: no repeats here
    xors = {r["fp1"] ^ r["fp2"] for r in rows}
    assert len(xors) == len(rows)


def test_drift_chi2_single_scan_plan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = checks.drift_chi2(df, "source", "lang")._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1, plan  # one scan of the fact table


def test_drift_chi2_matches_dense_grid_reference(spark):
    # algebraic fold of absent cells must equal the dense-grid formula
    import itertools

    rows = [("g1", "a")] * 5 + [("g1", "b")] * 3 + [("g2", "a")] * 7 + [("g2", "c")] * 2
    df = spark.createDataFrame(rows, "g string, c string")
    got = {r["g"]: r["chi2"] for r in checks.drift_chi2(df, "g", "c").collect()}
    from collections import Counter

    obs = Counter(rows)
    n_g = Counter(g for g, _ in rows)
    n_c = Counter(c for _, c in rows)
    n = len(rows)
    for g in n_g:
        chi2 = sum(
            (obs.get((g, c), 0) - n_g[g] * n_c[c] / n) ** 2 / (n_g[g] * n_c[c] / n)
            for c in n_c
        )
        assert got[g] == pytest.approx(chi2, abs=1e-5), g


def test_drift_psi_matches_reference_formula(spark):
    # dense-grid reference incl. the eps clamp for a group-absent category
    import math
    from collections import Counter

    rows = [("g1", "a")] * 5 + [("g1", "b")] * 3 + [("g2", "a")] * 7 + [("g2", "c")] * 2
    df = spark.createDataFrame(rows, "g string, c string")
    eps = 1e-6
    got = {r["g"]: r for r in checks.drift_psi(df, "g", "c", eps=eps).collect()}
    obs = Counter(rows)
    n_g = Counter(g for g, _ in rows)
    n_c = Counter(c for _, c in rows)
    n = len(rows)
    for g in n_g:
        psi = sum(
            (max(obs.get((g, c), 0) / n_g[g], eps) - max(n_c[c] / n, eps))
            * math.log(max(obs.get((g, c), 0) / n_g[g], eps) / max(n_c[c] / n, eps))
            for c in n_c
        )
        assert got[g]["n_rows"] == n_g[g]
        assert got[g]["psi"] == pytest.approx(psi, abs=1e-5), g


def test_drift_psi_orders_groups_by_shift(spark):
    base = spark.range(0, 3000).select(
        F.lit("same").alias("g"), (F.col("id") % 5).cast("string").alias("c")
    )
    skewed = spark.range(0, 3000).select(
        F.lit("skewed").alias("g"),
        F.when(F.col("id") % 10 < 8, "0").otherwise((F.col("id") % 5).cast("string")).alias("c"),
    )
    got = {r["g"]: r["psi"] for r in checks.drift_psi(base.unionByName(skewed), "g", "c").collect()}
    assert got["skewed"] > got["same"] > 0.0
    assert got["skewed"] > 0.25  # classic "shifted" alert level


def test_drift_psi_single_scan_plan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = checks.drift_psi(df, "source", "lang")._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1, plan


def test_numeric_profile_exact_quantiles(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", None),
         ("b", 10.0), ("n", None)],
        "g string, x double",
    )
    rows = checks.numeric_profile(df, "g", "x", fracs=(0.0, 0.5, 1.0)).collect()
    by = {(r["g"], r["fraction"]): r for r in rows}
    # NULL excluded: n_values=4; median of 1..4 interpolates to 2.5
    assert by[("a", 0.5)]["quantile_value"] == 2.5
    assert by[("a", 0.0)]["quantile_value"] == 1.0 and by[("a", 1.0)]["quantile_value"] == 4.0
    assert by[("a", 0.5)]["n_values"] == 4 and by[("a", 0.5)]["mean_value"] == 2.5
    # single-value group: all quantiles equal it, stddev NULL (sample stddev of 1)
    assert by[("b", 0.5)]["quantile_value"] == 10.0 and by[("b", 0.5)]["stddev_value"] is None
    # all-NULL group explodes to zero rows (matches SQL unnest(NULL))
    assert not [k for k in by if k[0] == "n"]


@pytest.mark.parametrize("seed", range(6))
def test_drift_psi_fold_matches_dense_grid_fuzz(spark, seed):
    # the algebraic absent-cell fold must equal the dense-grid formula on
    # random sparse contingency tables (incl. groups missing many cats)
    import math
    import random
    from collections import Counter

    rng = random.Random(seed)
    groups = [f"g{i}" for i in range(rng.randint(2, 5))]
    cats = [f"c{i}" for i in range(rng.randint(2, 8))]
    rows = []
    for g in groups:
        for c in cats:
            if rng.random() < 0.6:  # sparse: many absent cells
                rows.extend([(g, c)] * rng.randint(1, 30))
    if not rows:
        rows = [(groups[0], cats[0])]
    df = spark.createDataFrame(rows, "g string, c string")
    eps = 1e-6
    got = {r["g"]: r["psi"] for r in checks.drift_psi(df, "g", "c", eps=eps).collect()}
    obs = Counter(rows)
    n_g = Counter(g for g, _ in rows)
    n_c = Counter(c for _, c in rows)
    present_cats = set(n_c)
    n = len(rows)
    for g in n_g:
        want = sum(
            (max(obs.get((g, c), 0) / n_g[g], eps) - max(n_c[c] / n, eps))
            * math.log(max(obs.get((g, c), 0) / n_g[g], eps) / max(n_c[c] / n, eps))
            for c in present_cats
        )
        assert got[g] == pytest.approx(want, abs=1e-5), (seed, g)


def test_drift_chi2_and_psi_null_category_is_a_level(spark):
    # NULL categories are a real level (engine windows are null-safe); the
    # oracle's join must use IS NOT DISTINCT FROM to agree — this guards
    # the semantics directly against the dense-grid formula
    import math
    from collections import Counter

    rows = ([("g1", "a")] * 6 + [("g1", None)] * 2
            + [("g2", "a")] * 3 + [("g2", None)] * 5)
    df = spark.createDataFrame(rows, "g string, c string")
    obs = Counter(rows)
    n_g = Counter(g for g, _ in rows)
    n_c = Counter(c for _, c in rows)
    n = len(rows)
    chi2 = {r["g"]: r["chi2"] for r in checks.drift_chi2(df, "g", "c").collect()}
    psi = {r["g"]: r["psi"] for r in checks.drift_psi(df, "g", "c").collect()}
    eps = 1e-6
    for g in n_g:
        want_chi2 = sum(
            (obs.get((g, c), 0) - n_g[g] * n_c[c] / n) ** 2 / (n_g[g] * n_c[c] / n)
            for c in n_c
        )
        want_psi = sum(
            (max(obs.get((g, c), 0) / n_g[g], eps) - max(n_c[c] / n, eps))
            * math.log(max(obs.get((g, c), 0) / n_g[g], eps) / max(n_c[c] / n, eps))
            for c in n_c
        )
        assert chi2[g] == pytest.approx(want_chi2, abs=1e-5), g
        assert psi[g] == pytest.approx(want_psi, abs=1e-5), g


def test_completeness_daily_zero_fills_gaps(spark):
    import datetime as dt

    from yaschva_spark.checks import completeness_daily

    rows = [
        (dt.datetime(2024, 1, 1, 5),), (dt.datetime(2024, 1, 1, 9),),
        (dt.datetime(2024, 1, 4, 0),),  # 3-day hole: Jan 2 and 3 missing
        (None,),                        # null ts excluded from the calendar
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = {(str(r["day"]), r["n"]) for r in completeness_daily(df, "ts").collect()}
    assert got == {
        ("2024-01-01", 2), ("2024-01-02", 0), ("2024-01-03", 0), ("2024-01-04", 1),
    }
    # all-null / empty input yields an empty calendar, not a crash
    empty = spark.createDataFrame([(None,)], "ts timestamp")
    assert completeness_daily(empty, "ts").count() == 0


def test_regex_check_uses_ecma_semantics(spark):
    # ECMA `$` is end of input: "src5\n" misses, where Java's own `$`
    # would match before the trailing newline
    df = spark.createDataFrame([("src5",), ("src5\n",), (None,), ("x",)], "source string")
    got = checks.regex_check(df, "source", "^src[0-9]+$").collect()[0]
    assert (got["n_match"], got["n_miss"]) == (1, 3)
    with pytest.raises(ValueError):
        checks.regex_check(df, "source", r"\p{Letter}")
