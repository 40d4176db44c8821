"""Synthetic tables for the north-rule input shape (BASELINE.json input_hint).

``code_files(spark, n_rows)`` builds the source-code table
``(repo, path, commit, lang, content)`` **distributively**: every column is a
pure Catalyst expression over ``spark.range(n)`` seeded by ``xxhash64`` — no
driver-side data, no Python, so the same generator scales from 10^4 rows in
tests to 10^9+ on a cluster. Determinism: same (n_rows, seed) -> identical
table, partitioning-independent.

Injected violations at known, deterministic rates (FIXTURES.md §3):

* ~0.5%  commit not 40-hex        -> regex_mismatch on $.commit
* ~0.3%  lang outside the enum    -> enum_mismatch on $.lang
* ~0.2%  empty repo               -> str_too_short on $.repo
* ~0.1%  null content             -> not_string on $.content
* ~0.2%  repo absent from dim     -> referential-integrity orphans
* ~0.05% duplicated (repo,path,commit) triples -> uniqueness violations
* one hot repo holds ~20% of rows (skew exercise)
* one drift bucket (lang + content-length distribution shifted)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["python", "typescript", "javascript", "go", "rust", "java", "c", "markdown"]
_EXT = {
    "python": "py", "typescript": "ts", "javascript": "js", "go": "go",
    "rust": "rs", "java": "java", "c": "c", "markdown": "md",
}
HOT_REPO = "bigorg/monorepo"
GHOST_ORG = "ghost_org"  # repos injected into facts but absent from the dim

#: the flagship validation schema for the code table (FIXTURES.md §3)
CODE_SCHEMA = {
    "repo": {"$string": {"minLength": 1, "regex": "^[A-Za-z0-9_.-]+/[A-Za-z0-9_.-]+$"}},
    "path": {"$string": {"minLength": 1, "maxLength": 4096}},
    "commit": {"$string": {"regex": "^[a-f0-9]{40}$"}},
    "lang": {"$enum": LANGS},
    "content": "string",
}

_WORDS = (
    "fn let const import return class struct match case async await spawn "
    "map filter reduce table column schema query index vector batch stream"
).split()


def _h(col, salt: int, seed: int):
    """Deterministic 64-bit hash stream; abs to keep pmod simple."""
    return F.abs(F.xxhash64(col, F.lit(salt), F.lit(seed)))


def code_files(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    n_orgs: int = 50,
    repos_per_org: int = 40,
    hot_pct: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """The fact table. Fully expression-generated; see module docstring."""
    rng = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    id_ = F.col("id")
    h1, h2, h3, h4 = (_h(id_, k, seed) for k in (1, 2, 3, 4))

    org = F.pmod(h1, F.lit(n_orgs))
    rep = F.pmod(h2, F.lit(repos_per_org))
    base_repo = F.concat(F.lit("org_"), org.cast("string"), F.lit("/repo_"), rep.cast("string"))
    # skew: hot_pct% of rows in one hot repo
    repo = F.when(F.pmod(h3, F.lit(100)) < hot_pct, F.lit(HOT_REPO)).otherwise(base_repo)
    # RI orphans ~0.2%: repo not present in the dimension
    repo = F.when(
        F.pmod(h4, F.lit(1000)).isin(7, 8),
        F.concat(F.lit(GHOST_ORG + "/repo_"), F.pmod(h1, F.lit(10)).cast("string")),
    ).otherwise(repo)
    # empty repo ~0.2% (fails minLength AND regex -> first-error-only: too_short)
    repo = F.when(F.pmod(h4, F.lit(1000)).isin(13, 14), F.lit("")).otherwise(repo)

    lang_idx = F.pmod(h2, F.lit(len(LANGS)))
    lang = F.array(*[F.lit(x) for x in LANGS])[lang_idx]
    # drift bucket: rows of org_0 skew heavily toward markdown
    lang = F.when(
        (org == 0) & (F.pmod(h3, F.lit(10)) < 6), F.lit("markdown")
    ).otherwise(lang)
    # ~0.3% lang outside the enum
    lang = F.when(F.pmod(h4, F.lit(1000)).isin(21, 22, 23), F.lit("klingon")).otherwise(lang)

    ext = F.array(*[F.lit(_EXT[x]) for x in LANGS])[lang_idx]
    path = F.concat(
        F.lit("src/dir_"), F.pmod(h3, F.lit(97)).cast("string"),
        F.lit("/file_"), F.pmod(h1, F.lit(9973)).cast("string"),
        F.lit("."), ext,
    )

    commit = F.substring(F.sha2(F.concat(id_.cast("string"), F.lit(seed)), 256), 1, 40)
    # ~0.5% invalid commit (uppercase hex fails the lowercase-only regex)
    commit = F.when(F.pmod(h4, F.lit(1000)) < 5, F.upper(commit)).otherwise(commit)

    # content: pseudo-source text, length roughly log-normal-ish via squaring
    n_words = (F.pmod(h3, F.lit(24)) * F.pmod(h2, F.lit(24)) + 5).cast("int")
    # drift bucket: org_0 content much shorter
    n_words = F.when(org == 0, (n_words / 4 + 1).cast("int")).otherwise(n_words)
    word = F.array(*[F.lit(w) for w in _WORDS])[F.pmod(h1, F.lit(len(_WORDS)))]
    line = F.concat_ws(
        " ", word, F.lit("x_"), F.sha2(F.concat(id_.cast("string"), F.lit("w")), 256)
    )
    content = F.concat(F.repeat(F.concat(word, F.lit(" ")), n_words), line)
    # ~0.1% null content
    content = F.when(F.pmod(h4, F.lit(1000)) == 33, F.lit(None)).otherwise(content)

    df = rng.select(
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
        id_.alias("row_id"),
    )
    # ~0.05% duplicated (repo,path,commit) triples: re-emit a deterministic
    # slice (union keeps this fully distributed)
    dupes = df.where(F.pmod(_h(F.col("row_id"), 5, seed), F.lit(2000)) == 0)
    return df.unionByName(dupes).drop("row_id")


def repos_dim(
    spark: SparkSession,
    seed: int = 42,
    n_orgs: int = 50,
    repos_per_org: int = 40,
) -> DataFrame:
    """The repo dimension: covers every legitimate fact repo (hot repo
    included) but not the injected ghost orphans."""
    n = n_orgs * repos_per_org
    rng = spark.range(0, n, 1, 4)
    org = (F.col("id") / repos_per_org).cast("long")
    rep = F.pmod(F.col("id"), F.lit(repos_per_org))
    repo = F.concat(F.lit("org_"), org.cast("string"), F.lit("/repo_"), rep.cast("string"))
    base = rng.select(
        repo.alias("repo"),
        F.array(*[F.lit(x) for x in LANGS])[F.pmod(_h(F.col("id"), 11, seed), F.lit(len(LANGS)))].alias("default_lang"),
        F.pmod(_h(F.col("id"), 12, seed), F.lit(50000)).cast("int").alias("stars"),
    )
    hot = spark.createDataFrame(
        [(HOT_REPO, "python", 99999)], "repo string, default_lang string, stars int"
    )
    return base.unionByName(hot)


def with_content_sha(df: DataFrame) -> DataFrame:
    """The per-row invariant column (BASELINE.json input_hint): sha256 of the
    content, computed JVM-side."""
    return df.withColumn("content_sha", F.sha2(F.col("content"), 256))
