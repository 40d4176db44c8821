"""The benchmark workloads.

Each workload generates seeded inputs (:mod:`perfbench.inputs`), computes
an independent expected result with DuckDB once per ``(size, seed)``, and
runs one *unit* of work at a time: calls into the engine's public functions
from a single caller, each waiting for its result. Every call's output is
checked against the expected result; a call that raises or mismatches is
failed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from perfbench import inputs
from perfbench.trace import NULL_TRACER

#: sizes, set from runs on a 4-core host (CHANGES.md has the figures): a
#: warm unit takes 3-5 s, so a run's window holds several units while a
#: whole run -- cold set-up included -- fits the benchmark's time budget
CODE_ROWS = 150_000
SMALL_DOCS, SMALL_EVENTS = 5_000, 100_000  # the sf0.1 documents/events sizes
DEDUP_DOCS = 2_000  # DuckDB's all-pairs Jaccard oracle is quadratic

#: the JobResult totals code_pipeline checks
JOB_TOTALS = ("n_rows", "n_invalid_rows", "n_violations", "n_dup_keys", "n_orphans")

SMALL_QUERIES = (
    ("typed", "flagship_violation_summary"),
    ("screened", "nested_json_validation"),
    ("interpreted", "props_json_validation"),
)


@dataclass
class Call:
    kind: str
    seconds: float
    result: object  # what Workload.check compares with the expected result


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _release(tr) -> None:
    from yaschva_spark.cache import unpersist_intermediates

    with tr.span("cache.unpersist"):
        unpersist_intermediates()


def _cached_json(path: Path, compute):
    if path.exists():
        return json.loads(path.read_text())
    value = compute()
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(value))
    os.replace(tmp, path)
    return value


def _duckdb(views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for name, path in views.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(rows) -> list:
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else (int(v) if hasattr(v, "__index__") else v) for v in r)
        for r in rows
    )


class Workload:
    name = ""
    rows = 0  # input rows one unit reads
    #: warm units run after the cold one and before timing: the first warm
    #: units run 15-30% slower than the ones after them
    warmup = 1

    def __init__(self, data_root: Path, work: Path, seed: int):
        self.data_root, self.work, self.seed = data_root, work, seed

    def generate(self, spark) -> None:
        """Write the inputs if missing (not timed)."""

    def expect(self) -> None:
        """Compute the independent expected result (not timed, no session)."""

    def open(self, spark) -> None:
        """Open the inputs on ``spark`` (part of set-up)."""

    def unit(self, spark, tr, ut) -> list[Call]:
        raise NotImplementedError

    def check(self, call: Call) -> bool:
        return call.result == self.expected


class CodePipeline(Workload):
    name = "code_pipeline"

    rows = CODE_ROWS
    warmup = 2

    def generate(self, spark):
        self.dir = inputs.code_tables(spark, self.data_root, CODE_ROWS, self.seed)
        self.runs = 0

    def open(self, spark):
        self.code = spark.read.parquet(str(self.dir / "code"))
        self.repos = spark.read.parquet(str(self.dir / "repos"))

    def expect(self):
        from yaschva_spark.fixtures import LANGS

        def compute():
            con = _duckdb({"code": f"{self.dir}/code/*.parquet", "repos": f"{self.dir}/repos/*.parquet"})
            langs = ", ".join(f"'{x}'" for x in LANGS)
            # CODE_SCHEMA's rules, one violation per failing field (the
            # reference reports a field's first error only)
            per_row = f"""
                SELECT repo, path, commit,
                  (repo IS NULL OR length(repo) < 1
                     OR NOT regexp_full_match(repo, '[A-Za-z0-9_.-]+/[A-Za-z0-9_.-]+'))::INT
                  + (path IS NULL OR length(path) < 1 OR length(path) > 4096)::INT
                  + (commit IS NULL OR NOT regexp_full_match(commit, '[a-f0-9]{{40}}'))::INT
                  + (lang IS NULL OR lang NOT IN ({langs}))::INT
                  + (content IS NULL)::INT AS nv
                FROM code"""
            r = con.sql(f"""
                SELECT count(*), sum((nv > 0)::INT), sum(nv),
                  (SELECT count(*) FROM (SELECT 1 FROM code GROUP BY repo, path, commit
                                         HAVING count(*) > 1)),
                  (SELECT count(*) FROM code c WHERE c.repo NOT IN (SELECT repo FROM repos))
                FROM ({per_row})""").fetchone()
            con.close()
            return dict(zip(JOB_TOTALS, map(int, r)))

        self.expected = _cached_json(self.dir / "expected.json", compute)

    def unit(self, spark, tr, ut):
        from yaschva_spark import pipeline

        out = self.work / f"pipeline_{self.runs}"
        self.runs += 1
        shutil.rmtree(out, ignore_errors=True)
        try:
            with tr.span("pipeline"):
                res, dt = _timed(lambda: pipeline.run_validation_job(spark, self.code, self.repos, str(out)))
            got = {k: int(getattr(res, k)) for k in JOB_TOTALS}
            if ut is not None:
                files = [p for p in out.rglob("*") if p.is_file()]
                ut.extra["io.files_written"] = float(len(files))
                ut.extra["io.written_mb"] = sum(p.stat().st_size for p in files) / 2.0**20
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return [Call("pipeline", dt, got)]


class SmallCalls(Workload):
    name = "small_calls"

    rows = 2 * SMALL_DOCS + SMALL_EVENTS  # documents are read by two queries

    def generate(self, spark):
        self.dir = inputs.doc_tables(self.data_root, SMALL_DOCS, SMALL_EVENTS, self.seed)
        self.cold = True

    def expect(self):
        import __spark_entry__ as entry

        con = _duckdb({t: f"{self.dir}/{t}.parquet" for t in ("documents", "events")})
        oracle = entry.oracle_sql()
        self.expected = {}
        for _, name in SMALL_QUERIES:
            rel = con.sql(oracle[name])
            self.expected[name] = (sorted(rel.columns), _norm(rel.fetchall()), rel.columns)
        con.close()

    def unit(self, spark, tr, ut):
        """Each query plus ``.count()``; the first (cold) unit collects
        every row instead, for a full check against the oracle."""
        import __spark_entry__ as entry

        queries = entry.queries()
        full, self.cold = self.cold, False
        calls = []
        for kind, name in SMALL_QUERIES:
            t0 = time.perf_counter()
            with tr.span("build"):
                df = queries[name](spark, str(self.dir))
            out = (sorted(df.columns), df.collect()) if full else df.count()
            dt = time.perf_counter() - t0
            if ut is not None:
                ut.extra["cache.stored_mb"] = ut.extra.get("cache.stored_mb", 0.0) + tr.cached_mb()
                if kind == "screened":
                    from yaschva_spark.engine import screen_coverage

                    ut.extra["engine.jvm_fraction"] = screen_coverage(name)["jvm_fraction"]
            _release(tr)
            calls.append(Call(kind, dt, (name, out)))
        return calls

    def check(self, call):
        name, out = call.result
        cols, rows, order = self.expected[name]
        if isinstance(out, int):
            return out == len(rows)
        got_cols, got = out
        return got_cols == cols and _norm(tuple(r[c] for c in order) for r in got) == rows


class DedupClusters(Workload):
    name = "dedup_clusters"

    rows = DEDUP_DOCS
    #: the per-layer metrics it reports as a traced stage
    layer_prefix = "dedup."

    def generate(self, spark):
        self.dir = inputs.doc_tables(self.data_root, DEDUP_DOCS, 0, self.seed)

    def open(self, spark):
        self.docs = spark.read.parquet(str(self.dir / "documents.parquet"))

    def expect(self):
        import pyarrow.parquet as pq

        def compute():
            texts = pq.read_table(self.dir / "documents.parquet", columns=["doc_id", "text"]).to_pydict()
            return clusters(jaccard_pairs(texts["doc_id"], texts["text"]))

        self.expected = {int(k): v for k, v in _cached_json(self.dir / "expected.json", compute).items()}

    def unit(self, spark, tr, ut):
        from yaschva_spark.ops import dedup

        t0 = time.perf_counter()
        pairs = dedup.minhash_lsh_pairs(self.docs, "doc_id", "text", n=3, threshold=0.5)
        clusters = dedup.dup_clusters_star(pairs)
        rows = clusters.collect()
        dt = time.perf_counter() - t0
        _release(tr)
        return [Call("dedup", dt, {r["id"]: r["cluster"] for r in rows})]


def jaccard_pairs(ids, texts, threshold: float = 0.5) -> list[tuple[int, int]]:
    """Every pair ``(i, j)``, ``i < j``, whose word-3-gram sets have Jaccard
    similarity >= ``threshold``: the definition of ``oracle_sql()``'s
    ``minhash_near_dup``, computed exactly by an all-pairs prefix-filter
    join (Bayardo et al., WWW 2007) instead of DuckDB's quadratic join."""
    sets = {}
    for i, text in zip(ids, texts):
        ws = text.split(" ")
        if len(ws) >= 3:
            sets[int(i)] = {" ".join(ws[k:k + 3]) for k in range(len(ws) - 2)}
    freq: dict[str, int] = {}
    for sg in sets.values():
        for g in sg:
            freq[g] = freq.get(g, 0) + 1
    # two sets with Jaccard >= t share a gram among the first
    # |s| - ceil(t |s|) + 1 grams of each, rarest first
    index: dict[str, list[int]] = {}
    cands = set()
    for i, sg in sets.items():
        grams = sorted(sg, key=lambda g: (freq[g], g))
        for g in grams[: len(grams) - math.ceil(threshold * len(grams)) + 1]:
            for j in index.setdefault(g, []):
                cands.add((min(i, j), max(i, j)))
            index[g].append(i)
    out = []
    for i, j in sorted(cands):
        common = len(sets[i] & sets[j])
        if common >= threshold * (len(sets[i]) + len(sets[j]) - common):
            out.append((i, j))
    return out


def clusters(pairs) -> dict[str, int]:
    """Connected components of ``pairs`` by union-find: ``{id: min id of
    its component}`` over the ids that appear in a pair."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        a, b = find(i), find(j)
        parent[max(a, b)] = min(a, b)
    return {str(x): find(x) for x in list(parent)}


WORKLOADS = {w.name: w for w in (CodePipeline, SmallCalls)}

#: stages a traced run of a workload adds after its window, for a layer no
#: timed workload runs: the ops.dedup layer's cold set-up (~16 s) does not
#: fit a third workload into the benchmark's time budget, so its per-layer
#: metrics come from dedup_clusters units in the traced code_pipeline run
TRACED_STAGES = {"code_pipeline": DedupClusters}
