"""DataFrame-level validation entry points.

Two execution paths, chosen per schema:

* **Typed path** (:func:`validate_table`) — the schema compiles to pure
  Catalyst expressions over the DataFrame's typed columns
  (:mod:`yaschva_spark.typed`). Whole-stage codegen, zero Python in the hot
  path. This is the 100 TB path; the flagship code-table schema runs here.

* **Dynamic path** (:func:`validate_json_table`) — full reference semantics
  (undefined vs null, multi-type unions, ``any``, unbounded recursion) over
  a JSON-text column, evaluated by the reference-faithful interpreter inside
  an Arrow-batched ``mapInPandas`` stage. Batch-level Python (one call per
  Arrow batch), used only for schemas the static compiler can't express —
  mirroring SURVEY.md §2.2's UDF policy.

:func:`validate_auto` picks the typed path when possible and falls back.
"""

from __future__ import annotations

import json
from typing import Any, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yaschva_spark.cache import persist_tracked
from yaschva_spark.interp import (
    UNDEFINED_TOKEN,
    validate as interp_validate,
    output_to_jsonable,
    violations_from_output,
)
from yaschva_spark.jsonscreen import ScreenNotApplicable, compile_screens, select_levels
from yaschva_spark.schema import check_schema
from yaschva_spark.typed import (
    VIOLATION_DDL,
    TypedCompileError,
    compile_schema,
)

PASS_COL = "yv_valid"
VIOLATIONS_COL = "yv_violations"

#: screen-coverage observations (see :func:`validate_json_table` ``observe``
#: and :func:`screen_coverage`), keyed by the caller-chosen name
_SCREEN_OBS: dict[str, Any] = {}


def screen_coverage(name: str) -> dict[str, Any] | None:
    """Screen-coverage telemetry for a prior
    ``validate_json_table(..., observe=name)`` call: ``{"n_rows", "n_proven",
    "proven_fraction"}``, or None if the named observation doesn't exist
    (screen off / schema unscreenable / not yet requested). Blocks until
    the observed DataFrame's first action if one is in flight — call after
    the action. The split plan's win is exactly this fraction (proven rows
    never cross Arrow), so jobs should log it; ``bench.py`` does."""
    obs = _SCREEN_OBS.get(name)
    if obs is None:
        return None
    m = obs.get
    n, proven = int(m["n_rows"]), int(m["n_proven"] or 0)
    proven_fail = int(m.get("n_proven_fail", 0) or 0)
    return {
        "n_rows": n,
        "n_proven": proven,
        # rows the fail screen emitted JVM-side (provably failing,
        # byte-exact violations) — these skip Arrow too
        "n_proven_fail": proven_fail,
        "proven_fraction": round(proven / n, 6) if n else None,
        # the split plan's true win: the fraction of the table that never
        # crosses the Arrow boundary in either direction
        "jvm_fraction": round((proven + proven_fail) / n, 6) if n else None,
    }


def validate_table(
    df: DataFrame,
    schema: Any,
    *,
    ignore_columns: tuple[str, ...] = (),
    max_unroll: int = 32,
) -> DataFrame:
    """Typed fast path: append ``yv_valid`` (boolean) and ``yv_violations``
    (array of violation structs) computed entirely by Catalyst expressions.

    Raises :class:`SchemaError` for malformed schemas (the reference throws)
    and :class:`TypedCompileError` when the schema needs the dynamic path.
    """
    violations = compile_schema(
        schema, df.schema, ignore_columns=tuple(ignore_columns), max_unroll=max_unroll
    )
    return df.withColumn(VIOLATIONS_COL, violations).withColumn(
        PASS_COL, F.size(F.col(VIOLATIONS_COL)) == 0
    )


def validate_auto(df: DataFrame, schema: Any, json_col: str | None = None, **kwargs) -> DataFrame:
    """Typed path when the schema is statically compilable, else the dynamic
    interpreter path over ``json_col`` (required for fallback)."""
    try:
        return validate_table(df, schema, **kwargs)
    except TypedCompileError:
        if json_col is None:
            raise
        return validate_json_table(df, schema, json_col)


def explode_violations(validated: DataFrame, id_cols: list[str]) -> DataFrame:
    """Violation sink shape: one row per violation
    ``(id..., path, rule, error, value)`` — the reference's error tree in
    table form (SURVEY.md §1.2)."""
    # no explicit pass-filter: a non-outer explode already drops rows whose
    # violations array is empty (Catalyst infers `size(v) > 0`), and an
    # explicit `filter(~pass)` would make the optimizer re-evaluate the whole
    # violations expression a second time inside the Filter node
    v = F.explode(F.col(VIOLATIONS_COL)).alias("v")
    return (
        validated
        .select(*id_cols, v)
        .select(
            *id_cols,
            F.col("v.path").alias("path"),
            F.col("v.rule").alias("rule"),
            F.col("v.error").alias("error"),
            F.col("v.value").alias("value"),
        )
    )


#: memoized staged screen compilations, keyed by (applicationId,
#: schema-json, column). Building the Column tree costs hundreds of py4j
#: round trips (~0.9 s measured for the nested schema) and is a pure
#: function of the key; the applicationId guards against stale JVM refs
#: after a session restart, and an insert drops every other application's
#: entries. Negative results (unscreenable) cache too.
_SCREEN_CACHE: dict = {}


def _compiled_screens(app_id: str, schema_blob: str, json_col: str):
    key = (app_id, schema_blob, json_col)
    hit = _SCREEN_CACHE.get(key)
    if hit is None:
        try:
            hit = compile_screens(json.loads(schema_blob), F.col(json_col))
        except ScreenNotApplicable as ex:
            hit = ex
        # an earlier application's entries only hold dead JVM references
        for stale in [k for k in _SCREEN_CACHE if k[0] != app_id]:
            del _SCREEN_CACHE[stale]
        _SCREEN_CACHE[key] = hit
    if isinstance(hit, Exception):
        raise hit
    return hit


def validate_json_table(
    df: DataFrame,
    schema: Any,
    json_col: str,
    *,
    keep_cols: list[str] | None = None,
    screen: bool = True,
    observe: str | None = None,
) -> DataFrame:
    """Dynamic path: validate a JSON-text column with exact reference
    semantics via the interpreter, Arrow batch at a time.

    The literal ``"__undefined__"`` as the whole cell (or SQL NULL) encodes
    a JS-undefined root (FIXTURES.md §1). Appends ``yv_valid``,
    ``yv_violations`` and ``yv_output`` (the mirrored output tree as JSON).
    Input columns named ``__yv_*`` are reserved for the plan's own columns
    and raise :class:`ValueError`.

    ``screen=True`` (default) is the hybrid execution: the VARIANT screens
    of :func:`yaschva_spark.jsonscreen.compile_screens` decide, per row,
    ``pass`` (provably passes) and ``emit`` (the outcome, pass or fail, is
    exactly JVM-representable, with the interpreter's ``viols`` and
    ``out`` byte for byte), and the plan SPLITS on ``emit`` into two
    branches:

    * emitted rows take a pure-JVM projection — ``yv_valid`` is ``pass``,
      ``yv_output`` is ``out``, and ``yv_violations`` is empty on pass rows
      and ``viols`` otherwise, so passing rows never evaluate the fail-side
      violation expression — and never cross the Arrow boundary;
    * the residue (``~emit``) runs the interpreter inside ``mapInPandas``.

    Python and serialization cost are therefore linear in the residue, not
    the table; on the nested bench corpus the residue is empty. The screens
    are sound by construction (differential-tested against the pure
    interpreter), so output is bit-identical with ``screen=False``. Schemas
    outside the screenable fragment silently run fully interpreted. The
    screens compile staged (shared subexpressions as chained projection
    columns, see jsonscreen._Stager) and are memoized per schema in
    ``_SCREEN_CACHE``.

    **Choose the plan by measurement** (sf0.1 events, 100k rows, 1 core):
    the VARIANT screen evaluates ~2 interpreted JVM ops per schema check
    (~32 us/row for the flat one-field number schema) while the full
    interpreter including Arrow transfer is ~30 us/row — the screen is
    NOT cheaper per row for narrow rows and small schemas, so there
    ``screen=False`` (pure interpreter, linear scale-out) is the fastest
    plan. The split pays off when the *saved transfer* dominates: wide
    ``keep_cols`` (emitted rows never serialize their payload) and/or a
    large schema. Both plans are exact; pick per corpus.

    The split's one hazard is double evaluation: both branches read the
    screened projection, and recomputing it means a second scan plus a
    second ``try_parse_json`` (measured ~2x at sf0.1 — worse than the tax
    it removes). The screened projection is therefore pinned through
    :func:`yaschva_spark.cache.persist_tracked` — both branches read it
    once; callers release it via ``cache.unpersist_intermediates()`` (the
    bench/test convention).

    Parallelism guard: validation is CPU-bound (variant screen and/or
    interpreter), so the stage needs at least one task per core. At
    cluster scale file splits provide that for free; a small local file
    arrives as ONE split and would serialize the whole job on one core
    (measured 4x at sf0.1) — inputs with fewer partitions than
    ``defaultParallelism`` are repartitioned up front (the shuffled
    projection is just ``keep + json``; no-op at scale).

    ``observe="name"`` attaches a CollectMetrics node to the screened
    projection (zero extra passes) counting rows, proven-pass rows, and
    JVM-emitted fail rows; read it after the first action via
    :func:`screen_coverage`. No-op when the screen is off or the schema is
    unscreenable.
    """
    check_schema(schema)
    keep = keep_cols if keep_cols is not None else [c for c in df.columns]
    need = list(dict.fromkeys([*keep, json_col]))
    reserved = [c for c in need if c.startswith("__yv_")]
    if reserved:
        raise ValueError(f"input column {reserved[0]!r} uses the reserved __yv_ prefix")
    if observe is not None:
        _SCREEN_OBS.pop(observe, None)  # a stale observation must not answer
    schema_blob = json.dumps(schema)  # ship the schema to executors as text

    screens = None
    screen_levels: list = []
    if screen:
        try:
            screen_levels, screens = _compiled_screens(
                df.sparkSession.sparkContext.applicationId, schema_blob, json_col
            )
        except ScreenNotApplicable:
            screens = None

    out_ddl = ", ".join(f"`{c}` {df.schema[c].dataType.simpleString()}" for c in keep)
    out_ddl = (out_ddl + ", " if out_ddl else "") + (
        f"{PASS_COL} boolean, {VIOLATIONS_COL} {VIOLATION_DDL}, yv_output string"
    )

    def run_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        from yaschva_spark.interp import UNDEFINED

        node = json.loads(schema_blob)
        for pdf in batches:
            texts = pdf[json_col]
            n = len(pdf)
            valid = [True] * n
            viols: list = [[] for _ in range(n)]
            outputs: list = [None] * n
            for idx, raw in enumerate(texts):
                if raw is None or raw == UNDEFINED_TOKEN:
                    value = UNDEFINED
                else:
                    value = json.loads(raw)
                result = interp_validate(node, value)
                ok = result["result"] == "pass"
                valid[idx] = ok
                # derive paths from the UNflattened tree: the reference's
                # output flat()tens nested array outputs, which would shift
                # every [i] segment after a nested-array element
                rows = violations_from_output(result.get("vtree", result["output"]))
                viols[idx] = [
                    {"path": r["path"], "rule": r["rule"], "error": r["error"], "value": r["value"]}
                    for r in rows
                ]
                outputs[idx] = json.dumps(
                    output_to_jsonable(result["output"]), separators=(",", ":")
                )
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            out[PASS_COL] = valid
            out[VIOLATIONS_COL] = viols
            out["yv_output"] = outputs
            yield out

    src = df.select(*need)
    par = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)

    if screens is None:
        return src.mapInPandas(run_batches, schema=out_ddl)

    scr = select_levels(src, screen_levels).select(
        *need,
        screens["pass"].alias("__yv_screen"),
        screens["emit"].alias("__yv_emit"),
        # NULL on the rows the interpreter takes, and the fail-side
        # violation rows are built only for emitted FAILING rows
        F.when(screens["emit"], screens["out"]).alias("__yv_out"),
        F.when(screens["pass"], F.array().cast(VIOLATION_DDL))
        .when(screens["emit"], screens["viols"])
        .alias("__yv_viols"),
    )
    if observe is not None:
        # free telemetry: a CollectMetrics node on the screened projection
        # (the split plan's win IS this fraction; see screen_coverage())
        from pyspark.sql import Observation

        obs = Observation()
        scr = scr.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("__yv_screen").cast("long")).alias("n_proven"),
            F.sum((F.col("__yv_emit") & ~F.col("__yv_screen")).cast("long")).alias(
                "n_proven_fail"
            ),
        )
        _SCREEN_OBS[observe] = obs
    scr = persist_tracked(scr)
    # ONE emitted branch covers proven-pass AND proven-fail rows: pure
    # projection, no Arrow crossing; only the residue runs the interpreter.
    # Two branches, not three: each branch is another scan of the persisted
    # projection and another subtree for the planner.
    emitted = scr.filter(F.col("__yv_emit")).select(
        *keep,
        F.col("__yv_screen").alias(PASS_COL),
        F.col("__yv_viols").cast(VIOLATION_DDL).alias(VIOLATIONS_COL),
        F.col("__yv_out").alias("yv_output"),
    )
    tail = (
        scr.filter(~F.col("__yv_emit"))
        .select(*need)
        .mapInPandas(run_batches, schema=out_ddl)
    )
    return emitted.unionByName(tail)
