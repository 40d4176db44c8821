"""DataFrame-level validation entry points.

Two execution paths, chosen per schema:

* **Typed path** (:func:`validate_table`) — the schema compiles to pure
  Catalyst expressions over the DataFrame's typed columns
  (:mod:`yaschva_spark.typed`). Whole-stage codegen, zero Python in the hot
  path. This is the 100 TB path; the flagship code-table schema runs here.

* **Dynamic path** (:func:`validate_json_table`) — full reference semantics
  (undefined vs null, multi-type unions, ``any``, unbounded recursion) over
  a JSON-text column: one projection in which the VARIANT screen decides
  the rows it can JVM-side and the reference-faithful interpreter, one
  Arrow-batched scalar pandas UDF, decides the rest — mirroring SURVEY.md
  §2.2's UDF policy.

:func:`validate_auto` picks the typed path when possible and falls back.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yaschva_spark.interp import (
    UNDEFINED,
    UNDEFINED_TOKEN,
    validate as interp_validate,
    output_to_jsonable,
    violations_from_output,
)
from yaschva_spark.jsonscreen import ScreenNotApplicable, compile_screens, select_levels
from yaschva_spark.schema import check_schema
from yaschva_spark.typed import (
    EMPTY_VIOLS,
    VIOLATION_DDL,
    TypedCompileError,
    compile_schema,
    sql_case,
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
    the action. ``jvm_fraction`` counts the rows the interpreter never ran
    on: their payload does not cross Arrow, only a NULL cell does (and a
    NULL result comes back). Jobs should log it; ``bench.py`` does."""
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
        # byte-exact violations) — the interpreter skips these too
        "n_proven_fail": proven_fail,
        "proven_fraction": round(proven / n, 6) if n else None,
        # the fraction of the table the interpreter never ran on
        "jvm_fraction": round((proven + proven_fail) / n, 6) if n else None,
    }


def validate_table(
    df: DataFrame,
    schema: Any,
    *,
    ignore_columns: tuple[str, ...] = (),
) -> DataFrame:
    """Typed fast path: append ``yv_valid`` (boolean) and ``yv_violations``
    (array of violation structs) computed entirely by Catalyst expressions,
    compiled to SQL text and parsed by one ``F.expr``.

    Raises :class:`SchemaError` for malformed schemas (the reference throws)
    and :class:`TypedCompileError` when the schema needs the dynamic path.
    """
    violations = compile_schema(schema, df.schema, ignore_columns=tuple(ignore_columns))
    return df.withColumn(VIOLATIONS_COL, F.expr(violations)).withColumn(
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
    # no explicit pass-filter: inline, like a non-outer explode, drops rows
    # whose violations array is empty (Catalyst infers `size(v) > 0`); an
    # explicit `filter(~pass)` would make the optimizer re-evaluate the whole
    # violations expression a second time inside the Filter node. inline
    # names its columns after the struct fields, so no per-field alias.
    return validated.select(*id_cols, F.inline(VIOLATIONS_COL))


def _interpreter(schema: Any):
    """The interpreter as one scalar pandas UDF over JSON text:
    ``struct<valid, viols, out>`` per row, all NULL for a NULL cell (a row
    the screen already decided). Nondeterministic on purpose: that makes
    its projection a barrier Catalyst does not push filters through — the
    inferred ``size(yv_violations) > 0`` of an explode and any caller
    filter would otherwise be inlined through the staged screen levels and
    the Exchange down to the scan, re-running the screen per consumer."""
    schema_blob = json.dumps(schema)  # ship the schema to executors as text

    def run(texts):
        import pandas as pd  # executor side: engine's import stays pandas-free

        node = json.loads(schema_blob)
        valid, viols, outputs = [], [], []
        for raw in texts:
            if raw is None:
                valid.append(None)
                viols.append(None)
                outputs.append(None)
                continue
            value = UNDEFINED if raw == UNDEFINED_TOKEN else json.loads(raw)
            result = interp_validate(node, value)
            valid.append(result["result"] == "pass")
            # derive paths from the UNflattened tree: the reference's output
            # flat()tens nested array outputs, which would shift every [i]
            # segment after a nested-array element
            rows = violations_from_output(result.get("vtree", result["output"]))
            viols.append([
                {"path": r["path"], "rule": r["rule"], "error": r["error"], "value": r["value"]}
                for r in rows
            ])
            outputs.append(json.dumps(output_to_jsonable(result["output"]), separators=(",", ":")))
        return pd.DataFrame({"valid": valid, "viols": viols, "out": outputs})

    ddl = f"struct<valid: boolean, viols: {VIOLATION_DDL}, out: string>"
    return F.pandas_udf(run, ddl).asNondeterministic()


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
    semantics, in one projection.

    The literal ``"__undefined__"`` as the whole cell (or SQL NULL) encodes
    a JS-undefined root (FIXTURES.md §1). Appends ``yv_valid``,
    ``yv_violations`` and ``yv_output`` (the mirrored output tree as JSON).
    Input columns named ``__yv_*`` are reserved for the plan's own columns
    and raise :class:`ValueError`.

    ``screen=True`` (default) is the hybrid execution: the VARIANT screens
    of :func:`yaschva_spark.jsonscreen.compile_screens` decide, per row,
    ``pass`` (provably passes) and ``emit`` (the outcome, pass or fail, is
    exactly JVM-representable, with the interpreter's ``viols`` and
    ``out`` byte for byte). On top of the staged screen levels sits ONE
    interpreter UDF whose input is NULL on emitted rows, so an emitted
    row's payload never crosses Arrow (a NULL cell and a NULL result do),
    and each output column picks the screen's value on emitted rows and
    the interpreter's on the rest. Passing rows never evaluate the
    fail-side violation expression. Python cost is therefore linear in
    the residue, not the table; on both bench corpora the residue is
    empty. The screens are sound by construction (differential-tested
    against the pure interpreter), so output is bit-identical with
    ``screen=False``, which runs the same UDF on every row. Schemas outside
    the screenable fragment silently run fully interpreted. The screens
    compile on every call to SQL text, staged (shared subexpressions as
    chained projection columns, see jsonscreen._Stager). No pass is
    persisted, filtered twice or unioned: one scan feeds one projection.

    **Choose the plan by measurement** (4-core host, warm; one call, its
    violations explode and ``count()``; median and quartiles of 8 calls):
    on the 100k-row events corpus (narrow ``{"k": number}`` blobs, about
    half violating) the screened plan took 1.10 s (1.05–1.22) against
    1.30 s (1.29–1.39) unscreened; on the 5k-row nested documents corpus
    the unscreened plan was faster, 0.65 s (0.64–0.76) against 1.21 s
    (1.15–1.41): at that size the screen's fixed cost (compiling,
    analysing and code-generating its staged levels) outweighs the
    interpreter work it saves. Both plans are exact; pick per corpus.

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

    screens = None
    if screen:
        try:
            screen_levels, screens = compile_screens(schema, json_col)
        except ScreenNotApplicable:
            pass

    src = df.select(*need)
    par = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)

    interp = _interpreter(schema)
    # Columns, not SQL text: a user column name in text would undergo
    # ${...} substitution; the plan's own __yv_ names go in text
    raw = F.coalesce(F.col(json_col), F.lit(UNDEFINED_TOKEN))
    # output column -> (interpreter UDF field, screen column)
    picks = {
        PASS_COL: ("valid", "__yv_screen"),
        VIOLATIONS_COL: ("viols", f"CAST(__yv_viols AS {VIOLATION_DDL})"),
        "yv_output": ("out", "__yv_out"),
    }
    if screens is None:
        res = src.select(*keep, interp(raw).alias("__yv_r"))
        outs = [f"__yv_r.{field} AS {col}" for col, (field, _) in picks.items()]
    else:
        passed, emit = screens["pass"], screens["emit"]
        scr = select_levels(src, screen_levels).select(
            *need,
            F.expr(f"{passed} AS __yv_screen"),
            F.expr(f"{emit} AS __yv_emit"),
            # NULL on the rows the interpreter takes, and the fail-side
            # violation rows are built only for emitted FAILING rows
            F.expr(f"{sql_case((emit, screens['out']))} AS __yv_out"),
            F.expr(f"{sql_case((passed, EMPTY_VIOLS), (emit, screens['viols']))} AS __yv_viols"),
        )
        if observe is not None:
            # free telemetry: a CollectMetrics node on the screened projection
            from pyspark.sql import Observation

            obs = Observation()
            scr = scr.observe(
                obs,
                F.expr("count(1) AS n_rows"),
                F.expr("sum(CAST(__yv_screen AS BIGINT)) AS n_proven"),
                F.expr("sum(CAST(__yv_emit AND NOT __yv_screen AS BIGINT)) AS n_proven_fail"),
            )
            _SCREEN_OBS[observe] = obs
        res = scr.select("*", interp(F.when(~F.col("__yv_emit"), raw)).alias("__yv_r"))
        outs = [
            f"{sql_case(('__yv_emit', screened), otherwise=f'__yv_r.{field}')} AS {col}"
            for col, (field, screened) in picks.items()
        ]
    return res.select(*keep, *map(F.expr, outs))
