"""JVM-side screens for the dynamic JSON path.

The dynamic path's exactness requirements (undefined vs null, unions,
closed-world objects) force interpreter evaluation — but not for every
ROW. This module compiles a yaschva schema fragment into Catalyst
expressions over Spark's VARIANT type that decide a row's outcome — pass
or fail, with the interpreter's exact violations and ``yv_output`` text —
whenever that is possible JVM-side, so decided rows never cross the Arrow
boundary (engine.validate_json_table splits the plan on them).

The screen does no schema dispatch of its own: it emits from
:func:`yaschva_spark.schema.lower`'s plan, which already applied the
reference's dispatch order, ``$types`` scoping, ``$type``/``$and``
resolution and the ``|| 0`` / ``|| MAX`` defaults. This module only maps
each of the plan's five node kinds to VARIANT Columns, and each leaf check
to a VARIANT predicate plus its representability guard (``_CHECKS``).

Why VARIANT: ``try_parse_json`` + ``try_variant_get``/``is_variant_null``
distinguish a *missing* key (SQL NULL variant) from a JSON ``null`` (a
present variant with ``is_variant_null`` true) — precisely the
undefined/null split that `from_json` erases and that forced the
interpreter in round 1. ``schema_of_variant`` gives the JSON type tag
(BIGINT/DOUBLE/DECIMAL/STRING/BOOLEAN/VOID/OBJECT<...>/ARRAY<...>).

One contract per node. Every plan node compiles to four parts:

* ``cond`` — a sound pass: true only for rows the interpreter passes;
* ``femit`` — the node's outcome, pass or fail, is exactly representable
  JVM-side (``cond`` implies it);
* ``out`` and ``viols`` — the interpreter's ``yv_output`` text and
  violation rows, byte for byte, whenever ``femit`` holds.

Either may be false for a row the interpreter decides (that row just pays
the interpreter); neither may ever claim a row wrongly. Consequences baked
in:

* numeric bound checks add a representability guard — a BIGINT/DECIMAL
  beyond 2^53 rounds when cast to double, and the interpreter compares
  exact Python ints, so such rows are never screened;
* regex checks screen only dialect-safe patterns (regexdialect),
  translated to Java semantics (to_java_pattern);
* object/map screens require a true JSON OBJECT — the reference also
  accepts JS *arrays* against object schemas (indices become keys,
  validate.ts:128-193); such rows screen false and run interpreted;
* object keys outside a conservative ``[A-Za-z0-9_-]+`` allowlist make
  the schema unscreenable: anything wilder risks JSONPath
  metacharacters (``$ . [ ] * ?``) resolving differently between
  ``try_variant_get`` and the interpreter's plain dict lookup, and
  non-ASCII keys would diverge from the interpreter's
  ``json.dumps(ensure_ascii=True)`` output escaping;
* map keys are dynamic, so the same safety is enforced per ROW: a key
  regex in the screen condition rejects rows whose keys need JSON
  escaping (those rows run interpreted);
* union branches are screened as an ordered prefix: the reference takes
  the FIRST passing branch's output (validate.ts:91-104), so a branch
  may join the prefix only while every earlier branch's screen is
  *exact* (screen true ⇔ interpreter pass) — otherwise an earlier
  branch could pass in the interpreter while its screen said false, and
  the when-chain would emit the wrong branch's output. Branches after
  the first non-exact or unscreenable one contribute ``false`` (rows
  passing only via them go to the interpreter);
* array elements and map values must have literally-``null`` pass
  output (leaves or unions of leaves): composite outputs need the
  original JSON *text* for data-order keys (VARIANT sorts object keys)
  and only literal paths can address text — nested objects get it via
  ``get_json_object`` at compile-time paths, dynamic positions can't;
* recursive ``$types`` (a plan node met again below itself) raise
  :class:`ScreenNotApplicable`;
* a schema shape outside all of the above raises
  :class:`ScreenNotApplicable` — the caller falls back to full
  interpretation, never to wrong answers.

The fail side. Violation paths are Columns, as in typed.py (``$``, then
``.key``, ``[i]`` and ``.k`` segments), so every node can build it
wherever it sits:

* a leaf's first-error chain picks the error and rule as compile-time
  constants, and the offending value renders JVM-side when its
  ``json.dumps`` text is exactly reconstructible (missing →
  ``"__undefined__"``, null, booleans, i64 integers, printable-ASCII
  strings without ``"``/``\\``);
* an object whose structure holds (a real JSON object with a closed
  keyset) is decided by its fields: their violations in the
  interpreter's output order (data keys first, then missing declared
  keys);
* a fully-covered union of exact, fail-compiled leaves fails with
  UNION_MISMATCH plus every branch's error at the union's path;
* an array or ``$map`` whose element/value is an exact, fail-compiled
  leaf emits length failures (the offending value is the element count)
  and per-element ``[i]`` / per-value ``.k`` failures.

Everything else stays with the interpreter, per row: object/map
structural failures (the offending value is the whole composite),
NOT_ARRAY, DOUBLE/DECIMAL or escape-needing offending values,
nested-array elements (flat() splicing), bound comparisons outside the
2^53 window.

Supported fragment: every leaf check except the ``$and`` error leaf
(``$string`` regexes only when dialect-safe), nested objects at literal
paths, ``$array``/``$map`` with leaf-output element/value schemas, and
ordered union prefixes thereof — with ``$type``, non-recursive ``$types``
and ``$and`` already resolved by the lowering. Reference semantics:
validate.ts:50-205 (leaves), validate.ts:106-193 (arrays/maps/objects),
validate.ts:91-104 (unions). Differential and emission-boundary tests:
tests/test_jsonscreen.py.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yaschva_spark import errors as E
from yaschva_spark.regexdialect import to_java_pattern, typed_unsafe
from yaschva_spark.schema import Array, Leaf, Map, Object, SchemaError, Union, lower
from yaschva_spark.typed import VIOLATION_DDL, js_strlen  # js_strlen: UTF-16 units

#: Keys the screen will address via JSONPath and emit into output text
#: verbatim. Conservative on purpose (see module docstring).
_SAFE_KEY = _re.compile(r"\A[A-Za-z0-9_-]+\Z")

#: Per-row guard for dynamic ($map) keys: printable ASCII without the two
#: JSON-escape-relevant characters (``"`` and ``\``) — exactly the keys
#: whose ``json.dumps(ensure_ascii=True)`` rendering is the key itself.
#: Anchored with \A/\z, never ^/$: Java regex '$' also matches before a
#: trailing line terminator (\n, \r, U+0085, U+2028, U+2029), so a '$'-anchored
#: pattern would let a key like "a\n" through and break the screen's
#: byte-exact soundness contract (the interpreter emits "a\\n").
_MAP_KEY_SAFE_RLIKE = "\\A[ !#-\\[\\]-~]*\\z"

_MAX_DEPTH = 64


class ScreenNotApplicable(Exception):
    """Schema shape outside the screenable fragment."""


@dataclass
class _Screen:
    #: sound provable-pass condition (NULL counts as false downstream)
    cond: Column
    #: the interpreter's ``yv_output`` JSON text, valid whenever ``femit``
    out: Column
    #: cond ⇔ interpreter-pass over the parseable-JSON domain (not merely ⇒)
    exact: bool
    #: ``out`` is the literal text ``null`` for every passing value
    null_out: bool
    #: the outcome, pass or fail, is exactly JVM-representable; None until
    #: :func:`_screen` defaults it to ``cond`` (only the pass outcome is)
    femit: Column | None = None
    #: the interpreter's violation rows (empty on pass), valid whenever
    #: ``femit``; None until :func:`_screen` defaults it to empty
    viols: Column | None = None
    #: fail-compiled leaves only: the offending value's JSON text. Unions,
    #: arrays and maps compose a fail side only over such leaves
    val: Column | None = None


#: error strings that may be concat-spliced into JSON output text verbatim:
#: printable ASCII without `"` or `\` — exactly the strings whose
#: json.dumps rendering (either ensure_ascii mode) is the string itself
_ERR_SAFE = _re.compile(r"\A[ !#-\[\]-~]+\Z")


def _empty_viols() -> Column:
    return F.array().cast(VIOLATION_DDL)


def _row(path: Column, rule: Column, err: Column, val: Column) -> Column:
    """One violation row."""
    return F.struct(path.alias("path"), rule.alias("rule"), err.alias("error"), val.alias("value"))


def _err_text(err: Column, val: Column) -> Column:
    """The interpreter's ``{"error": ..., "value": ...}`` output text."""
    return F.concat(F.lit('{"error":"'), err, F.lit('","value":'), val, F.lit("}"))


class _Stager:
    """Staged compilation (r5 perf): registers shared subexpressions —
    the parsed root variant, per-field sub-variants/texts, and each leaf's
    cond/err/rule/value columns — as ALIASED COLUMNS at depth-indexed
    levels, so the engine can evaluate them ONCE per row in a chain of
    projections instead of re-evaluating them inside every consumer.

    Why it matters: a leaf's error chain, rule chain, value renderer,
    femit, viols and out all reference the same ``try_variant_get`` /
    ``schema_of_variant`` subtrees, and every reference re-walks (and for
    the root, re-PARSES) the variant. Measured at sf0.1 on the nested
    corpus, the un-staged fail side cost ~56 us/row for the viols
    expression alone vs ~2 us per variant op — the whole validate step ran
    2.2 s vs 0.5 s. Catalyst's CollapseProject keeps the stage boundaries
    because the staged aliases are non-cheap and multiply referenced
    (SPARK-36718); the engine's persist materializes the final projection,
    paying each staged expression once.

    Levels are ordered: a column at level i may reference only columns at
    levels < i. Lambda-scoped subtrees (array/map element screens) must
    NOT be staged — they reference the lambda variable."""

    def __init__(self) -> None:
        self.levels: list[dict[str, Column]] = []
        self._n = 0

    def add(self, level: int, col: Column) -> Column:
        while len(self.levels) <= level:
            self.levels.append({})
        name = f"__yv_s{level}_{self._n}"
        self._n += 1
        self.levels[level][name] = col
        return F.col(name)


def _vtype(tv: Column) -> Column:
    return F.schema_of_variant(tv)


def _present(tv: Column) -> Column:
    return tv.isNotNull() & ~F.is_variant_null(tv)


def _dval(tv: Column) -> Column:
    return F.try_variant_get(tv, "$", "double")


def _is_number_type(tv: Column) -> Column:
    t = _vtype(tv)
    return (t == "BIGINT") | (t == "DOUBLE") | t.startswith("DECIMAL")


def _finite(v: Column) -> Column:
    inf = F.lit(float("inf"))
    return v.isNotNull() & ~F.isnan(v) & (v != inf) & (v != -inf)


def _exact_as_double(tv: Column) -> Column:
    """True when the value as a double compares identically to the
    interpreter's exact value: always for DOUBLE (both sides are the same
    double), else only within the 2^53 integer-exact window."""
    return (_vtype(tv) == "DOUBLE") | (F.abs(_dval(tv)) <= F.lit(float(E.MAX_SAFE_INTEGER)))


def _render_value(tv: Column) -> tuple[Column, Column]:
    """(txt, unrenderable): JSON text of the variant value rendered EXACTLY
    as the interpreter's ``json.dumps(value)`` — in BOTH ensure_ascii modes
    (violation rows use False, yv_output uses True), which is why strings
    are gated to printable ASCII without ``"``/``\\`` (their dumps rendering
    is identical in both modes and equals ``"<s>"`` verbatim). Exactly
    renderable: missing (the ``"__undefined__"`` token), JSON null,
    safe-ASCII strings, booleans, and BIGINT integers (i64-exact, and
    json.loads of an integer literal yields a Python int whose dumps is the
    same decimal text). DOUBLE/DECIMAL numbers (Python repr rendering),
    wilder strings, and composite values fall to the interpreter."""
    t = _vtype(tv)
    s = F.try_variant_get(tv, "$", "string")
    missing = tv.isNull()
    isnull = tv.isNotNull() & F.is_variant_null(tv)
    txt = (
        F.when(missing, F.lit('"__undefined__"'))
        .when(isnull, F.lit("null"))
        .when(t == "STRING", F.concat(F.lit('"'), s, F.lit('"')))
        .when(t == "BOOLEAN", F.when(F.try_variant_get(tv, "$", "boolean"), "true").otherwise("false"))
        .when(t == "BIGINT", F.try_variant_get(tv, "$", "long").cast("string"))
    )
    renderable = (
        missing
        | isnull
        | ((t == "STRING") & s.rlike(_MAP_KEY_SAFE_RLIKE))
        | (t == "BOOLEAN")
        | (t == "BIGINT")
    )
    return txt, ~F.coalesce(renderable, F.lit(False))


def _string_cond(tv: Column) -> Column:
    return _present(tv) & (_vtype(tv) == "STRING")


def _str(tv: Column) -> Column:
    return F.try_variant_get(tv, "$", "string")


def _negated(ok: Column) -> tuple[Column, Column]:
    return ok, ~ok


def _java_safe(pattern: str) -> str:
    if typed_unsafe(pattern):
        raise ScreenNotApplicable("ECMA-only regex")
    return to_java_pattern(pattern)


def _len_bounds(n: Column, node: Array | Map) -> Column:
    return (n >= F.lit(node.min_len)) & (n <= F.lit(node.max_len))


#: leaf check -> ((tv, arg) -> (ok, fail), representability guard). ``ok``
#: ANDs into the pass condition; ``fail`` fires the check's error in the
#: first-error chain. A guard is ANDed into the pass condition once, right
#: after the type check, and rows it rejects are undecided (interpreter):
#: a BIGINT/DECIMAL beyond 2^53 rounds when cast to double, while the
#: interpreter compares exact Python ints.
_CHECKS = {
    "undefined": (lambda tv, a: (tv.isNull(), tv.isNotNull()), None),
    "null": (lambda tv, a: _negated(tv.isNotNull() & F.is_variant_null(tv)), None),
    "string": (lambda tv, a: _negated(_string_cond(tv)), None),
    "boolean": (lambda tv, a: _negated(_present(tv) & (_vtype(tv) == "BOOLEAN")), None),
    "number": (
        lambda tv, a: _negated(_present(tv) & _is_number_type(tv) & _finite(_dval(tv))), None
    ),
    # every failure mode is the same error (interp._v_integer), and the
    # 2^53 window compares exactly through double for any i64
    "integer": (
        lambda tv, a: _negated(
            _present(tv) & _is_number_type(tv) & _finite(_dval(tv))
            & (F.floor(_dval(tv)) == _dval(tv))
            & (F.abs(_dval(tv)) <= F.lit(float(E.MAX_SAFE_INTEGER)))
        ),
        None,
    ),
    "enum": (lambda tv, a: _negated(_str(tv).isin(list(a))), None),
    "min_length": (
        lambda tv, a: (js_strlen(_str(tv)) >= F.lit(a), js_strlen(_str(tv)) < F.lit(a)), None
    ),
    "max_length": (
        lambda tv, a: (js_strlen(_str(tv)) <= F.lit(a), js_strlen(_str(tv)) > F.lit(a)), None
    ),
    "regex": (lambda tv, a: _negated(_str(tv).rlike(_java_safe(a))), None),
    "min": (
        lambda tv, a: (_dval(tv) >= F.lit(float(a)), _dval(tv) < F.lit(float(a))), _exact_as_double
    ),
    "max": (
        lambda tv, a: (_dval(tv) <= F.lit(float(a)), _dval(tv) > F.lit(float(a))), _exact_as_double
    ),
}


def _screen_leaf(node: Leaf, tv: Column, path: Column,
                 stage: _Stager | None, level: int) -> _Screen:
    """The leaf's first-error chain (validate.ts:50-205) over the variant:
    the pass condition is the AND of every check's ``ok``, exact unless a
    guard leaves rows undecided (``und``: the pass/fail decision or error
    choice is not exactly computable JVM-side).

    Fail side: the chain's ``fail`` conditions, in order, pick the error
    (none true ⇔ pass); a row emits when it passes or when an error fires
    on an exactly renderable value, with one violation row at ``path``.
    Error strings outside the concat-safe alphabet (e.g. an $enum whose
    values need JSON escaping) disable the fail side, never corrupt it.

    With ``stage``, cond/err/rule/value/bad register as level+1 columns —
    every downstream consumer (femit, viols, out, the parent's dispatch
    map) then reads materialized columns instead of re-walking the
    variant (see :class:`_Stager`)."""
    if not node.checks:  # any
        return _Screen(F.lit(True), F.lit("null"), True, True)
    if node.checks[0][0] == "and":
        # the reference data-FAILS every value here (validate.ts:244-247's
        # combine throw path) — unprovable, not wrong
        raise ScreenNotApplicable("$and members not all objects")
    (check, arg, error), rest = node.checks[0], node.checks[1:]
    cond, fail = _CHECKS[check][0](tv, arg)
    chain = [(fail, error)]
    und = None
    guard = next((_CHECKS[c][1] for c, _, _ in rest if _CHECKS[c][1]), None)
    if guard is not None:
        # outside the guard neither the comparison nor the error choice is
        # trustworthy, so such rows are undecided
        und = cond & ~guard(tv)
        cond = cond & guard(tv)
    for check, arg, error in rest:
        ok, fail = _CHECKS[check][0](tv, arg)
        cond = cond & ok
        chain.append((fail, error))

    cond = F.coalesce(cond, F.lit(False))
    if stage is not None:
        cond = stage.add(level + 1, cond)
    if not all(_ERR_SAFE.match(e) for _, e in chain):
        return _Screen(cond, F.lit("null"), und is None, True)
    err = rule = None
    for c, e in chain:
        err = F.when(c, F.lit(e)) if err is None else err.when(c, F.lit(e))
        r = F.lit(E.rule_id_for(e))
        rule = F.when(c, r) if rule is None else rule.when(c, r)
    val, val_und = _render_value(tv)
    bad = err.isNotNull() & ~val_und
    if und is not None:
        bad = bad & ~F.coalesce(und, F.lit(False))
    bad = F.coalesce(bad, F.lit(False))
    if stage is not None:
        err, rule, val, bad = (stage.add(level + 1, c) for c in (err, rule, val, bad))
    return _Screen(
        cond,
        F.when(cond, F.lit("null")).otherwise(_err_text(err, val)),
        und is None,
        True,
        femit=cond | bad,
        viols=F.when(bad, F.array(_row(path, rule, err, val))).otherwise(_empty_viols()),
        val=val,
    )


def _screen(
    node: Any,
    tv: Column,
    txt: Column | None,
    stack: frozenset,
    depth: int,
    path: Column,
    stage: _Stager | None = None,
    level: int = 0,
) -> _Screen:
    """Compile plan ``node`` over value variant ``tv`` (SQL NULL = missing /
    JS undefined); a node without a fail side emits only its pass outcome
    (femit=cond, empty viols). ``txt`` is the node's original JSON text
    when it sits at a literal path from the root (needed for data-order
    keys), else None. ``path`` is the node's violation path. ``stack``
    holds the composite nodes being compiled: meeting one again is a
    recursive custom type. ``stage`` is None inside array/map lambdas."""
    if depth > _MAX_DEPTH:
        raise ScreenNotApplicable("schema nesting beyond screen depth budget")
    if isinstance(node, Leaf):
        s = _screen_leaf(node, tv, path, stage, level)
    else:
        if id(node) in stack:
            raise ScreenNotApplicable("recursive custom type")
        stack = stack | {id(node)}
        if isinstance(node, Union):
            s = _screen_union(node, tv, txt, stack, depth, path, stage, level)
        elif isinstance(node, Array):
            s = _screen_array(node, tv, stack, depth, path)
        elif isinstance(node, Map):
            s = _screen_map(node, tv, txt, stack, depth, path)
        else:
            s = _screen_object(node, tv, txt, stack, depth, path, stage, level)
    if s.femit is None:
        s.femit = F.coalesce(s.cond, F.lit(False))
    if s.viols is None:
        s.viols = _empty_viols()
    return s


def _screen_union(
    node: Union, tv: Column, txt: Column | None, stack: frozenset, depth: int,
    path: Column, stage: _Stager | None, level: int,
) -> _Screen:
    """Ordered union prefix (module docstring): the when-chain replicates
    first-passing-branch output only while every earlier branch is exact.

    Fail side: for a FULLY-covered union of exact, fail-compiled leaves,
    total failure is decidable — ``~cond`` means every branch failed
    (exactness), and the interpreter's output is ``{"error":
    UNION_MISMATCH, "value": v, "output": [each branch's error object, in
    order]}`` (interp._v_one_of / validate.ts:91-104) with violation rows:
    one union_mismatch row, then each branch's error row at the SAME path
    (violations_from_output's _branches list). Unions containing any
    non-exact branch (e.g. bounded $number, whose inexactness is
    row-dependent) or non-leaf branch emit only their pass outcome."""
    chain: list[_Screen] = []
    for branch in node.branches:
        try:
            # branch errors report at the union's own path (validate.ts:95-103)
            r = _screen(branch, tv, txt, stack, depth + 1, path, stage, level)
        except ScreenNotApplicable:
            break
        chain.append(r)
        if not r.exact:
            break
    if not chain:
        raise ScreenNotApplicable("no screenable union prefix")
    cond = chain[0].cond
    out = F.when(chain[0].cond, chain[0].out)
    for r in chain[1:]:
        cond = cond | r.cond
        out = out.when(r.cond, r.out)
    exact = len(chain) == len(node.branches) and all(r.exact for r in chain)
    null_out = all(r.null_out for r in chain)
    if not exact or any(r.val is None for r in chain):
        return _Screen(cond, out, exact, null_out)
    # every branch is a leaf whose conds are non-NULL: on ~cond rows each
    # branch's femit is its "fails renderably", its out its error object
    # and its viols its one error row; val renders the same tv for all
    ufail = ~cond
    for r in chain:
        ufail = ufail & r.femit
    err = F.lit(E.UNION_MISMATCH)
    val = chain[0].val
    mismatch = F.array(_row(path, F.lit(E.rule_id_for(E.UNION_MISMATCH)), err, val))
    fail_out = F.concat(
        F.lit('{"error":"'), err, F.lit('","value":'), val,
        F.lit(',"output":['), F.concat_ws(",", *[r.out for r in chain]), F.lit("]}"),
    )
    return _Screen(
        cond, F.when(cond, out).otherwise(fail_out), exact, null_out,
        femit=cond | ufail,
        viols=F.when(ufail, F.concat(mismatch, *[r.viols for r in chain])).otherwise(_empty_viols()),
    )


def _forall(xs: Column, screen_of, what: str) -> tuple[Column, _Screen]:
    """``forall`` over the elements' pass conditions, and the element
    screen its lambda built. Elements need literally-``null`` pass output
    (module docstring)."""
    got: list[_Screen] = []

    def cond(x: Column) -> Column:
        got.append(screen_of(x))
        return got[0].cond

    all_ok = F.forall(xs, cond)
    if not got[0].null_out:
        raise ScreenNotApplicable(f"{what} output is not null (needs per-element text)")
    return all_ok, got[0]


def _screen_array(node: Array, tv: Column, stack: frozenset, depth: int, path: Column) -> _Screen:
    """validateArray (validate.ts:106-126): length bounds, then every
    element. Elements are never JS-undefined; a JSON null element arrives
    as a variant-null (probed), so leaf screens stay sound. Output is the
    flat() of element outputs — with null-output elements (enforced),
    that is exactly ``[null,...]``.

    Fail side, for an exact, fail-compiled leaf element: a LENGTH failure
    (the offending value is the element count, an exact integer; the
    error string is the compile-time arr_length constant), or per-element
    failures with ``[i]`` paths when every element is decided. flat() is
    the identity on emitted rows because nested-array elements are never
    emitted — their offending value is unrenderable, so those rows go to
    the interpreter, which also sidesteps flat()'s index-shifting splice.
    NOT_ARRAY failures report the whole payload as the value —
    interpreter."""
    arr = F.try_variant_get(tv, "$", "array<variant>")

    def elem(e: Column, i: Column | None = None) -> _Screen:
        # lambda scope: element subtrees reference the lambda variable and
        # must NOT be staged as projection columns
        p = path if i is None else F.concat(path, F.lit("["), i.cast("string"), F.lit("]"))
        return _screen(node.elem, e, None, stack, depth + 1, p)

    all_ok, r = _forall(arr, elem, "array element")
    struct_base = tv.isNotNull() & _vtype(tv).startswith("ARRAY")
    len_ok = _len_bounds(F.size(arr), node)
    cond = struct_base & len_ok & all_ok
    out = F.concat(
        F.lit("["),
        F.array_join(F.transform(arr, lambda e: F.lit("null")), ","),
        F.lit("]"),
    )
    # element screens are elementwise ⇔, and only real JSON arrays have
    # ARRAY type — matching the reference's isArray gate exactly
    len_err = E.arr_length(node.min_len, node.max_len)
    if r.val is None or not r.exact or not _ERR_SAFE.match(len_err):
        return _Screen(cond, out, exact=r.exact, null_out=False)
    cond_f = F.coalesce(cond, F.lit(False))
    len_fail = F.coalesce(struct_base & ~len_ok, F.lit(False))
    size_txt = F.size(arr).cast("string")
    all_decided = F.forall(arr, lambda e: elem(e).femit)
    elem_outs = F.transform(arr, lambda e: elem(e).out)
    return _Screen(
        cond,
        F.when(cond_f, out)
        .when(len_fail, _err_text(F.lit(len_err), size_txt))
        .otherwise(F.concat(F.lit("["), F.array_join(elem_outs, ","), F.lit("]"))),
        exact=r.exact,
        null_out=False,
        femit=cond_f | len_fail | F.coalesce(struct_base & len_ok & all_decided, F.lit(False)),
        viols=F.when(cond_f, _empty_viols())
        .when(len_fail, F.array(_row(path, F.lit(E.rule_id_for(len_err)), F.lit(len_err), size_txt)))
        .otherwise(F.flatten(F.transform(arr, lambda e, i: elem(e, i).viols))),
    )


def _screen_map(
    node: Map, tv: Column, txt: Column | None, stack: frozenset, depth: int, path: Column,
) -> _Screen:
    """validateMap (validate.ts:161-193): member-count bounds, optional key
    regex, every value. NOT exact: the reference also accepts JS arrays
    (indices as keys); those rows screen false. Output needs data-order
    keys, hence the text column.

    Fail side, for an exact, fail-compiled leaf value: when the STRUCTURAL
    checks hold (true JSON object, size bounds, render-safe keys, key
    regex) the map's outcome is its VALUES' — per-key value failures emit
    with ``.<key>`` violation paths in data-key order, exactly like object
    fields. Structural failures report the whole map as the offending
    value — interpreter."""
    if txt is None:
        raise ScreenNotApplicable("$map not at a literal path (needs text)")
    mp = F.try_variant_get(tv, "$", "map<string,variant>")
    keys = F.map_keys(mp)  # sorted by the cast — fine for order-free checks

    def value(v: Column, k: Column | None = None) -> _Screen:
        p = path if k is None else F.concat(path, F.lit("."), k)
        return _screen(node.value, v, None, stack, depth + 1, p)

    vals_ok, r = _forall(F.map_values(mp), value, "map value")
    struct_ok = (
        tv.isNotNull()
        & _vtype(tv).startswith("OBJECT")
        & _len_bounds(F.size(mp), node)
        # keys must render into output text verbatim (json.dumps identity)
        & F.forall(keys, lambda k: k.rlike(_MAP_KEY_SAFE_RLIKE))
    )
    if node.regex is not None:
        jp = _java_safe(node.regex)
        struct_ok = struct_ok & F.forall(keys, lambda k: k.rlike(jp))
    cond = struct_ok & vals_ok
    data_keys = F.array_distinct(F.json_object_keys(txt))

    def body(value_out) -> Column:
        pairs = F.transform(data_keys, lambda k: F.concat(F.lit('"'), k, F.lit('":'), value_out(k)))
        return F.concat(F.lit("{"), F.array_join(pairs, ","), F.lit("}"))

    out = body(lambda k: F.lit("null"))
    if r.val is None or not r.exact:
        return _Screen(cond, out, exact=False, null_out=False)
    cond_f = F.coalesce(cond, F.lit(False))
    all_decided = F.forall(F.map_values(mp), lambda v: value(v).femit)
    return _Screen(
        cond,
        F.when(cond_f, out).otherwise(body(lambda k: value(F.element_at(mp, k)).out)),
        exact=False,
        null_out=False,
        femit=cond_f | F.coalesce(struct_ok & all_decided, F.lit(False)),
        viols=F.when(cond_f, _empty_viols()).otherwise(
            F.flatten(F.transform(data_keys, lambda k: value(F.element_at(mp, k), k).viols))
        ),
    )


def _screen_object(
    node: Object, tv: Column, txt: Column | None, stack: frozenset, depth: int,
    path: Column, stage: _Stager, level: int,
) -> _Screen:
    """validateObject (validate.ts:128-159): closed world. NOT exact (the
    reference also accepts JS arrays). Output is data keys in DATA order
    (text-level ``json_object_keys`` — VARIANT sorts keys) followed by
    missing declared keys in schema order, each rendered through its own
    field output via an ``element_at`` dispatch map.

    Fail side: when the STRUCTURAL checks hold (real JSON object, closed
    keyset) the object's outcome is decided entirely by its fields, so the
    object emits exactly when every field does — viols are the fields'
    viols concatenated in the interpreter's output order (data keys first,
    then missing declared keys; interp._v_object builds its output dict in
    that order and violations_from_output flattens it in dict order).
    Structural failures (non-object value, extra keys) go to the
    interpreter: their offending value is the whole object, which the JVM
    cannot re-render canonically.

    An object always sits at a literal path, so ``stage`` is never None
    here: the sub-variants, sub-texts and key arrays are staged once."""
    if txt is None:
        raise ScreenNotApplicable("object not at a literal path (needs text)")
    field_keys: list[str] = []
    subs: list[_Screen] = []
    out_pairs: list[Column] = []
    viol_pairs: list[Column] = []
    for data_key, sub in node.fields:
        if not _SAFE_KEY.match(data_key):
            raise ScreenNotApplicable(f"key {data_key!r} not screen-safe")
        field_keys.append(data_key)
        # materialize the sub-variant/sub-text ONCE: every leaf op of every
        # chain below otherwise re-extracts it from the parent (and for the
        # root, re-parses the JSON text)
        tv_k = stage.add(level + 1, F.try_variant_get(tv, f"$.{data_key}", "variant"))
        txt_k = stage.add(level + 1, F.get_json_object(txt, f"$.{data_key}"))
        sub_path = F.concat(path, F.lit(f".{data_key}"))
        r = _screen(sub, tv_k, txt_k, stack, depth + 1, sub_path, stage, level + 1)
        subs.append(r)
        out_pairs.extend([F.lit(data_key), r.out])
        viol_pairs.extend([F.lit(data_key), r.viols])

    # references txt (level <= this node's level): stage with the field
    # extractions
    data_keys = stage.add(level + 1, F.array_distinct(F.json_object_keys(txt)))
    if field_keys:
        declared = F.array(*[F.lit(k) for k in field_keys])
    else:
        declared = F.array().cast("array<string>")
    keyset_ok = F.size(F.array_except(data_keys, declared)) == 0
    struct_ok = stage.add(
        level + 2,
        F.coalesce(tv.isNotNull() & _vtype(tv).startswith("OBJECT") & keyset_ok, F.lit(False)),
    )
    cond = femit = struct_ok
    for r in subs:
        cond = cond & r.cond
        femit = femit & r.femit
    if not field_keys:
        return _Screen(cond, F.lit("{}"), exact=False, null_out=False)
    all_keys = stage.add(level + 2, F.concat(data_keys, F.array_except(declared, data_keys)))
    # assembly stays unstaged: it is concat/dispatch over already-staged
    # leaf and key columns, cheap per reference
    out_map = F.create_map(*out_pairs)
    body = F.array_join(
        F.transform(all_keys, lambda k: F.concat(F.lit('"'), k, F.lit('":'), F.element_at(out_map, k))),
        ",",
    )
    vmap = F.create_map(*viol_pairs)
    return _Screen(
        cond,
        F.concat(F.lit("{"), body, F.lit("}")),
        exact=False,
        null_out=False,
        femit=femit,
        viols=F.flatten(
            F.transform(all_keys, lambda k: F.coalesce(F.element_at(vmap, k), _empty_viols()))
        ),
    )


def compile_screens(schema: Any, raw: Column):
    """One compilation, staged. Returns ``(levels, outputs)``: ``levels``
    is an ordered list of ``{column_name: Column}`` dicts of shared
    subexpressions (see :class:`_Stager`) that the caller must select in
    order (:func:`select_levels`) before evaluating ``outputs``, whose
    expressions reference those columns by name:

    * ``"pass"`` — provably-pass boolean;
    * ``"emit"`` — the outcome, pass or fail, is exactly JVM-representable
      (true on every ``pass`` row);
    * ``"viols"`` — the interpreter's violation rows, valid when ``emit``;
    * ``"out"`` — the interpreter's yv_output, valid when ``emit``.

    Rows with ``emit & ~pass`` are provably FAILING with byte-exact
    violations/output — they skip Arrow too. Rows with ``~emit`` run
    interpreted. Raises :class:`ScreenNotApplicable` outside the fragment
    (the fail side degrades per node, never widens the fragment), including
    for schemas that do not lower."""
    try:
        plan = lower(schema)
    except SchemaError as ex:
        raise ScreenNotApplicable(str(ex)) from ex
    stage = _Stager()
    pv = stage.add(0, F.try_parse_json(raw))
    s = _screen(plan, pv, raw, frozenset(), 0, F.lit("$"), stage, 0)
    return stage.levels, {
        "pass": F.coalesce(s.cond, F.lit(False)),
        "emit": F.coalesce(s.femit, F.lit(False)),
        "viols": s.viols,
        "out": s.out,
    }


def select_levels(df: DataFrame, levels: list[dict[str, Column]]) -> DataFrame:
    """Evaluate :func:`compile_screens`' staged levels as chained
    projections, each level once per row."""
    for lvl in levels:
        if lvl:
            df = df.select("*", *[c.alias(n) for n, c in lvl.items()])
    return df
