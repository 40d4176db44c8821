"""JVM-side "provably passes" screen for the dynamic JSON path.

The dynamic path's exactness requirements (undefined vs null, unions,
closed-world objects) force interpreter evaluation — but not for every
ROW. This module compiles a yaschva schema fragment into ONE Catalyst
boolean over Spark's VARIANT type that is true only when the interpreter
would return ``pass``, plus the matching ``yv_output`` text expression so
proven rows never cross the Arrow boundary at all
(engine.validate_json_table splits the plan on the screen).

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

Soundness contract: the screen may return false for a passing row (that
row just pays the interpreter), but must NEVER return true for a failing
one — and when it returns true, the emitted output text must equal the
interpreter's byte for byte. Consequences baked in:

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

Supported fragment: every leaf check except the ``$and`` error leaf
(``$string`` regexes only when dialect-safe), nested objects at literal
paths, ``$array``/``$map`` with leaf-output element/value schemas, and
ordered union prefixes thereof — with ``$type``, non-recursive ``$types``
and ``$and`` already resolved by the lowering. Reference semantics:
validate.ts:50-205 (leaves), validate.ts:106-193 (arrays/maps/objects),
validate.ts:91-104 (unions).

**Fail screen (r5).** The r4 measurement showed the pass screen proving
100% of the VALID rows on the nested bench corpus — the remaining ~49%
crossing Arrow were all genuinely-violating rows, which the interpreter
evaluated only to produce error strings the schema already determines.
``compile_screens`` therefore also compiles the FAIL side: leaves carry
the interpreter's first-error dispatch as a when-chain of compile-time
constants (error string + rule id), the offending value renders JVM-side
when its ``json.dumps`` text is exactly reconstructible (missing →
``"__undefined__"``, null, booleans, i64 integers, printable-ASCII
strings without ``"``/``\\``); objects concatenate field violations in
the interpreter's output order; UNIONS of fully-covered exact leaves emit
UNION_MISMATCH plus every branch's error at the same path; ARRAYS emit
length failures (offending value = element count) and per-element leaf
failures with ``[i]`` paths; $MAPS emit per-key value failures at
``$.path.<key>`` in data-key order. Rows the fail side cannot decide or
render exactly — object/map structural failures (non-object value, extra
key, size bounds, key regex — the offending value is the whole
composite), NOT_ARRAY, DOUBLE/DECIMAL or escape-needing offending
values, nested-array elements (flat() splicing), bound comparisons
outside the 2^53 window — keep falling to the interpreter, per row.
Soundness contract extends symmetrically: an emitted FAIL row's
violations and output must equal the interpreter's byte for byte
(differential + emission-boundary tests in tests/test_jsonscreen.py).
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
from yaschva_spark.typed import js_strlen  # UTF-16 code units

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
    #: the interpreter's ``yv_output`` JSON text — valid only when ``cond``
    out: Column
    #: cond ⇔ interpreter-pass over the parseable-JSON domain (not merely ⇒)
    exact: bool
    #: ``out`` is the literal text ``null`` for every passing value
    null_out: bool
    #: FAIL-SCREEN (r5): row-level "this node's outcome — pass OR fail — is
    #: exactly JVM-representable". On femit rows ``viols`` equals the
    #: interpreter's violation rows byte for byte and ``fout`` equals its
    #: ``yv_output`` byte for byte, so provably-FAILING rows skip Arrow
    #: too. None = not fail-compiled (normalized to femit=cond,
    #: viols=empty, fout=out: only the pass outcome is representable).
    femit: Column | None = None
    #: ``yv_output`` text valid whenever ``femit`` (== ``out`` when cond)
    fout: Column | None = None
    #: violation rows, empty when cond; valid whenever ``femit``
    viols: Column | None = None
    #: staged compilation only: the highest _Stager level any of this
    #: node's columns references (a parent staging its assembly must go
    #: one above)
    lvl: int = 0
    #: leaf fail parts ``(err, rule, val_txt, bad)`` — set only by
    #: fail-compiled leaves so a UNION can compose its total-failure
    #: output (every branch's error at the same path) from them
    leaf_fail: tuple | None = None


#: violation rows schema (matches typed.VIOLATION_DDL)
_VIOL_DDL = "array<struct<path:string,rule:string,error:string,value:string>>"

#: error strings that may be concat-spliced into JSON output text verbatim:
#: printable ASCII without `"` or `\` — exactly the strings whose
#: json.dumps rendering (either ensure_ascii mode) is the string itself
_ERR_SAFE = _re.compile(r"\A[ !#-\[\]-~]+\Z")


def _empty_viols() -> Column:
    return F.array().cast(_VIOL_DDL)


def _row(path: Column, rule: Column, err: Column, val: Column) -> Column:
    """One violation row."""
    return F.struct(path.alias("path"), rule.alias("rule"), err.alias("error"), val.alias("value"))


def _err_text(err: Column, val: Column) -> Column:
    """The interpreter's ``{"error": ..., "value": ...}`` output text."""
    return F.concat(F.lit('{"error":"'), err, F.lit('","value":'), val, F.lit("}"))


def _elem_decided(r: "_Screen") -> Column:
    """An exact element/value screen decided this element: it passes, or it
    fails with a renderable (error, value)."""
    return F.coalesce(r.cond, F.lit(False)) | F.coalesce(r.leaf_fail[3], F.lit(False))


def _elem_viols(r: "_Screen", path: Column) -> Column:
    err, rule, val, bad = r.leaf_fail
    return F.when(
        F.coalesce(bad, F.lit(False)) & ~F.coalesce(r.cond, F.lit(False)),
        F.array(_row(path, rule, err, val)),
    ).otherwise(_empty_viols())


def _elem_out(r: "_Screen") -> Column:
    err, _rule, val, _bad = r.leaf_fail
    return F.when(F.coalesce(r.cond, F.lit(False)), F.lit("null")).otherwise(_err_text(err, val))


class _Stager:
    """Staged compilation (r5 perf): registers shared subexpressions —
    the parsed root variant, per-field sub-variants/texts, and each leaf's
    cond/err/rule/value columns — as ALIASED COLUMNS at depth-indexed
    levels, so the engine can evaluate them ONCE per row in a chain of
    projections instead of re-evaluating them inside every consumer.

    Why it matters: a leaf's error chain, rule chain, value renderer,
    femit, viols and fout all reference the same ``try_variant_get`` /
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


def _screen_leaf(node: Leaf, tv: Column, path: str | None,
                 stage: _Stager | None, level: int) -> _Screen:
    """The leaf's first-error chain (validate.ts:50-205) over the variant:
    the pass condition is the AND of every check's ``ok``, exact unless a
    guard leaves rows undecided (``und``: the pass/fail decision or error
    choice is not exactly computable JVM-side).

    Fail side: the chain's ``fail`` conditions, in order, pick the error
    (none true ⇔ pass). At a literal ``path`` femit/viols/fout are compiled
    so provably-FAILING rows skip the interpreter too; elsewhere only the
    parts ``(err, rule, val_txt, bad)`` are kept, for a composing parent
    (union at its own path, array at [i]). Soundness: a femit row whose
    chain fires is emitted as FAIL with exactly the interpreter's (path,
    rule, error, value); the engine routes cond rows to the pass branch
    first, so the two never both claim a row. Error strings outside the
    concat-safe alphabet (e.g. an $enum whose values need JSON escaping)
    disable the fail side, never corrupt it.

    With ``stage``, cond/err/rule/value/bad register as level+1 columns —
    every downstream consumer (femit, viols, fout, the parent's dispatch
    maps) then reads materialized columns instead of re-walking the
    variant (see :class:`_Stager`)."""
    if not node.checks:  # any
        return _Screen(F.lit(True), F.lit("null"), True, True, lvl=level + 1)
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

    if stage is not None:
        cond = stage.add(level + 1, F.coalesce(cond, F.lit(False)))
    s = _Screen(cond, F.lit("null"), und is None, True, lvl=level + 1)
    if not all(_ERR_SAFE.match(e) for _, e in chain):
        return s
    err = rule = None
    for c, e in chain:
        err = F.when(c, F.lit(e)) if err is None else err.when(c, F.lit(e))
        r = F.lit(E.rule_id_for(e))
        rule = F.when(c, r) if rule is None else rule.when(c, r)
    val_txt, val_und = _render_value(tv)
    bad = err.isNotNull() & ~val_und
    if und is not None:
        bad = bad & ~F.coalesce(und, F.lit(False))
    bad = F.coalesce(bad, F.lit(False))
    if stage is not None:
        err = stage.add(level + 1, err)
        rule = stage.add(level + 1, rule)
        val_txt = stage.add(level + 1, val_txt)
        bad = stage.add(level + 1, bad)
    s.leaf_fail = (err, rule, val_txt, bad)
    if path is None:
        return s
    s.femit = F.coalesce(cond, F.lit(False)) | bad
    s.viols = F.when(bad, F.array(_row(F.lit(path), rule, err, val_txt))).otherwise(_empty_viols())
    s.fout = F.when(F.coalesce(cond, F.lit(False)), F.lit("null")).otherwise(_err_text(err, val_txt))
    return s


def _screen(
    node: Any,
    tv: Column,
    txt: Column | None,
    stack: frozenset,
    depth: int,
    path: str | None = None,
    stage: _Stager | None = None,
    level: int = 0,
) -> _Screen:
    """Compile plan ``node`` over value variant ``tv`` (SQL NULL = missing /
    JS undefined) and normalize the fail-side defaults: a node that didn't
    compile a fail side can still emit its PASS outcome (femit=cond, empty
    viols, fout=out). ``txt`` is the node's original JSON text when it sits
    at a literal path from the root (needed for data-order keys), else
    None. ``path`` is the node's literal JSONPath when known (the fail
    screen's violation rows need it), else None (fail side off). ``stack``
    holds the composite nodes being compiled: meeting one again is a
    recursive custom type."""
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
            s = _screen_array(node, tv, stack, depth, path, stage, level)
        elif isinstance(node, Map):
            s = _screen_map(node, tv, txt, stack, depth, path, stage, level)
        else:
            s = _screen_object(node, tv, txt, stack, depth, path, stage, level)
    if s.femit is None:
        s.femit = F.coalesce(s.cond, F.lit(False))
    if s.viols is None:
        s.viols = _empty_viols()
    if s.fout is None:
        s.fout = s.out
    return s


def _screen_union(
    node: Union, tv: Column, txt: Column | None, stack: frozenset, depth: int,
    path: str | None, stage: _Stager | None, level: int,
) -> _Screen:
    """Ordered union prefix (module docstring): the when-chain replicates
    first-passing-branch output only while every earlier branch is exact.

    Fail side (r5): for a FULLY-covered union of compile-time-EXACT,
    fail-compiled leaves, total failure is decidable — ``~cond`` means
    every branch failed (exactness), and the interpreter's output is
    ``{"error": UNION_MISMATCH, "value": v, "output": [each branch's
    error object, in order]}`` (interp._v_one_of / validate.ts:91-104)
    with violation rows: one union_mismatch row, then each branch's error
    row at the SAME path (violations_from_output's _branches list).
    Unions containing any non-exact branch (e.g. bounded $number, whose
    inexactness is row-dependent) or non-leaf branch keep the default
    (pass-only emission)."""
    chain: list[_Screen] = []
    for branch in node.branches:
        try:
            # branches get the union's own path: their standalone viols are
            # ignored (the union composes its own rows below), and branch
            # errors DO report at the union's path (validate.ts:95-103)
            r = _screen(branch, tv, txt, stack, depth + 1, path, stage, level)
        except ScreenNotApplicable:
            break
        chain.append(r)
        if not r.exact:
            break
    covered_all = len(chain) == len(node.branches)
    if not chain:
        raise ScreenNotApplicable("no screenable union prefix")
    cond = chain[0].cond
    for r in chain[1:]:
        cond = cond | r.cond
    out = F.when(chain[0].cond, chain[0].out)
    for r in chain[1:]:
        out = out.when(r.cond, r.out)
    exact = covered_all and all(r.exact for r in chain)
    # assembly stays unstaged: branch conds/outs are already staged leaf
    # columns, so the when-chain is cheap per reference
    s = _Screen(
        cond,
        out,
        exact=exact,
        null_out=all(r.null_out for r in chain),
    )
    if exact and path is not None and all(r.leaf_fail for r in chain):
        val = chain[0].leaf_fail[2]  # same tv -> identical rendering
        ufail = None
        for r in chain:
            b = r.leaf_fail[3]
            ufail = b if ufail is None else ufail & b
        ufail = ~F.coalesce(cond, F.lit(False)) & F.coalesce(ufail, F.lit(False))
        err = F.lit(E.UNION_MISMATCH)
        rows = [_row(F.lit(path), F.lit(E.rule_id_for(E.UNION_MISMATCH)), err, val)]
        branch_objs = []
        for r in chain:
            err_i, rule_i, _v, _b = r.leaf_fail
            rows.append(_row(F.lit(path), rule_i, err_i, val))
            branch_objs.append(_err_text(err_i, val))
        s.femit = F.coalesce(cond, F.lit(False)) | ufail
        s.viols = F.when(ufail, F.array(*rows)).otherwise(_empty_viols())
        body = F.concat_ws(",", *branch_objs) if branch_objs else F.lit("")
        s.fout = F.when(F.coalesce(cond, F.lit(False)), out).otherwise(
            F.concat(
                F.lit('{"error":"'), err, F.lit('","value":'), val,
                F.lit(',"output":['), body, F.lit("]}"),
            )
        )
    return s


def _screen_array(
    node: Array, tv: Column, stack: frozenset, depth: int,
    path: str | None, stage: _Stager | None, level: int,
) -> _Screen:
    """validateArray (validate.ts:106-126): length bounds, then every
    element. Elements are never JS-undefined; a JSON null element arrives
    as a variant-null (probed), so leaf screens stay sound. Output is the
    flat() of element outputs — with null-output elements (enforced),
    that is exactly ``[null,...]``.

    Fail side (r5): two exactly-renderable failure shapes emit JVM-side —
    a LENGTH failure (the offending value is the element count, an exact
    integer; error string is the compile-time arr_length constant), and
    per-ELEMENT leaf failures when the element screen is compile-time
    exact and every failing element's (error, value) is renderable:
    violation rows gain ``[i]`` path segments in element order, and the
    output is the element-wise pass/fail rendering (flat() is identity
    because nested-array elements are never emitted — their offending
    value is unrenderable, so those rows go to the interpreter, which
    also sidesteps flat()'s index-shifting splice). NOT_ARRAY failures
    report the whole payload as the value — interpreter."""
    arr = F.try_variant_get(tv, "$", "array<variant>")
    holder: dict[str, _Screen] = {}

    def elem_cond(e: Column) -> Column:
        # lambda scope: element subtrees reference the lambda variable and
        # must NOT be staged as projection columns
        r = _screen(node.elem, e, None, stack, depth + 1)
        holder["r"] = r
        return r.cond

    all_ok = F.forall(arr, elem_cond)
    if not holder["r"].null_out:
        raise ScreenNotApplicable(
            "array element output is not null (needs per-element text)"
        )
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
    s = _Screen(cond, out, exact=holder["r"].exact, null_out=False)
    if path is None or holder["r"].leaf_fail is None or not holder["r"].exact:
        return s
    len_err = E.arr_length(node.min_len, node.max_len)
    if not _ERR_SAFE.match(len_err):
        return s

    def elem_fail(e: Column) -> _Screen:
        return _screen(node.elem, e, None, stack, depth + 1)

    # every element's outcome decided AND renderable (exact elements:
    # cond ⇔ pass, bad ⇒ fail with exact (error, value))
    all_decided = F.forall(arr, lambda e: _elem_decided(elem_fail(e)))
    len_fail = F.coalesce(struct_base & ~len_ok, F.lit(False))
    size_txt = F.size(arr).cast("string")
    cond_f = F.coalesce(cond, F.lit(False))
    s.femit = cond_f | len_fail | F.coalesce(
        struct_base & len_ok & all_decided, F.lit(False)
    )

    def viol_rows(e: Column, i: Column) -> Column:
        path_i = F.concat(F.lit(f"{path}["), i.cast("string"), F.lit("]"))
        return _elem_viols(elem_fail(e), path_i)

    s.viols = (
        F.when(cond_f, _empty_viols())
        .when(
            len_fail,
            F.array(_row(F.lit(path), F.lit(E.rule_id_for(len_err)), F.lit(len_err), size_txt)),
        )
        .otherwise(F.flatten(F.transform(arr, viol_rows)))
    )
    elem_outs = F.transform(arr, lambda e: _elem_out(elem_fail(e)))
    s.fout = (
        F.when(cond_f, out)
        .when(len_fail, _err_text(F.lit(len_err), size_txt))
        .otherwise(F.concat(F.lit("["), F.array_join(elem_outs, ","), F.lit("]")))
    )
    return s


def _screen_map(
    node: Map, tv: Column, txt: Column | None, stack: frozenset, depth: int,
    path: str | None, stage: _Stager | None, level: int,
) -> _Screen:
    """validateMap (validate.ts:161-193): member-count bounds, optional key
    regex, every value. NOT exact: the reference also accepts JS arrays
    (indices as keys); those rows screen false. Output needs data-order
    keys, hence the text column.

    Fail side (r5): when the STRUCTURAL checks hold (true JSON object,
    size bounds, render-safe keys, key regex) the map's outcome is its
    VALUES' — per-key value failures emit with ``$.path.<key>`` violation
    rows in data-key order, exactly like object fields, provided the value
    screen is compile-time exact and each failing value renders exactly.
    Structural failures report the whole map as the offending value —
    interpreter."""
    if txt is None:
        raise ScreenNotApplicable("$map not at a literal path (needs text)")
    mp = F.try_variant_get(tv, "$", "map<string,variant>")
    keys = F.map_keys(mp)  # sorted by the cast — fine for order-free checks
    holder: dict[str, _Screen] = {}

    def val_cond(v: Column) -> Column:
        r = _screen(node.value, v, None, stack, depth + 1)
        holder["r"] = r
        return r.cond

    vals_ok = F.forall(F.map_values(mp), val_cond)
    if not holder["r"].null_out:
        raise ScreenNotApplicable(
            "map value output is not null (needs per-value text)"
        )
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
    body = F.array_join(
        F.transform(data_keys, lambda k: F.concat(F.lit('"'), k, F.lit('":null'))),
        ",",
    )
    out = F.concat(F.lit("{"), body, F.lit("}"))
    s = _Screen(cond, out, exact=False, null_out=False)
    if path is None or holder["r"].leaf_fail is None or not holder["r"].exact:
        return s

    def val_screen(v: Column) -> _Screen:
        return _screen(node.value, v, None, stack, depth + 1)

    cond_f = F.coalesce(cond, F.lit(False))
    s.femit = cond_f | F.coalesce(
        struct_ok & F.forall(F.map_values(mp), lambda v: _elem_decided(val_screen(v))),
        F.lit(False),
    )

    def viol_rows(k: Column) -> Column:
        return _elem_viols(val_screen(F.element_at(mp, k)), F.concat(F.lit(f"{path}."), k))

    s.viols = F.when(cond_f, _empty_viols()).otherwise(
        F.flatten(F.transform(data_keys, viol_rows))
    )

    def key_out(k: Column) -> Column:
        v_out = _elem_out(val_screen(F.element_at(mp, k)))
        return F.concat(F.lit('"'), k, F.lit('":'), v_out)

    s.fout = F.when(cond_f, out).otherwise(
        F.concat(
            F.lit("{"), F.array_join(F.transform(data_keys, key_out), ","), F.lit("}")
        )
    )
    return s


def _screen_object(
    node: Object, tv: Column, txt: Column | None, stack: frozenset, depth: int,
    path: str | None, stage: _Stager | None, level: int,
) -> _Screen:
    """validateObject (validate.ts:128-159): closed world. NOT exact (the
    reference also accepts JS arrays). Output is data keys in DATA order
    (text-level ``json_object_keys`` — VARIANT sorts keys) followed by
    missing declared keys in schema order, each rendered through its own
    field output via an ``element_at`` dispatch map.

    Fail side: when the STRUCTURAL checks hold (real JSON object, closed
    keyset) the object's outcome is decided entirely by its fields, so the
    object is fail-emittable exactly when every field is — viols are the
    fields' viols concatenated in the interpreter's output order (data keys
    first, then missing declared keys; interp._v_object builds its output
    dict in that order and violations_from_output flattens it in dict
    order), and fout dispatches each field's fail-aware output. Structural
    failures (non-object value, extra keys) go to the interpreter: their
    offending value is the whole object, which the JVM cannot re-render
    canonically."""
    if txt is None:
        raise ScreenNotApplicable("object not at a literal path (needs text)")
    field_keys: list[str] = []
    subs: list[_Screen] = []
    out_pairs: list[Column] = []
    fout_pairs: list[Column] = []
    viol_pairs: list[Column] = []
    for data_key, sub in node.fields:
        if not _SAFE_KEY.match(data_key):
            raise ScreenNotApplicable(f"key {data_key!r} not screen-safe")
        field_keys.append(data_key)
        tv_k = F.try_variant_get(tv, f"$.{data_key}", "variant")
        txt_k = F.get_json_object(txt, f"$.{data_key}")
        sub_level = level
        if stage is not None:
            # materialize the sub-variant/sub-text ONCE: every leaf op of
            # every chain below otherwise re-extracts it from the parent
            # (and for the root, re-parses the JSON text)
            tv_k = stage.add(level + 1, tv_k)
            txt_k = stage.add(level + 1, txt_k)
            sub_level = level + 1
        sub_path = f"{path}.{data_key}" if path is not None else None
        r = _screen(sub, tv_k, txt_k, stack, depth + 1, sub_path, stage, sub_level)
        subs.append(r)
        out_pairs.extend([F.lit(data_key), r.out])
        fout_pairs.extend([F.lit(data_key), r.fout])
        viol_pairs.extend([F.lit(data_key), r.viols])

    data_keys = F.array_distinct(F.json_object_keys(txt))
    if stage is not None:
        # references txt (level <= this node's level): stage with the
        # field extractions
        data_keys = stage.add(level + 1, data_keys)
    if field_keys:
        declared = F.array(*[F.lit(k) for k in field_keys])
    else:
        declared = F.array().cast("array<string>")
    keyset_ok = F.size(F.array_except(data_keys, declared)) == 0
    struct_ok = tv.isNotNull() & _vtype(tv).startswith("OBJECT") & keyset_ok
    if stage is not None:
        struct_ok = stage.add(level + 2, F.coalesce(struct_ok, F.lit(False)))
    cond = struct_ok
    for r in subs:
        cond = cond & r.cond

    if field_keys:
        all_keys = F.concat(data_keys, F.array_except(declared, data_keys))
        if stage is not None:
            all_keys = stage.add(level + 2, all_keys)

        def _dispatch(pairs: list[Column]) -> Column:
            m = F.create_map(*pairs)
            body = F.array_join(
                F.transform(
                    all_keys,
                    lambda k: F.concat(
                        F.lit('"'), k, F.lit('":'), F.element_at(m, k)
                    ),
                ),
                ",",
            )
            return F.concat(F.lit("{"), body, F.lit("}"))

        out = _dispatch(out_pairs)
        fout = _dispatch(fout_pairs)
        vmap = F.create_map(*viol_pairs)
        viols = F.flatten(
            F.transform(
                all_keys, lambda k: F.coalesce(F.element_at(vmap, k), _empty_viols())
            )
        )
        femit = struct_ok if stage is not None else F.coalesce(struct_ok, F.lit(False))
        for r in subs:
            femit = femit & F.coalesce(r.femit, F.lit(False))
        # assembly stays unstaged: it is concat/dispatch over already-staged
        # leaf and key columns, cheap per reference
        return _Screen(
            cond, out, exact=False, null_out=False,
            femit=femit, fout=fout, viols=viols,
        )
    out = F.lit("{}")
    return _Screen(cond, out, exact=False, null_out=False)


def compile_screens(schema: Any, raw: Column):
    """One compilation, both screens, staged. Returns ``(levels, outputs)``:
    ``levels`` is an ordered list of ``{column_name: Column}`` dicts of
    shared subexpressions (see :class:`_Stager`) that the caller must
    select in order (:func:`select_levels`) before evaluating ``outputs``,
    whose expressions reference those columns by name:

    * ``"pass"`` — provably-pass boolean;
    * ``"pass_out"`` — yv_output for proven-pass rows;
    * ``"emit"`` — outcome (pass OR fail) exactly JVM-representable;
    * ``"viols"`` — the interpreter's violation rows, valid when ``emit``;
    * ``"fail_out"`` — yv_output valid when ``emit`` (== pass_out on pass).

    Rows with ``emit & ~pass`` are provably FAILING with byte-exact
    violations/output — they skip Arrow entirely. Rows with ``~emit`` run
    interpreted. Raises :class:`ScreenNotApplicable` outside the fragment
    (the fail side degrades per-node, never widens the fragment), including
    for schemas that do not lower."""
    try:
        plan = lower(schema)
    except SchemaError as ex:
        raise ScreenNotApplicable(str(ex)) from ex
    stage = _Stager()
    pv = stage.add(0, F.try_parse_json(raw))
    s = _screen(plan, pv, raw, frozenset(), 0, "$", stage, 0)
    return stage.levels, {
        "pass": F.coalesce(s.cond, F.lit(False)),
        "pass_out": s.out,
        "emit": F.coalesce(s.femit, F.lit(False)),
        "viols": s.viols,
        "fail_out": s.fout,
    }


def select_levels(df: DataFrame, levels: list[dict[str, Column]]) -> DataFrame:
    """Evaluate :func:`compile_screens`' staged levels as chained
    projections, each level once per row."""
    for lvl in levels:
        if lvl:
            df = df.select("*", *[c.alias(n) for n, c in lvl.items()])
    return df
