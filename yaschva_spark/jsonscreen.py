"""JVM-side screens for the dynamic JSON path.

The dynamic path's exactness requirements (undefined vs null, unions,
closed-world objects) force interpreter evaluation — but not for every
ROW. This module compiles a yaschva schema fragment into SQL text over
Spark's VARIANT type — pure Python, no JVM access, so it compiles on
every call — whose expressions decide a row's outcome — pass
or fail, with the interpreter's exact violations and ``yv_output`` text —
whenever that is possible JVM-side, so decided rows never cross the Arrow
boundary (engine.validate_json_table sends them to the interpreter as NULL).

The screen does no schema dispatch of its own: it emits from
:func:`yaschva_spark.schema.lower`'s plan, which already applied the
reference's dispatch order, ``$types`` scoping, ``$type``/``$and``
resolution and the ``|| 0`` / ``|| MAX`` defaults. This module only maps
each of the plan's five node kinds to VARIANT SQL, and each leaf check
to a VARIANT SQL template plus its representability guard (``_CHECKS``);
literals go through typed.py's quoting helpers.

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
* regex checks screen only patterns that regexdialect.to_java_pattern
  translates to an exact-ECMA Java spelling;
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

The fail side. Violation paths are SQL text, as in typed.py (``$``, then
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
(``$string`` regexes only when translatable to Java), nested objects at
literal paths, ``$array``/``$map`` with leaf-output element/value schemas,
and ordered union prefixes thereof — with ``$type``, non-recursive ``$types``
and ``$and`` already resolved by the lowering. Reference semantics:
validate.ts:50-205 (leaves), validate.ts:106-193 (arrays/maps/objects),
validate.ts:91-104 (unions). Differential and emission-boundary tests:
tests/test_jsonscreen.py.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame

from yaschva_spark import errors as E
from yaschva_spark.regexdialect import to_java_pattern
from yaschva_spark.schema import Array, Leaf, Map, Object, SchemaError, Union, lower
from yaschva_spark.typed import (  # js_strlen: UTF-16 units
    EMPTY_VIOLS,
    TypedCompileError,
    js_strlen,
    sql_case,
    sql_ident,
    sql_in,
    sql_lit,
    sql_str,
)

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
_MAP_KEY_SAFE_RLIKE = sql_str("\\A[ !#-\\[\\]-~]*\\z")

_MAX_DEPTH = 64


class ScreenNotApplicable(Exception):
    """Schema shape outside the screenable fragment."""


@dataclass
class _Screen:
    """One node's compiled outcome; every field is SQL text."""

    #: sound provable-pass condition (NULL counts as false downstream)
    cond: str
    #: the interpreter's ``yv_output`` JSON text, valid whenever ``femit``
    out: str
    #: cond ⇔ interpreter-pass over the parseable-JSON domain (not merely ⇒)
    exact: bool
    #: ``out`` is the literal text ``null`` for every passing value
    null_out: bool
    #: the outcome, pass or fail, is exactly JVM-representable; None until
    #: :func:`_screen` defaults it to ``cond`` (only the pass outcome is)
    femit: str | None = None
    #: the interpreter's violation rows (empty on pass), valid whenever
    #: ``femit``; None until :func:`_screen` defaults it to empty
    viols: str | None = None
    #: fail-compiled leaves only: the offending value's JSON text. Unions,
    #: arrays and maps compose a fail side only over such leaves
    val: str | None = None


#: error strings that may be concat-spliced into JSON output text verbatim:
#: printable ASCII without `"` or `\` — exactly the strings whose
#: json.dumps rendering (either ensure_ascii mode) is the string itself
_ERR_SAFE = _re.compile(r"\A[ !#-\[\]-~]+\Z")


def _and(*conds: str) -> str:
    return f"({' AND '.join(conds)})"


def _or(*conds: str) -> str:
    return f"({' OR '.join(conds)})"


def _false_if_null(cond: str) -> str:
    return f"coalesce({cond}, false)"


def _row(path: str, rule: str, err: str, val: str) -> str:
    """One violation row."""
    return f"named_struct('path', {path}, 'rule', {rule}, 'error', {err}, 'value', {val})"


def _err_text(err: str, val: str) -> str:
    """The interpreter's ``{"error": ..., "value": ...}`` output text."""
    return f"""concat('{{"error":"', {err}, '","value":', {val}, '}}')"""


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
    (SPARK-36718), so each staged expression is paid once per row, in
    the one projection that computes it.

    Levels are ordered: a column at level i may reference only columns at
    levels < i. Lambda-scoped subtrees (array/map element screens) must
    NOT be staged — they reference the lambda variable."""

    def __init__(self) -> None:
        self.levels: list[dict[str, str]] = []
        self._n = 0

    def add(self, level: int, sql: str) -> str:
        """Stage ``sql`` at ``level``; returns the column reference."""
        while len(self.levels) <= level:
            self.levels.append({})
        name = f"__yv_s{level}_{self._n}"
        self._n += 1
        self.levels[level][name] = sql
        return sql_ident(name)


def _vtype(tv: str) -> str:
    return f"schema_of_variant({tv})"


def _present(tv: str) -> str:
    return f"({tv} IS NOT NULL AND NOT is_variant_null({tv}))"


def _get(tv: str, type_: str) -> str:
    return f"try_variant_get({tv}, '$', '{type_}')"


def _is_number_type(tv: str) -> str:
    t = _vtype(tv)
    return _or(f"{t} = 'BIGINT'", f"{t} = 'DOUBLE'", f"startswith({t}, 'DECIMAL')")


def _finite(v: str) -> str:
    inf, ninf = sql_lit(float("inf")), sql_lit(float("-inf"))
    return _and(f"{v} IS NOT NULL", f"NOT isnan({v})", f"{v} != {inf}", f"{v} != {ninf}")


def _exact_as_double(tv: str) -> str:
    """True when the value as a double compares identically to the
    interpreter's exact value: always for DOUBLE (both sides are the same
    double), else only within the 2^53 integer-exact window."""
    return _or(f"{_vtype(tv)} = 'DOUBLE'",
               f"abs({_get(tv, 'double')}) <= {sql_lit(float(E.MAX_SAFE_INTEGER))}")


def _render_value(tv: str) -> tuple[str, str]:
    """(txt, renderable): JSON text of the variant value rendered EXACTLY
    as the interpreter's ``json.dumps(value)`` — in BOTH ensure_ascii modes
    (violation rows use False, yv_output uses True), which is why strings
    are gated to printable ASCII without ``"``/``\\`` (their dumps rendering
    is identical in both modes and equals ``"<s>"`` verbatim). Exactly
    renderable: missing (the ``"__undefined__"`` token), JSON null,
    safe-ASCII strings, booleans, and BIGINT integers (i64-exact, and
    json.loads of an integer literal yields a Python int whose dumps is the
    same decimal text). DOUBLE/DECIMAL numbers (Python repr rendering),
    wilder strings, and composite values fall to the interpreter."""
    t, s = _vtype(tv), _get(tv, "string")
    missing = f"{tv} IS NULL"
    isnull = _and(f"{tv} IS NOT NULL", f"is_variant_null({tv})")
    txt = sql_case(
        (missing, """'"__undefined__"'"""),
        (isnull, "'null'"),
        (f"{t} = 'STRING'", f"""concat('"', {s}, '"')"""),
        (f"{t} = 'BOOLEAN'", sql_case((_get(tv, "boolean"), "'true'"), otherwise="'false'")),
        (f"{t} = 'BIGINT'", f"CAST({_get(tv, 'long')} AS STRING)"),
    )
    renderable = _or(
        missing,
        isnull,
        _and(f"{t} = 'STRING'", f"{s} RLIKE {_MAP_KEY_SAFE_RLIKE}"),
        f"{t} = 'BOOLEAN'",
        f"{t} = 'BIGINT'",
    )
    return txt, _false_if_null(renderable)


def _java_safe(pattern: str) -> str:
    try:
        return to_java_pattern(pattern)
    except ValueError as e:
        raise ScreenNotApplicable(f"regex {pattern!r}: {e}") from None


def _len_bounds(n: str, node: Array | Map) -> str:
    return _and(f"{n} >= {sql_lit(node.min_len)}", f"{n} <= {sql_lit(node.max_len)}")


#: leaf check -> ((tv, arg) -> ok, representability guard). ``ok`` ANDs
#: into the pass condition; ``NOT ok`` fires the check's error in the
#: first-error chain. A guard is ANDed into the pass condition once, right
#: after the type check, and rows it rejects are undecided (interpreter):
#: a BIGINT/DECIMAL beyond 2^53 rounds when cast to double, while the
#: interpreter compares exact Python ints.
_CHECKS = {
    "undefined": (lambda tv, a: f"({tv} IS NULL)", None),
    "null": (lambda tv, a: _and(f"{tv} IS NOT NULL", f"is_variant_null({tv})"), None),
    "string": (lambda tv, a: _and(_present(tv), f"{_vtype(tv)} = 'STRING'"), None),
    "boolean": (lambda tv, a: _and(_present(tv), f"{_vtype(tv)} = 'BOOLEAN'"), None),
    "number": (lambda tv, a: _and(_present(tv), _is_number_type(tv), _finite(_get(tv, "double"))), None),
    # every failure mode is the same error (interp._v_integer), and the
    # 2^53 window compares exactly through double for any i64
    "integer": (
        lambda tv, a: _and(
            _present(tv), _is_number_type(tv), _finite(_get(tv, "double")),
            f"floor({_get(tv, 'double')}) = {_get(tv, 'double')}",
            f"abs({_get(tv, 'double')}) <= {sql_lit(float(E.MAX_SAFE_INTEGER))}",
        ),
        None,
    ),
    "enum": (lambda tv, a: sql_in(_get(tv, "string"), a), None),
    "min_length": (lambda tv, a: f"({js_strlen(_get(tv, 'string'))} >= {sql_lit(a)})", None),
    "max_length": (lambda tv, a: f"({js_strlen(_get(tv, 'string'))} <= {sql_lit(a)})", None),
    "regex": (
        lambda tv, a: f"({_get(tv, 'string')} RLIKE {sql_str(_java_safe(a))})", None
    ),
    "min": (lambda tv, a: f"({_get(tv, 'double')} >= {sql_lit(float(a))})", _exact_as_double),
    "max": (lambda tv, a: f"({_get(tv, 'double')} <= {sql_lit(float(a))})", _exact_as_double),
}


def _screen_leaf(node: Leaf, tv: str, path: str,
                 stage: _Stager | None, level: int) -> _Screen:
    """The leaf's first-error chain (validate.ts:50-205) over the variant:
    the pass condition is the AND of every check's ``ok``, exact unless a
    guard leaves rows undecided (``und``: the pass/fail decision or error
    choice is not exactly computable JVM-side).

    Fail side: the chain's ``NOT ok`` conditions, in order, pick the error
    (none true ⇔ pass); a row emits when it passes or when an error fires
    on an exactly renderable value, with one violation row at ``path``.
    Error strings outside the concat-safe alphabet (e.g. an $enum whose
    values need JSON escaping) disable the fail side, never corrupt it.

    With ``stage``, cond/err/rule/value/bad register as level+1 columns —
    every downstream consumer (femit, viols, out, the parent's dispatch
    map) then reads materialized columns instead of re-walking the
    variant (see :class:`_Stager`)."""
    if not node.checks:  # any
        return _Screen("true", "'null'", True, True)
    if node.checks[0][0] == "and":
        # the reference data-FAILS every value here (validate.ts:244-247's
        # combine throw path) — unprovable, not wrong
        raise ScreenNotApplicable("$and members not all objects")
    (check, arg, error), rest = node.checks[0], node.checks[1:]
    cond = _CHECKS[check][0](tv, arg)
    chain = [(f"NOT {cond}", error)]
    und = None
    guard = next((_CHECKS[c][1] for c, _, _ in rest if _CHECKS[c][1]), None)
    if guard is not None:
        # outside the guard neither the comparison nor the error choice is
        # trustworthy, so such rows are undecided
        und = _and(cond, f"NOT {guard(tv)}")
        cond = _and(cond, guard(tv))
    for check, arg, error in rest:
        ok = _CHECKS[check][0](tv, arg)
        cond = _and(cond, ok)
        chain.append((f"NOT {ok}", error))

    cond = _false_if_null(cond)
    if stage is not None:
        cond = stage.add(level + 1, cond)
    if not all(_ERR_SAFE.match(e) for _, e in chain):
        return _Screen(cond, "'null'", und is None, True)
    err = sql_case(*[(c, sql_str(e)) for c, e in chain])
    rule = sql_case(*[(c, sql_str(E.rule_id_for(e))) for c, e in chain])
    val, renderable = _render_value(tv)
    bad = _and(f"{err} IS NOT NULL", renderable)
    if und is not None:
        bad = _and(bad, f"NOT {_false_if_null(und)}")
    bad = _false_if_null(bad)
    if stage is not None:
        err, rule, val, bad = (stage.add(level + 1, c) for c in (err, rule, val, bad))
    return _Screen(
        cond,
        sql_case((cond, "'null'"), otherwise=_err_text(err, val)),
        und is None,
        True,
        femit=_or(cond, bad),
        viols=sql_case((bad, f"array({_row(path, rule, err, val)})"), otherwise=EMPTY_VIOLS),
        val=val,
    )


def _screen(
    node: Any,
    tv: str,
    txt: str | None,
    stack: frozenset,
    depth: int,
    path: str,
    stage: _Stager | None = None,
    level: int = 0,
) -> _Screen:
    """Compile plan ``node`` over value variant ``tv`` (SQL NULL = missing /
    JS undefined); a node without a fail side emits only its pass outcome
    (femit=cond, empty viols). ``txt`` is the node's original JSON text
    when it sits at a literal path from the root (needed for data-order
    keys), else None. ``path`` is the node's violation path. ``stack``
    holds the composite nodes being compiled: meeting one again is a
    recursive custom type. ``stage`` is None inside array/map lambdas,
    whose variables are named by ``depth``, so nested lambdas never
    shadow each other."""
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
        s.femit = _false_if_null(s.cond)
    if s.viols is None:
        s.viols = EMPTY_VIOLS
    return s


def _screen_union(
    node: Union, tv: str, txt: str | None, stack: frozenset, depth: int,
    path: str, stage: _Stager | None, level: int,
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
    cond = _or(*[r.cond for r in chain])
    out = sql_case(*[(r.cond, r.out) for r in chain])
    exact = len(chain) == len(node.branches) and all(r.exact for r in chain)
    null_out = all(r.null_out for r in chain)
    if not exact or any(r.val is None for r in chain):
        return _Screen(cond, out, exact, null_out)
    # every branch is a leaf whose conds are non-NULL: on ~cond rows each
    # branch's femit is its "fails renderably", its out its error object
    # and its viols its one error row; val renders the same tv for all
    ufail = _and(f"NOT {cond}", *[r.femit for r in chain])
    err = sql_str(E.UNION_MISMATCH)
    val = chain[0].val
    mismatch = f"array({_row(path, sql_str(E.rule_id_for(E.UNION_MISMATCH)), err, val)})"
    fail_out = (f"""concat('{{"error":"', {err}, '","value":', {val}, ',"output":[', """
                f"""concat_ws(',', {', '.join(r.out for r in chain)}), ']}}')""")
    return _Screen(
        cond, sql_case((cond, out), otherwise=fail_out), exact, null_out,
        femit=_or(cond, ufail),
        viols=sql_case(
            (ufail, f"concat({mismatch}, {', '.join(r.viols for r in chain)})"),
            otherwise=EMPTY_VIOLS,
        ),
    )


def _screen_array(node: Array, tv: str, stack: frozenset, depth: int, path: str) -> _Screen:
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
    interpreter.

    The element screen compiles once over the lambda variables ``x``
    (element) and ``i`` (index); only its violation paths read ``i``."""
    arr = _get(tv, "array<variant>")
    x, i = f"__yv_x{depth}", f"__yv_i{depth}"
    r = _screen(node.elem, x, None, stack, depth + 1,
                f"concat({path}, '[', CAST({i} AS STRING), ']')")
    if not r.null_out:  # elements need literally-null pass output
        raise ScreenNotApplicable("array element output is not null (needs per-element text)")
    struct_base = _and(f"{tv} IS NOT NULL", f"startswith({_vtype(tv)}, 'ARRAY')")
    len_ok = _len_bounds(f"size({arr})", node)
    cond = _and(struct_base, len_ok, f"forall({arr}, {x} -> {r.cond})")
    out = f"concat('[', array_join(transform({arr}, {x} -> 'null'), ','), ']')"
    # element screens are elementwise ⇔, and only real JSON arrays have
    # ARRAY type — matching the reference's isArray gate exactly
    len_err = E.arr_length(node.min_len, node.max_len)
    if r.val is None or not r.exact or not _ERR_SAFE.match(len_err):
        return _Screen(cond, out, exact=r.exact, null_out=False)
    cond_f = _false_if_null(cond)
    len_fail = _false_if_null(_and(struct_base, f"NOT {len_ok}"))
    size_txt = f"CAST(size({arr}) AS STRING)"
    all_decided = f"forall({arr}, {x} -> {r.femit})"
    elem_outs = f"transform({arr}, {x} -> {r.out})"
    len_row = _row(path, sql_str(E.rule_id_for(len_err)), sql_str(len_err), size_txt)
    return _Screen(
        cond,
        sql_case(
            (cond_f, out),
            (len_fail, _err_text(sql_str(len_err), size_txt)),
            otherwise=f"concat('[', array_join({elem_outs}, ','), ']')",
        ),
        exact=r.exact,
        null_out=False,
        femit=_or(cond_f, len_fail, _false_if_null(_and(struct_base, len_ok, all_decided))),
        viols=sql_case(
            (cond_f, EMPTY_VIOLS),
            (len_fail, f"array({len_row})"),
            otherwise=f"flatten(transform({arr}, ({x}, {i}) -> {r.viols}))",
        ),
    )


def _screen_map(
    node: Map, tv: str, txt: str | None, stack: frozenset, depth: int, path: str,
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
    value — interpreter.

    The value screen compiles over the lambda variable ``v`` for the
    per-row checks over ``map_values``, and over ``element_at(map, k)``
    for the data-key-order output and violations."""
    if txt is None:
        raise ScreenNotApplicable("$map not at a literal path (needs text)")
    mp = _get(tv, "map<string,variant>")
    keys = f"map_keys({mp})"  # sorted by the cast — fine for order-free checks
    v, k = f"__yv_v{depth}", f"__yv_k{depth}"
    r = _screen(node.value, v, None, stack, depth + 1, path)
    if not r.null_out:
        raise ScreenNotApplicable("map value output is not null (needs per-element text)")
    struct_ok = [
        f"{tv} IS NOT NULL",
        f"startswith({_vtype(tv)}, 'OBJECT')",
        _len_bounds(f"size({mp})", node),
        # keys must render into output text verbatim (json.dumps identity)
        f"forall({keys}, {k} -> {k} RLIKE {_MAP_KEY_SAFE_RLIKE})",
    ]
    if node.regex is not None:
        struct_ok.append(f"forall({keys}, {k} -> {k} RLIKE {sql_str(_java_safe(node.regex))})")
    struct_ok = _and(*struct_ok)
    cond = _and(struct_ok, f"forall(map_values({mp}), {v} -> {r.cond})")
    data_keys = f"array_distinct(json_object_keys({txt}))"

    def body(value_out: str) -> str:
        pair = f"""concat('"', {k}, '":', {value_out})"""
        return f"concat('{{', array_join(transform({data_keys}, {k} -> {pair}), ','), '}}')"

    out = body("'null'")
    if r.val is None or not r.exact:
        return _Screen(cond, out, exact=False, null_out=False)
    rk = _screen(node.value, f"element_at({mp}, {k})", None, stack, depth + 1,
                 f"concat({path}, '.', {k})")
    cond_f = _false_if_null(cond)
    all_decided = f"forall(map_values({mp}), {v} -> {r.femit})"
    return _Screen(
        cond,
        sql_case((cond_f, out), otherwise=body(rk.out)),
        exact=False,
        null_out=False,
        femit=_or(cond_f, _false_if_null(_and(struct_ok, all_decided))),
        viols=sql_case(
            (cond_f, EMPTY_VIOLS),
            otherwise=f"flatten(transform({data_keys}, {k} -> {rk.viols}))",
        ),
    )


def _screen_object(
    node: Object, tv: str, txt: str | None, stack: frozenset, depth: int,
    path: str, stage: _Stager, level: int,
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
    out_pairs: list[str] = []
    viol_pairs: list[str] = []
    for data_key, sub in node.fields:
        if not _SAFE_KEY.match(data_key):
            raise ScreenNotApplicable(f"key {data_key!r} not screen-safe")
        field_keys.append(data_key)
        # materialize the sub-variant/sub-text ONCE: every leaf op of every
        # chain below otherwise re-extracts it from the parent (and for the
        # root, re-parses the JSON text)
        json_path = sql_str(f"$.{data_key}")
        tv_k = stage.add(level + 1, f"try_variant_get({tv}, {json_path}, 'variant')")
        txt_k = stage.add(level + 1, f"get_json_object({txt}, {json_path})")
        sub_path = f"concat({path}, {sql_str('.' + data_key)})"
        r = _screen(sub, tv_k, txt_k, stack, depth + 1, sub_path, stage, level + 1)
        subs.append(r)
        out_pairs.extend([sql_str(data_key), r.out])
        viol_pairs.extend([sql_str(data_key), r.viols])

    # references txt (level <= this node's level): stage with the field
    # extractions
    data_keys = stage.add(level + 1, f"array_distinct(json_object_keys({txt}))")
    if field_keys:
        declared = f"array({', '.join(sql_str(k) for k in field_keys)})"
    else:
        declared = "CAST(array() AS array<string>)"
    keyset_ok = f"size(array_except({data_keys}, {declared})) = 0"
    struct_ok = stage.add(
        level + 2,
        _false_if_null(_and(f"{tv} IS NOT NULL", f"startswith({_vtype(tv)}, 'OBJECT')", keyset_ok)),
    )
    cond = _and(struct_ok, *[r.cond for r in subs])
    femit = _and(struct_ok, *[r.femit for r in subs])
    if not field_keys:
        return _Screen(cond, "'{}'", exact=False, null_out=False)
    all_keys = stage.add(level + 2, f"concat({data_keys}, array_except({declared}, {data_keys}))")
    # assembly stays unstaged: it is concat/dispatch over already-staged
    # leaf and key columns, cheap per reference
    k = f"__yv_k{depth}"
    field_out = f"""concat('"', {k}, '":', element_at(map({', '.join(out_pairs)}), {k}))"""
    vmap = f"map({', '.join(viol_pairs)})"
    return _Screen(
        cond,
        f"concat('{{', array_join(transform({all_keys}, {k} -> {field_out}), ','), '}}')",
        exact=False,
        null_out=False,
        femit=femit,
        viols=f"flatten(transform({all_keys}, {k} -> coalesce(element_at({vmap}, {k}), {EMPTY_VIOLS})))",
    )


def compile_screens(schema: Any, json_col: str):
    """One compilation, staged, to SQL text over the JSON-text column
    ``json_col``. Returns ``(levels, outputs)``: ``levels`` is an ordered
    list of ``{column_name: sql}`` dicts of shared subexpressions (see
    :class:`_Stager`) that the caller must select in order
    (:func:`select_levels`) before evaluating ``outputs``, whose
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
    for schemas that do not lower. Pure text: no JVM is touched."""
    try:
        plan = lower(schema)
        raw = sql_ident(json_col)
    except (SchemaError, TypedCompileError) as ex:
        raise ScreenNotApplicable(str(ex)) from ex
    stage = _Stager()
    pv = stage.add(0, f"try_parse_json({raw})")
    s = _screen(plan, pv, raw, frozenset(), 0, "'$'", stage, 0)
    return stage.levels, {
        "pass": _false_if_null(s.cond),
        "emit": _false_if_null(s.femit),
        "viols": s.viols,
        "out": s.out,
    }


def select_levels(df: DataFrame, levels: list[dict[str, str]]) -> DataFrame:
    """Evaluate :func:`compile_screens`' staged levels as chained
    projections (one ``selectExpr`` each), each level once per row."""
    for lvl in levels:
        if lvl:
            df = df.selectExpr("*", *[f"{sql} AS {sql_ident(name)}" for name, sql in lvl.items()])
    return df
