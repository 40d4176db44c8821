"""The typed fast path: yaschva schema -> one Catalyst SQL expression.

``compile_schema`` turns a schema into the SQL text of a single
``violations`` expression (``array<struct<path,rule,error,value>>``) that the
engine wraps in one ``F.expr``; it is evaluated entirely JVM-side under
whole-stage codegen — no Python in the hot path, and building it makes no
py4j call. ``schema_to_spark_type`` is the analog of the reference's
``validationToType`` emitter (/root/reference/src/type.ts:33-92), emitting a
Spark ``StructType`` with the same erasures (size/regex constraints live in
expressions, not types).

Both emit from :func:`yaschva_spark.schema.lower`'s plan, which holds the
reference's dispatch order and first-error chains; this module maps each
leaf check to a dtype-directed SQL template (``_CHECKS``). The quoting
helpers (``sql_ident``, ``sql_str``, ``sql_lit``) and the shared templates
(``EMPTY_VIOLS``, ``sql_case``, ``sql_in``, ``js_strlen``) serve
:mod:`yaschva_spark.jsonscreen` too.
Semantics follow the reference validator node-for-node (citations inline).
One documented deviation (SURVEY.md §7.4): a plain Spark column cannot
distinguish JS ``undefined`` from ``null`` — the typed path treats SQL NULL
as *both* (NULL passes ``'?'`` and ``'null'``; a missing struct field is
undefined). Schemas whose semantics depend on that distinction, on
multi-type unions over one column, or on unbounded recursion must run on the
dynamic path (:func:`yaschva_spark.engine.validate_json_table`), which is
exact. :class:`TypedCompileError` signals "fall back".

Scale notes: everything here is expression-only — scans stay columnar,
filters and the column pruning implied by the schema push into the Parquet
reader, and the per-row work is branch-predictable CASE WHEN chains. The
violation array for a passing row is built lazily (CASE branches), so the
happy path does not pay for error materialization — unlike the reference,
which always builds the full mirrored output tree (README.md:180-195).
Text spells each subtree once: a union binds its branch arrays to one
lambda variable, so the text stays linear in the unrolled schema.
"""

from __future__ import annotations

import math
import re
from typing import Any

from pyspark.sql import types as T

from yaschva_spark import errors as E
from yaschva_spark.regexdialect import to_java_pattern
from yaschva_spark.schema import Array, Leaf, Map, Object, SchemaError, Union, lower

VIOLATION_DDL = "array<struct<path:string,rule:string,error:string,value:string>>"
EMPTY_VIOLS = f"CAST(array() AS {VIOLATION_DDL})"

#: rendering of a JS-undefined offending value (matches
#: interp.value_to_json_text(UNDEFINED))
_UNDEF_JSON = '"__undefined__"'

#: custom-type recursion budget: names followed plus nesting levels
_MAX_UNROLL = 32

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
_FRACTIONAL_TYPES = (T.FloatType, T.DoubleType)


class TypedCompileError(Exception):
    """Schema not expressible on the typed path — caller should fall back to
    the dynamic (interpreter) path."""


# --- SQL text ----------------------------------------------------------------
def sql_ident(name: str) -> str:
    """An identifier taken literally: backticked, each backtick doubled (a
    bare ``a.b`` would parse the dot as struct-field access). No spelling
    escapes the parser's ``${...}`` substitution, so such names raise."""
    if "${" in name:
        raise TypedCompileError(f"identifier {name!r} holds a ${{...}} substitution")
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """A string literal that parses to ``s`` whatever
    ``spark.sql.parser.escapedStringLiterals`` says: quote and backslash
    are spelled ``chr(39)`` / ``chr(92)``, every other character stands
    verbatim between single quotes. (A raw ``r'…'`` literal is no way out:
    with that option on, Spark keeps its opening quote in the value.) ``$``
    before ``{`` is ``chr(36)``: the parser substitutes ``${...}`` first."""
    parts = [f"chr({ord(p)})" if i % 2 else f"'{p}'"
             for i, p in enumerate(re.split(r"(['\\]|\$(?=\{))", s)) if p]
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})" if parts else "''"


def sql_lit(v: Any) -> str:
    """A literal with the type ``F.lit`` gives ``v``: an int is INT within
    32 bits, else BIGINT; a float is a DOUBLE (bare ``1.5`` would be a
    DECIMAL in SQL)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and not math.isfinite(v):
        name = "NaN" if math.isnan(v) else ("-Infinity" if v < 0 else "Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    if isinstance(v, float):
        text = f"{v!r}D"
    elif isinstance(v, int):
        text = str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    else:
        return sql_str(v)
    return f"({text})" if text.startswith("-") else text


def sql_case(*whens: tuple[str, str], otherwise: str | None = None) -> str:
    """``CASE WHEN c THEN v ... [ELSE otherwise] END``, spelled as the
    simple ``CASE true WHEN c ...``: Spark's parser looks ahead to the
    ``END`` of every searched CASE the first time it meets one, so nested
    searched CASEs cost text size times depth to parse in a fresh JVM
    (7.2 s vs 0.29 s for a 134 KB recursive schema, 4-core host). The
    optimizer folds ``true = c`` back to ``c``."""
    body = " ".join(f"WHEN {c} THEN {v}" for c, v in whens)
    return f"CASE true {body} END" if otherwise is None else f"CASE true {body} ELSE {otherwise} END"


def sql_in(expr: str, members: list) -> str:
    """``$enum`` membership: a string equals only string members (the strict
    equality of JS ``indexOf``), so no string member never matches."""
    strings = [sql_str(m) for m in members if isinstance(m, str)]
    return f"({expr} IN ({', '.join(strings)}))" if strings else "false"


def js_strlen(expr: str) -> str:
    """JS ``.length`` counts UTF-16 code units; Spark's ``length`` counts
    code points — add one per astral character (reference strings index in
    UTF-16, validate.ts string rules). Guarded by an ASCII fast path:
    ``octet_length == length`` proves the string has no multi-byte (hence
    no astral) characters, so the per-row regex scan runs only on strings
    that actually contain non-ASCII — for code corpora that is ~never."""
    n = f"length({expr})"
    astral = sql_str("[\\x{10000}-\\x{10FFFF}]")
    return sql_case((f"octet_length({expr}) = {n}", n), otherwise=f"{n} + regexp_count({expr}, {astral})")


def _json_value(expr: str) -> str:
    """Render any column value as its JSON literal (strings quoted+escaped,
    numbers bare, complex types as JSON). NULL renders as ``null``."""
    wrapped = f"to_json(array({expr}))"
    return f"substring({wrapped}, 2, length({wrapped}) - 2)"


def _viol(path: str, rule: str, error: str, value: str) -> str:
    return (f"array(named_struct('path', {path}, 'rule', {sql_str(rule)}, "
            f"'error', {sql_str(error)}, 'value', {value}))")


def _concat(arrays: list[str]) -> str:
    if not arrays:
        return EMPTY_VIOLS
    if len(arrays) == 1:
        return arrays[0]
    return f"concat({', '.join(arrays)})"


def _require_java_safe(pattern: str) -> str:
    """Dialect guard (SURVEY §7.4): ``rlike`` evaluates patterns under
    Java regex semantics, but the reference compiles them as ECMAScript
    ``new RegExp(p, 'u')`` (the reference's validate.ts:81). Returns
    regexdialect.to_java_pattern's exact-ECMA Java spelling (``rlike`` is
    an unanchored search, same as ECMAScript ``.test``); a pattern it
    cannot translate raises TypedCompileError, which makes validate_auto
    route the schema to the reference-faithful interpreter path."""
    try:
        return to_java_pattern(pattern)
    except ValueError as e:
        raise TypedCompileError(f"regex {pattern!r}: {e}; dynamic path required") from None


def _not_number(expr: str, dtype, _arg) -> str:
    if isinstance(dtype, _FRACTIONAL_TYPES):
        return f"({expr} IS NULL OR isnan({expr}))"
    return f"({expr} IS NULL)"


def _not_integer(expr: str, dtype, _arg) -> str:
    conds = [f"{expr} IS NULL"]
    if isinstance(dtype, _FRACTIONAL_TYPES):
        conds += [f"isnan({expr})", f"{expr} != floor({expr})"]
    elif isinstance(dtype, T.DecimalType) and dtype.scale > 0:
        # a decimal with nonzero scale can hold 1.50: integrality must
        # be checked (no NaN branch — decimals cannot be NaN)
        conds.append(f"{expr} != floor({expr})")
    # JS safe-integer bound applies to longs/decimals too (SURVEY §7.4)
    if not isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        conds.append(f"abs({expr}) > {sql_lit(E.MAX_SAFE_INTEGER)}")
    return f"({' OR '.join(conds)})"


#: leaf check -> (column types it accepts, failure predicate template). A
#: type check on any other type (or a statically undefined value) fails
#: outright; constraint checks follow a type check, so accept whatever it
#: accepted.
_CHECKS = {
    "string": (T.StringType, lambda e, dt, a: f"({e} IS NULL)"),
    "boolean": (T.BooleanType, lambda e, dt, a: f"({e} IS NULL)"),
    "number": (_NUMERIC_TYPES, _not_number),
    "integer": (_NUMERIC_TYPES, _not_integer),
    "enum": (None, lambda e, dt, a: f"NOT {sql_in(e, a)}"),
    "min_length": (None, lambda e, dt, a: f"({js_strlen(e)} < {sql_lit(a)})"),
    "max_length": (None, lambda e, dt, a: f"({js_strlen(e)} > {sql_lit(a)})"),
    "regex": (None, lambda e, dt, a: f"NOT ({e} RLIKE {sql_str(_require_java_safe(a))})"),
    "min": (None, lambda e, dt, a: f"({e} < {sql_lit(a)})"),
    "max": (None, lambda e, dt, a: f"({e} > {sql_lit(a)})"),
}


class _Compiler:
    """Plan -> SQL text emitter, dtype-directed.

    ``expr is None`` means the value is statically *undefined* (a field the
    data's type does not carry) — composite validators then emit their
    "wrong shape" error without recursing, exactly like the reference
    validating ``undefined`` (validate.ts:130-132,163-165). Lambda variables
    are named by ``depth``, which grows strictly into nested lambdas, so an
    inner ``transform`` never shadows an outer index its paths still use.
    """

    def _const(self, path: str, error: str, expr: str | None) -> str:
        value = sql_str(_UNDEF_JSON) if expr is None else _json_value(expr)
        return _viol(path, E.rule_id_for(error), error, value)

    def compile(self, node, expr: str | None, dtype: T.DataType | None,
                path: str, depth: int = 0) -> str:
        if depth > _MAX_UNROLL:
            raise TypedCompileError(
                f"custom-type recursion exceeds unroll budget ({_MAX_UNROLL})"
            )
        if isinstance(node, Leaf):
            return self._leaf(node, expr, dtype, path)
        if isinstance(node, Union):
            return self._union(node, expr, dtype, path, depth)
        if isinstance(node, Array):
            return self._array(node, expr, dtype, path, depth)
        if isinstance(node, Map):
            return self._map(node, expr, dtype, path, depth)
        return self._object(node, expr, dtype, path, depth)

    def _leaf(self, node: Leaf, expr, dtype, path: str) -> str:
        """First-error chain (validate.ts:50-89,194-205) as one CASE WHEN."""
        if not node.checks:  # any
            return EMPTY_VIOLS
        (check, arg, error), rest = node.checks[0], node.checks[1:]
        if check == "and":  # data-level failure for every row
            return self._const(path, error, None)
        bad = self._const(path, error, expr)
        if check in ("undefined", "null"):
            # SQL NULL is both undefined and null (module docstring)
            if expr is None:
                return EMPTY_VIOLS if check == "undefined" else bad
            return sql_case((f"{expr} IS NULL", EMPTY_VIOLS), otherwise=bad)
        accepts, fails = _CHECKS[check]
        if expr is None or not isinstance(dtype, accepts):
            return bad
        chain = [(fails(expr, dtype, arg), bad)]
        for check, arg, error in rest:
            chain.append((_CHECKS[check][1](expr, dtype, arg), self._const(path, error, expr)))
        return sql_case(*chain, otherwise=EMPTY_VIOLS)

    # -- composite types --------------------------------------------------------
    def _union(self, node: Union, expr, dtype, path, depth) -> str:
        """validateOneOf (validate.ts:91-104): the union passes if any
        branch has no violations; on total failure the union error plus
        every branch's violations, in branch order. The branch arrays are
        bound once, as a lambda variable over a one-element array, so each
        branch's text appears once: a recursive ``$types`` stays linear in
        its unroll depth."""
        compiled = [self.compile(b, expr, dtype, path, depth + b.hops) for b in node.branches]
        u, b = f"__yv_u{depth}", f"__yv_b{depth}"
        union_err = self._const(path, E.UNION_MISMATCH, expr)
        pick = sql_case((f"exists({u}, {b} -> size({b}) = 0)", EMPTY_VIOLS),
                        otherwise=f"concat({union_err}, flatten({u}))")
        return f"flatten(transform(array(array({', '.join(compiled)})), {u} -> {pick}))"

    def _sized(self, node: Array | Map, expr, path, error: str, rest: str) -> str:
        """NULL fails with ``error``; a size outside the bounds fails with the
        size itself as the offending value (validate.ts:111-115,173-177);
        else ``rest``."""
        chain = [(f"{expr} IS NULL", self._const(path, error, expr))]
        lo, hi = node.min_len, node.max_len
        if lo > 0 or hi < E.MAX_SAFE_INTEGER:
            size_err = E.arr_length(lo, hi) if isinstance(node, Array) else E.map_size(lo, hi)
            size = f"size({expr})"
            chain.append((
                f"NOT ({size} >= {sql_lit(lo)} AND {size} <= {sql_lit(hi)})",
                _viol(path, E.rule_id_for(size_err), size_err, f"CAST({size} AS STRING)"),
            ))
        return sql_case(*chain, otherwise=rest)

    def _array(self, node: Array, expr, dtype, path, depth) -> str:
        if expr is None or not isinstance(dtype, T.ArrayType):
            return self._const(path, E.NOT_ARRAY, expr)
        x, i = f"__yv_x{depth}", f"__yv_i{depth}"
        elem = self.compile(
            node.elem, x, dtype.elementType,
            f"concat({path}, '[', CAST({i} AS STRING), ']')",
            depth + 1 + node.elem.hops,
        )
        # the length check precedes element recursion
        return self._sized(node, expr, path, E.NOT_ARRAY,
                           f"flatten(transform({expr}, ({x}, {i}) -> {elem}))")

    def _map(self, node: Map, expr, dtype, path, depth) -> str:
        if expr is None or not isinstance(dtype, T.MapType):
            return self._const(path, E.NOT_OBJECT, expr)
        if not isinstance(dtype.keyType, T.StringType):
            raise TypedCompileError("$map requires map<string, _> column")
        e = f"__yv_e{depth}"
        key = f"{e}.key"
        key_path = f"concat({path}, '.', {key})"
        entry = self.compile(node.value, f"{e}.value", dtype.valueType, key_path,
                             depth + 1 + node.value.hops)
        if node.regex is not None:
            # failing keys report the whole map and skip value validation
            # (validate.ts:179-185)
            pattern = sql_str(_require_java_safe(node.regex))
            key_viol = _viol(key_path, "regex_mismatch", E.REGEX_MISMATCH, f"to_json({expr})")
            entry = sql_case((f"NOT ({key} RLIKE {pattern})", key_viol), otherwise=entry)
        entries = f"flatten(transform(map_entries({expr}), {e} -> {entry}))"
        return self._sized(node, expr, path, E.NOT_OBJECT, entries)

    def _object(self, node: Object, expr, dtype, path, depth) -> str:
        if expr is None or not isinstance(dtype, T.StructType):
            return self._const(path, E.NOT_OBJECT, expr)
        children = self._object_children(node, expr, dtype, path, depth)
        return sql_case((f"{expr} IS NULL", self._const(path, E.NOT_OBJECT, expr)),
                        otherwise=_concat(children))

    def _object_children(self, node: Object, expr, dtype: T.StructType, path, depth,
                         ignore: tuple[str, ...] = ()) -> list[str]:
        """Closed-world record checks (validateObject, validate.ts:128-159):
        declared fields validate (missing ones against undefined); struct
        fields not declared are extra-key violations (known at compile
        time). ``expr is None`` is the row itself: fields are top-level
        columns."""
        def field(name: str) -> str:
            return sql_ident(name) if expr is None else f"{expr}.{sql_ident(name)}"

        children: list[str] = []
        field_types = {f.name: f.dataType for f in dtype.fields}
        declared = set()
        for data_key, sub in node.fields:
            declared.add(data_key)
            sub_path = f"concat({path}, {sql_str('.' + data_key)})"
            sub_depth = depth + 1 + sub.hops
            if data_key in field_types:
                children.append(
                    self.compile(sub, field(data_key), field_types[data_key], sub_path, sub_depth)
                )
            else:
                children.append(self.compile(sub, None, None, sub_path, sub_depth))
        for name in field_types:
            if name not in declared and name not in ignore:
                children.append(
                    _viol(f"concat({path}, {sql_str('.' + name)})", "extra_key", E.EXTRA_KEY,
                          _json_value(field(name)))
                )
        return children


def _root_object(schema: Any) -> Object:
    root = lower(schema)
    if not isinstance(root, Object):
        if isinstance(root, Leaf) and root.checks[:1] == (("and", None, E.AND_SCHEMA_ERR),):
            raise SchemaError(E.AND_SCHEMA_ERR)
        raise TypedCompileError(
            "root schema must resolve to a plain object for table validation"
        )
    return root


def compile_schema(
    schema: Any,
    df_schema: T.StructType,
    *,
    ignore_columns: tuple[str, ...] = (),
) -> str:
    """Compile a root object schema against a DataFrame schema into the SQL
    text of one ``violations`` expression. The row itself is the object
    under validation (always present, so the root never raises "not an
    Object").

    ``ignore_columns`` exempts engine/bookkeeping columns from the
    closed-world extra-key rule. Raises :class:`SchemaError` for malformed
    schemas (the reference throws).
    """
    return _concat(_Compiler()._object_children(
        _root_object(schema), None, df_schema, sql_str("$"), 0, ignore=tuple(ignore_columns)
    ))


# --- schema -> Spark type (validationToType analog, type.ts:33-92) -----------
def schema_to_spark_type(schema: Any, max_depth: int = 16) -> T.StructType:
    """Emit the Spark ``StructType`` for a schema's typed representation.

    Same erasures as the reference emitter: length/regex/range constraints
    vanish (README.md:169), ``integer`` -> LongType, ``number`` -> DoubleType.
    Optionality (a union with ``'?'``/``'null'``) becomes nullability.
    Schemas needing a dynamic representation (multi-type unions, ``any``)
    raise :class:`TypedCompileError`.
    """
    return _struct_for(_root_object(schema), 0, max_depth)


#: leaf type check -> (Spark type, nullable); constraints are erased
_LEAF_TYPES = {
    "string": (T.StringType(), False),
    "number": (T.DoubleType(), False),
    "integer": (T.LongType(), False),
    "boolean": (T.BooleanType(), False),
    "undefined": (T.NullType(), True),
    "null": (T.NullType(), True),
}


#: union branches that only make the union nullable
_OPTIONAL = (lower("?").checks, lower("null").checks)


def _struct_for(node: Object, depth: int, max_depth: int) -> T.StructType:
    fields = []
    for name, sub in node.fields:
        dt, nullable = _type_for(sub, depth + 1 + sub.hops, max_depth)
        fields.append(T.StructField(name, dt, nullable))
    return T.StructType(fields)


def _type_for(node, depth: int, max_depth: int) -> tuple[T.DataType, bool]:
    if depth > max_depth:
        raise TypedCompileError("recursive custom type exceeds typed-path depth")
    if isinstance(node, Leaf):
        if not node.checks:
            raise TypedCompileError("'any' requires the dynamic representation")
        check, _arg, error = node.checks[0]
        if check == "and":
            raise SchemaError(error)
        return _LEAF_TYPES[check]
    if isinstance(node, Union):
        concrete = [b for b in node.branches
                    if not (isinstance(b, Leaf) and b.checks[:1] in _OPTIONAL)]
        if len(concrete) == 1:
            dt, _ = _type_for(concrete[0], depth + concrete[0].hops, max_depth)
            return dt, len(concrete) < len(node.branches)
        raise TypedCompileError("multi-type unions require the dynamic representation")
    if isinstance(node, Array):
        dt, elem_nullable = _type_for(node.elem, depth + 1 + node.elem.hops, max_depth)
        return T.ArrayType(dt, containsNull=elem_nullable), False
    if isinstance(node, Map):
        dt, val_nullable = _type_for(node.value, depth + 1 + node.value.hops, max_depth)
        return T.MapType(T.StringType(), dt, valueContainsNull=val_nullable), False
    return _struct_for(node, depth, max_depth), False
