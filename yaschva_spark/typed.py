"""The typed fast path: yaschva schema -> Catalyst expressions.

``compile_schema`` turns a schema into a single ``violations`` Column
(``array<struct<path,rule,error,value>>``) evaluated entirely JVM-side under
whole-stage codegen — no Python in the hot path. One expression tree is built
once on the driver; executors evaluate it vectorized (SURVEY.md §3.1 engine
equivalent). ``schema_to_spark_type`` is the analog of the reference's
``validationToType`` emitter (/root/reference/src/type.ts:33-92), emitting a
Spark ``StructType`` with the same erasures (size/regex constraints live in
expressions, not types).

Both emit from :func:`yaschva_spark.schema.lower`'s plan, which holds the
reference's dispatch order and first-error chains; this module maps each
leaf check to a dtype-directed Column predicate (``_CHECKS``).
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
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yaschva_spark import errors as E
from yaschva_spark.regexdialect import to_java_pattern, typed_unsafe
from yaschva_spark.schema import Array, Leaf, Map, Object, SchemaError, Union, lower

VIOLATION_DDL = "array<struct<path:string,rule:string,error:string,value:string>>"

#: rendering of a JS-undefined offending value (matches
#: interp.value_to_json_text(UNDEFINED))
_UNDEF_JSON = '"__undefined__"'

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
    the dynamic (mapInPandas interpreter) path."""


def js_strlen(expr: Column) -> Column:
    """JS ``.length`` counts UTF-16 code units; Spark's ``length`` counts
    code points — add one per astral character (reference strings index in
    UTF-16, validate.ts string rules). Guarded by an ASCII fast path:
    ``octet_length == length`` proves the string has no multi-byte (hence
    no astral) characters, so the per-row regex scan runs only on strings
    that actually contain non-ASCII — for code corpora that is ~never."""
    n = F.length(expr)
    return F.when(F.octet_length(expr) == n, n).otherwise(
        n + F.regexp_count(expr, F.lit("[\\x{10000}-\\x{10FFFF}]"))
    )


def _root_col(name: str) -> Column:
    """Top-level column reference by LITERAL name: a bare ``F.col('a.b')``
    parses the dot as struct-field access — backtick-quote so a column
    literally named ``a.b`` resolves (nested levels use getField and are
    unaffected)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _empty() -> Column:
    return F.expr(f"CAST(array() AS {VIOLATION_DDL})")


def _json_value(expr: Column) -> Column:
    """Render any column value as its JSON literal (strings quoted+escaped,
    numbers bare, complex types as JSON). NULL renders as ``null``."""
    wrapped = F.to_json(F.array(expr))
    return F.substring(wrapped, F.lit(2), F.length(wrapped) - F.lit(2))


def _viol(path: Column, rule: str, error: str, value: Column) -> Column:
    return F.array(
        F.struct(
            path.alias("path"),
            F.lit(rule).alias("rule"),
            F.lit(error).alias("error"),
            value.alias("value"),
        )
    )


def _concat(arrays: list[Column]) -> Column:
    if not arrays:
        return _empty()
    if len(arrays) == 1:
        return arrays[0]
    return F.concat(*arrays)


def _require_java_safe(pattern: str) -> str:
    """Dialect guard (SURVEY §7.4): ``rlike`` evaluates patterns under
    Java regex semantics, but the reference compiles them as ECMAScript
    ``new RegExp(p, 'u')`` (the reference's validate.ts:81).
    Most divergent constructs are TRANSLATED to exact-ECMA Java
    spellings by regexdialect.to_java_pattern ($-anchor, dot/NEL,
    class operators, ``\\u{...}``, ``\\s``, ``[]``/``[^]``); the
    untranslatable residue (long/script Unicode properties, in-class
    ``\\S``/``\\W``) must not silently compile — raising
    TypedCompileError makes validate_auto route the schema to the
    reference-faithful interpreter path instead. Returns the Java
    spelling (rlike is an unanchored search, same as ECMAScript .test)."""
    reasons = typed_unsafe(pattern)
    if reasons:
        raise TypedCompileError(
            f"regex {pattern!r} uses ECMA-only constructs "
            f"({'; '.join(reasons)}); dynamic path required"
        )
    return to_java_pattern(pattern)


def _not_number(expr: Column, dtype, _arg) -> Column:
    if isinstance(dtype, _FRACTIONAL_TYPES):
        return expr.isNull() | F.isnan(expr)
    return expr.isNull()


def _not_integer(expr: Column, dtype, _arg) -> Column:
    cond = expr.isNull()
    if isinstance(dtype, _FRACTIONAL_TYPES):
        cond = cond | F.isnan(expr) | (expr != F.floor(expr))
    elif isinstance(dtype, T.DecimalType) and dtype.scale > 0:
        # a decimal with nonzero scale can hold 1.50: integrality must
        # be checked (no NaN branch — decimals cannot be NaN)
        cond = cond | (expr != F.floor(expr))
    # JS safe-integer bound applies to longs/decimals too (SURVEY §7.4)
    if not isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        cond = cond | (F.abs(expr) > F.lit(E.MAX_SAFE_INTEGER))
    return cond


#: leaf check -> (column types it accepts, failure predicate). A type check
#: on any other type (or a statically undefined value) fails outright;
#: constraint checks follow a type check, so accept whatever it accepted.
_CHECKS = {
    "string": (T.StringType, lambda e, dt, a: e.isNull()),
    "boolean": (T.BooleanType, lambda e, dt, a: e.isNull()),
    "number": (_NUMERIC_TYPES, _not_number),
    "integer": (_NUMERIC_TYPES, _not_integer),
    "enum": (None, lambda e, dt, a: ~e.isin(*a)),
    "min_length": (None, lambda e, dt, a: js_strlen(e) < F.lit(a)),
    "max_length": (None, lambda e, dt, a: js_strlen(e) > F.lit(a)),
    "regex": (None, lambda e, dt, a: ~e.rlike(_require_java_safe(a))),
    "min": (None, lambda e, dt, a: e < F.lit(a)),
    "max": (None, lambda e, dt, a: e > F.lit(a)),
}


class _Compiler:
    """Plan -> Column emitter, dtype-directed.

    ``expr is None`` means the value is statically *undefined* (a field the
    data's type does not carry) — composite validators then emit their
    "wrong shape" error without recursing, exactly like the reference
    validating ``undefined`` (validate.ts:130-132,163-165).
    """

    def __init__(self, max_unroll: int = 32):
        self.max_unroll = max_unroll

    def _const(self, path: Column, error: str, expr: Column | None) -> Column:
        value = F.lit(_UNDEF_JSON) if expr is None else _json_value(expr)
        return _viol(path, E.rule_id_for(error), error, value)

    def compile(self, node, expr: Column | None, dtype: T.DataType | None,
                path: Column, depth: int = 0) -> Column:
        if depth > self.max_unroll:
            raise TypedCompileError(
                f"custom-type recursion exceeds unroll budget ({self.max_unroll})"
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

    def _leaf(self, node: Leaf, expr, dtype, path: Column) -> Column:
        """First-error chain (validate.ts:50-89,194-205) as one CASE WHEN."""
        if not node.checks:  # any
            return _empty()
        (check, arg, error), rest = node.checks[0], node.checks[1:]
        if check == "and":  # data-level failure for every row
            return self._const(path, error, None)
        bad = self._const(path, error, expr)
        if check in ("undefined", "null"):
            # SQL NULL is both undefined and null (module docstring)
            if expr is None:
                return _empty() if check == "undefined" else bad
            return F.when(expr.isNull(), _empty()).otherwise(bad)
        accepts, fails = _CHECKS[check]
        if expr is None or not isinstance(dtype, accepts):
            return bad
        chain = F.when(fails(expr, dtype, arg), bad)
        for check, arg, error in rest:
            chain = chain.when(_CHECKS[check][1](expr, dtype, arg), self._const(path, error, expr))
        return chain.otherwise(_empty())

    # -- composite types --------------------------------------------------------
    def _union(self, node: Union, expr, dtype, path, depth) -> Column:
        """validateOneOf (validate.ts:91-104): first-pass-wins is an OR of
        branch pass-bits; on total failure the union error plus every
        branch's violations, in branch order."""
        compiled = [self.compile(b, expr, dtype, path, depth + b.hops) for b in node.branches]
        any_pass = None
        for arr in compiled:
            bit = F.size(arr) == 0
            any_pass = bit if any_pass is None else (any_pass | bit)
        union_err = self._const(path, E.UNION_MISMATCH, expr)
        return F.when(any_pass, _empty()).otherwise(_concat([union_err] + compiled))

    def _sized(self, node: Array | Map, expr, path, error: str) -> Column:
        """NULL fails with ``error``; a size outside the bounds fails with the
        size itself as the offending value (validate.ts:111-115,173-177)."""
        chain = F.when(expr.isNull(), self._const(path, error, expr))
        lo, hi = node.min_len, node.max_len
        if lo > 0 or hi < E.MAX_SAFE_INTEGER:
            size_err = E.arr_length(lo, hi) if isinstance(node, Array) else E.map_size(lo, hi)
            chain = chain.when(
                ~F.size(expr).between(lo, hi),
                _viol(path, E.rule_id_for(size_err), size_err, F.size(expr).cast("string")),
            )
        return chain

    def _array(self, node: Array, expr, dtype, path, depth) -> Column:
        if expr is None or not isinstance(dtype, T.ArrayType):
            return self._const(path, E.NOT_ARRAY, expr)
        elem_viols = F.flatten(
            F.transform(
                expr,
                lambda x, i: self.compile(
                    node.elem,
                    x,
                    dtype.elementType,
                    F.concat(path, F.lit("["), i.cast("string"), F.lit("]")),
                    depth + 1 + node.elem.hops,
                ),
            )
        )
        # the length check precedes element recursion
        return self._sized(node, expr, path, E.NOT_ARRAY).otherwise(elem_viols)

    def _map(self, node: Map, expr, dtype, path, depth) -> Column:
        if expr is None or not isinstance(dtype, T.MapType):
            return self._const(path, E.NOT_OBJECT, expr)
        if not isinstance(dtype.keyType, T.StringType):
            raise TypedCompileError("$map requires map<string, _> column")
        pattern = None if node.regex is None else _require_java_safe(node.regex)

        def entry_viols(e: Column) -> Column:
            key, val = e["key"], e["value"]
            val_viols = self.compile(
                node.value, val, dtype.valueType, F.concat(path, F.lit("."), key),
                depth + 1 + node.value.hops,
            )
            if pattern is None:
                return val_viols
            # failing keys report the whole map and skip value validation
            # (validate.ts:179-185)
            key_viol = _viol(
                F.concat(path, F.lit("."), key),
                "regex_mismatch",
                E.REGEX_MISMATCH,
                F.to_json(expr),
            )
            return F.when(~key.rlike(pattern), key_viol).otherwise(val_viols)

        entries = F.flatten(F.transform(F.map_entries(expr), entry_viols))
        return self._sized(node, expr, path, E.NOT_OBJECT).otherwise(entries)

    def _object(self, node: Object, expr, dtype, path, depth) -> Column:
        if expr is None or not isinstance(dtype, T.StructType):
            return self._const(path, E.NOT_OBJECT, expr)
        children = self._object_children(node, expr, dtype, path, depth)
        return F.when(
            expr.isNull(), self._const(path, E.NOT_OBJECT, expr)
        ).otherwise(_concat(children) if children else _empty())

    def _object_children(self, node: Object, expr, dtype: T.StructType, path, depth,
                         ignore: tuple[str, ...] = ()) -> list[Column]:
        """Closed-world record checks (validateObject, validate.ts:128-159):
        declared fields validate (missing ones against undefined); struct
        fields not declared are extra-key violations (known at compile
        time)."""
        children: list[Column] = []
        field_types = {f.name: f.dataType for f in dtype.fields}
        declared = set()
        for data_key, sub in node.fields:
            declared.add(data_key)
            sub_path = F.concat(path, F.lit("." + data_key))
            sub_depth = depth + 1 + sub.hops
            if data_key in field_types:
                child_expr = expr[data_key] if expr is not None else _root_col(data_key)
                children.append(
                    self.compile(sub, child_expr, field_types[data_key], sub_path, sub_depth)
                )
            else:
                children.append(self.compile(sub, None, None, sub_path, sub_depth))
        for name in field_types:
            if name not in declared and name not in ignore:
                child_expr = expr[name] if expr is not None else _root_col(name)
                children.append(
                    _viol(
                        F.concat(path, F.lit("." + name)),
                        "extra_key",
                        E.EXTRA_KEY,
                        _json_value(child_expr),
                    )
                )
        return children


def _root_object(schema: Any) -> Object:
    root = lower(schema)
    if not isinstance(root, Object):
        if isinstance(root, Leaf) and root.checks[:1] == (("and", None, E.AND_SCHEMA_ERR),):
            raise SchemaError(E.AND_SCHEMA_ERR)
        raise TypedCompileError(
            "root schema must resolve to a plain object for table validation; "
            "use compile_column for column-level schemas"
        )
    return root


def compile_schema(
    schema: Any,
    df_schema: T.StructType,
    *,
    ignore_columns: tuple[str, ...] = (),
    max_unroll: int = 32,
) -> Column:
    """Compile a root object schema against a DataFrame schema into one
    ``violations`` Column. The row itself is the object under validation
    (always present, so the root never raises "not an Object").

    ``ignore_columns`` exempts engine/bookkeeping columns from the
    closed-world extra-key rule. Raises :class:`SchemaError` for malformed
    schemas (the reference throws).
    """
    children = _Compiler(max_unroll)._object_children(
        _root_object(schema), None, df_schema, F.lit("$"), 0, ignore=tuple(ignore_columns)
    )
    return _concat(children) if children else _empty()


def compile_column(
    schema: Any, column: Column, dtype: T.DataType, *, path: str = "$", max_unroll: int = 32
) -> Column:
    """Compile any schema node against a single typed column."""
    return _Compiler(max_unroll).compile(lower(schema), column, dtype, F.lit(path))


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
