"""Reference-faithful validation interpreter (the executable spec).

A from-scratch Python implementation of the reference's per-value validation
semantics (/root/reference/src/validate.ts). It serves three roles:

1. **Executable spec** — the pytest fixture corpus asserts this interpreter
   reproduces every golden error tree from the reference's own test suite.
2. **Dynamic fallback** for the Spark engine — schemas that the static
   Catalyst compiler can't express (unbounded recursion, heavy ``any``
   unions) run through this interpreter inside one Arrow-batched scalar
   pandas UDF (see :mod:`yaschva_spark.engine`). Batch-level, not
   driver-level: each executor validates its own Arrow batches.
3. **Violation-row explosion** — :func:`violations_from_output` flattens the
   mirrored output tree into ``(path, rule, error, value_json)`` rows, the
   table-shaped form of the reference's output model (validate.ts:9-17).

JS-specific semantics preserved deliberately:

* ``undefined`` vs ``null`` are distinct (validate.ts:50-54) — ``UNDEFINED``
  is a sentinel distinct from Python ``None``.
* ``typeof x === 'number'`` excludes booleans (Python bools are ints — we
  exclude them explicitly).
* ``'integer'`` means *safe* integer: integral and |v| <= 2^53-1
  (Number.isSafeInteger, validate.ts:67-68).
* JS arrays are ``typeof 'object'`` — validating a list against an
  object/map schema iterates its indices as string keys.
* ``minLength``/``regex`` constraint values of 0/'' are falsy in JS and so
  skip their checks (validate.ts:78-82,109-110,171-172).
"""

from __future__ import annotations

import math
import re
from typing import Any, Callable

from yaschva_spark import errors as E
from yaschva_spark.schema import (
    SchemaError,
    combine_and,
    escape_key,
    extract_types,
    is_and_node,
    is_array_node,
    is_enum_node,
    is_map_node,
    is_meta_node,
    is_number_node,
    is_obj,
    is_simple,
    is_string_node,
    is_union,
    js_falsy,
    js_stringify,
)


class _Undefined:
    """Singleton standing in for JS ``undefined`` (distinct from null)."""

    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:  # pragma: no cover
        return "UNDEFINED"


UNDEFINED = _Undefined()

#: JSON-text encoding of UNDEFINED for table-shaped fixtures (FIXTURES.md §1).
UNDEFINED_TOKEN = "__undefined__"

PASS = "pass"
FAIL = "fail"

_REGEX_CACHE: dict[str, re.Pattern] = {}


def _regex(pattern: str) -> re.Pattern:
    """ECMAScript ``new RegExp(p, 'u')`` analog. Python's ``re`` is the
    closest dialect to ECMA available here; ECMA-only spellings that Python
    writes differently (``\\u{...}``, ``(?<name>``, ``\\k<name>``, ``[]``,
    ``[^]``) are translated first (regexdialect.to_python_pattern). The
    reference compiles per value (validate.ts:81) — we cache instead (same
    observable behavior)."""
    rx = _REGEX_CACHE.get(pattern)
    if rx is None:
        from yaschva_spark.regexdialect import to_python_pattern

        rx = re.compile(to_python_pattern(pattern))
        _REGEX_CACHE[pattern] = rx
    return rx


def _is_js_number(value: Any) -> bool:
    return isinstance(value, (int, float)) and not isinstance(value, bool)


def _fail(error: str, value: Any, output: Any = None) -> dict:
    """failValidation (validate.ts:22-28)."""
    content: dict[str, Any] = {"error": error, "value": value}
    if output is not None:
        content["output"] = output
    return {"result": FAIL, "output": content}


def _to_result(err: str | None, value: Any) -> dict:
    """toResult (validate.ts:207-208)."""
    if err:
        return {"result": FAIL, "output": {"error": err, "value": value}}
    return {"result": PASS, "output": None}


# --- simple validators (validate.ts:50-89) ----------------------------------
def _v_undefined(value: Any) -> str | None:
    return None if value is UNDEFINED else E.NOT_UNDEFINED


def _v_null(value: Any) -> str | None:
    return None if value is None else E.NOT_NULL


def _v_number(value: Any) -> str | None:
    if not _is_js_number(value) or not math.isfinite(value):
        return E.NOT_NUMBER
    return None


def _v_number_complex(value: Any, vmin: Any, vmax: Any) -> str | None:
    res = _v_number(value)
    if res is None:
        if vmin is not None and value < vmin:
            return E.NUM_BELOW_MIN
        if vmax is not None and value > vmax:
            return E.NUM_ABOVE_MAX
    return res


def _v_integer(value: Any) -> str | None:
    if not _is_js_number(value):
        return E.NOT_INTEGER
    if isinstance(value, float) and not (math.isfinite(value) and value.is_integer()):
        return E.NOT_INTEGER
    if abs(value) > E.MAX_SAFE_INTEGER:
        return E.NOT_INTEGER
    return None


def _v_string(value: Any, enums: list | None = None) -> str | None:
    if not isinstance(value, str):
        return E.NOT_STRING
    if enums and value not in enums:
        return E.enum_mismatch(enums)
    return None


def _js_strlen(s: str) -> int:
    """JS ``String.prototype.length`` counts UTF-16 code units: astral
    characters (> U+FFFF) count 2, unlike Python's code-point ``len``."""
    return sum(2 if ord(ch) > 0xFFFF else 1 for ch in s)


def _v_string_object(value: Any, constraints: dict) -> str | None:
    if not isinstance(value, str):
        return E.NOT_STRING
    min_len = constraints.get("minLength")
    max_len = constraints.get("maxLength")
    pattern = constraints.get("regex")
    # JS `minLength && ...`: 0/undefined skip the check (validate.ts:78-79)
    if not js_falsy(min_len) and _js_strlen(value) < min_len:
        return E.STR_TOO_SHORT
    if not js_falsy(max_len) and _js_strlen(value) > max_len:
        return E.STR_TOO_LONG
    if not js_falsy(pattern) and not _regex(pattern).search(value):
        return E.REGEX_MISMATCH
    return None


def _v_bool(value: Any) -> str | None:
    return None if isinstance(value, bool) else E.NOT_BOOLEAN


def _simple_validation(stype: str, value: Any) -> str | None:
    """simpleValidation dispatch (validate.ts:194-205)."""
    if stype == "any":
        return None
    if stype == "?":
        return _v_undefined(value)
    if stype == "number":
        return _v_number(value)
    if stype == "integer":
        return _v_integer(value)
    if stype == "string":
        return _v_string(value)
    if stype == "boolean":
        return _v_bool(value)
    if stype == "null":
        return _v_null(value)
    raise SchemaError(f"Unknown validator:{js_stringify(stype)}")


# --- composite validators ----------------------------------------------------
def _as_object(value: Any) -> dict | None:
    """JS ``typeof value === 'object'`` view: dicts are objects; arrays are
    objects whose keys are their stringified indices (Object.keys)."""
    if isinstance(value, dict):
        return value
    if isinstance(value, list):
        return {str(i): v for i, v in enumerate(value)}
    return None


def _v_one_of(value: Any, branches: list, validate_fn: Callable) -> dict:
    """validateOneOf (validate.ts:91-104): first passing branch wins; on
    total failure the per-branch error outputs are flattened in order."""
    if not branches:
        raise SchemaError("Array of types can not be empty")
    branch_errors: list = []
    branch_vtrees: list = []
    for branch in branches:
        result = validate_fn(branch, value)
        if result["result"] == PASS:
            return result
        out = result["output"]
        if isinstance(out, list):
            branch_errors.extend(out)
        else:
            branch_errors.append(out)
        # vtree keeps each branch's tree UNflattened so a failing-array
        # branch's element indices survive into violation paths
        branch_vtrees.append(result.get("vtree", out))
    failed = _fail(E.UNION_MISMATCH, value, branch_errors)
    failed["vtree"] = {
        "error": E.UNION_MISMATCH,
        "value": value,
        "output": branch_vtrees,
    }
    return failed


def _flat1(items: list) -> list:
    """Array.prototype.flat() — one level."""
    out: list = []
    for x in items:
        if isinstance(x, list):
            out.extend(x)
        else:
            out.append(x)
    return out


def _v_array(value: Any, node: dict, validate_fn: Callable) -> dict:
    """validateArray (validate.ts:106-126). Length check happens before any
    element recursion and fails with the *length* as the offending value."""
    if not isinstance(value, list):
        return _fail(E.NOT_ARRAY, value)
    max_len = node.get("maxLength")
    min_len = node.get("minLength")
    max_len = E.MAX_SAFE_INTEGER if js_falsy(max_len) else max_len  # `|| MAX`
    min_len = 0 if js_falsy(min_len) else min_len  # `|| 0`
    if len(value) < min_len or len(value) > max_len:
        return _fail(E.arr_length(min_len, max_len), len(value))
    outputs: list = []
    vtree: list = []
    failed = False
    for item in value:
        res = validate_fn(node["$array"], item)
        if res["result"] == FAIL:
            failed = True
        outputs.append(res["output"])
        vtree.append(res.get("vtree", res["output"]))
    # output is reference-exact (Array.prototype.flat() splices nested
    # array outputs — validate.ts:118); vtree keeps the UNflattened shape
    # so violation-row paths index the ORIGINAL element positions (a
    # flattened list shifts every [i] after a nested-array element)
    return {"result": FAIL if failed else PASS, "output": _flat1(outputs), "vtree": vtree}


def _v_object(value: Any, validator: dict, validate_fn: Callable) -> dict:
    """validateObject (validate.ts:128-159): closed-world record. Pass 1
    walks data keys (extra keys error); pass 2 validates declared keys not in
    the data against ``undefined`` so missing mandatory fields fail with the
    field's own type error."""
    obj = _as_object(value)
    if obj is None:
        return _fail(E.NOT_OBJECT, value)

    failed = False
    output: dict[str, Any] = {}
    vtree: dict[str, Any] = {}
    for key, item in obj.items():
        schema_key = escape_key(key)
        if js_falsy(validator.get(schema_key)):
            failed = True
            output[key] = {"error": E.EXTRA_KEY, "value": item}
            vtree[key] = output[key]
        else:
            res = validate_fn(validator[schema_key], item)
            if res["result"] == FAIL:
                failed = True
            output[key] = res["output"]
            vtree[key] = res.get("vtree", res["output"])

    for schema_key, sub_schema in validator.items():
        key = schema_key[1:] if schema_key.startswith("\\$") else schema_key
        if key not in output:
            res = validate_fn(sub_schema, obj.get(key, UNDEFINED))
            if res["result"] == FAIL:
                failed = True
            output[key] = res["output"]
            vtree[key] = res.get("vtree", res["output"])

    return {"result": FAIL if failed else PASS, "output": output, "vtree": vtree}


def _v_map(value: Any, node: dict, validate_fn: Callable) -> dict:
    """validateMap (validate.ts:161-193): string-keyed map with member-count
    bounds and optional key regex (failing keys report the whole map as the
    offending value)."""
    obj = _as_object(value)
    if obj is None:
        return _fail(E.NOT_OBJECT, value)
    max_len = node.get("maxLength")
    min_len = node.get("minLength")
    max_len = E.MAX_SAFE_INTEGER if js_falsy(max_len) else max_len
    min_len = 0 if js_falsy(min_len) else min_len
    if len(obj) < min_len or len(obj) > max_len:
        return _fail(E.map_size(min_len, max_len), len(obj))

    failed = False
    output: dict[str, Any] = {}
    vtree: dict[str, Any] = {}
    pattern = node.get("regex")
    for key, item in obj.items():
        if not js_falsy(pattern) and not _regex(pattern).search(key):
            failed = True
            output[key] = {"error": E.REGEX_MISMATCH, "value": value}
            vtree[key] = output[key]
            continue
        res = validate_fn(node["$map"], item)
        if res["result"] == FAIL:
            failed = True
        output[key] = res["output"]
        vtree[key] = res.get("vtree", res["output"])
    return {"result": FAIL if failed else PASS, "output": output, "vtree": vtree}


# --- main dispatch (validate.ts:210-257) -------------------------------------
def validate_internal(node: Any, value: Any, custom_types: dict[str, Any]) -> dict:
    if node is None:
        raise SchemaError("Type for validation cannot be undefined")

    node, extracted = extract_types(node)
    if extracted is not None:
        custom_types = extracted

    def recurse(sub_node: Any, sub_value: Any) -> dict:
        return validate_internal(sub_node, sub_value, custom_types)

    if is_simple(node):
        custom = custom_types.get(node)
        if not js_falsy(custom) and custom is not None:
            return recurse(custom, value)
        return _to_result(_simple_validation(node, value), value)
    if is_union(node):
        return _v_one_of(value, node, recurse)
    if is_array_node(node):
        return _v_array(value, node, recurse)
    if is_enum_node(node):
        return _to_result(_v_string(value, node["$enum"]), value)
    if is_obj(node):
        return _v_object(value, node, recurse)
    if is_map_node(node):
        return _v_map(value, node, recurse)
    if is_number_node(node):
        return _to_result(
            _v_number_complex(value, node["$number"].get("min"), node["$number"].get("max")),
            value,
        )
    if is_meta_node(node):
        return recurse(node["$type"], value)
    if is_string_node(node):
        return _to_result(_v_string_object(value, node["$string"]), value)
    if is_and_node(node):
        try:
            merged = combine_and(node, custom_types)
        except SchemaError:
            resolved = _resolved_and_members(node, custom_types)
            return _fail(E.AND_SCHEMA_ERR, resolved)
        return _v_object(value, merged, recurse)

    raise SchemaError(f"Unknown validator:{js_stringify(node)}")


def _resolved_and_members(node: dict, custom_types: dict[str, Any]) -> list:
    """The offending value for an $and schema error is the resolved member
    list (validate.ts:37-41); unresolvable names resolve to undefined."""
    from yaschva_spark.schema import resolve_meta

    out = []
    for m in node["$and"]:
        r = resolve_meta(m, custom_types)
        out.append(UNDEFINED if r is None else r)
    return out


def validate(schema: Any, value: Any) -> dict:
    """Public single-value entry point (validate.ts:259-261)."""
    return validate_internal(schema, value, {})


# --- output-tree utilities ----------------------------------------------------
def output_to_jsonable(output: Any) -> Any:
    """Replace UNDEFINED sentinels with the fixture token so golden trees are
    JSON-serializable (FIXTURES.md §1)."""
    if output is UNDEFINED:
        return UNDEFINED_TOKEN
    if isinstance(output, dict):
        return {k: output_to_jsonable(v) for k, v in output.items()}
    if isinstance(output, list):
        return [output_to_jsonable(v) for v in output]
    return output


def value_to_json_text(value: Any) -> str:
    """Render an offending value for a violation row. ``UNDEFINED`` renders
    as the fixture token (a value Spark NULL cannot represent faithfully)."""
    import json as _json

    return _json.dumps(output_to_jsonable(value), separators=(",", ":"), ensure_ascii=False)


def violations_from_output(output: Any, path: str = "$", _branches: bool = False) -> list[dict]:
    """Flatten the mirrored output tree into violation rows
    ``{path, rule, error, value}`` — the table form of the reference's error
    model. ``null`` leaves mean "no error" (validate.ts:207-208). Union
    errors contribute one row plus rows for each failing branch at the same
    path; array element outputs gain ``[i]`` path segments."""
    rows: list[dict] = []
    if output is None or output is UNDEFINED:
        return rows
    if isinstance(output, dict):
        if "error" in output and isinstance(output.get("error"), str):
            rows.append(
                {
                    "path": path,
                    "rule": E.rule_id_for(output["error"]),
                    "error": output["error"],
                    "value": value_to_json_text(output.get("value")),
                }
            )
            nested = output.get("output")
            if nested is not None:
                # nested outputs under an error leaf are union-branch errors
                # (validate.ts:95-103): same path, not array indices
                rows.extend(violations_from_output(nested, path, _branches=True))
        else:
            for key, sub in output.items():
                rows.extend(violations_from_output(sub, f"{path}.{key}"))
    elif isinstance(output, list):
        for i, sub in enumerate(output):
            sub_path = path if _branches else f"{path}[{i}]"
            rows.extend(violations_from_output(sub, sub_path))
    return rows
