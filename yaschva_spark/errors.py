"""Exact error strings of the reference validator, plus stable rule ids.

Every string here is byte-identical to the reference's error messages
(/root/reference/src/validate.ts:50-203), including the trailing spaces on
the integer and enum errors (validate.ts:68,72 — asserted verbatim by the
reference specs, e.g. validate.spec.ts:162). Violation rows produced by the
engine carry both the stable ``rule`` id and the exact ``error`` string, so
fixture comparisons can be string-exact.
"""

from __future__ import annotations

# --- fixed strings (validate.ts:50-89,103,125,131,141,164,248) -------------
NOT_UNDEFINED = "Value is not undefined"
NOT_NULL = "Value is not null"
NOT_NUMBER = "Value is not a number"
NUM_BELOW_MIN = "Value is smaller than the required minimum"
NUM_ABOVE_MAX = "Value is bigger than the required maximum"
NOT_INTEGER = "Value is not an integer "  # trailing space is load-bearing
NOT_STRING = "Value is not a string"
STR_TOO_SHORT = "String is shorter than the required minimum length"
STR_TOO_LONG = "String is longer than the required maximum length"
REGEX_MISMATCH = "String did not match required regex"
NOT_BOOLEAN = "Value is not a boolean"
UNION_MISMATCH = "Did not match any from the listed types"
NOT_ARRAY = "Value is not an Array"
NOT_OBJECT = "Value is not an Object"
EXTRA_KEY = "Key does not exist on validator"
AND_SCHEMA_ERR = "SCHEMA error: $and must only contain objects"

# JS `MAX_SAFE_INTEGER` = 2^53 - 1; the reference's integer rule is
# Number.isSafeInteger (validate.ts:67-68) and its array/map default upper
# bound (validate.ts:109,171).
MAX_SAFE_INTEGER = 9007199254740991


def _js_join_item(v) -> str:
    """One member as JS ``Array.prototype.join`` renders it: null as the
    empty string, a nested array joined with commas."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, list):
        return ",".join(map(_js_join_item, v))
    if isinstance(v, dict):
        return "[object Object]"
    return v if isinstance(v, str) else _js_num(v)


def enum_mismatch(enums: list) -> str:
    """validate.ts:72 — note the trailing space after the bracket. Members
    that are not strings render as JS ``join`` renders them."""
    return f"Value needs to be one of the following: [{', '.join(map(_js_join_item, enums))}] "


def _js_num(n: float) -> str:
    """Render a bound the way JS template literals do (9007199254740991,
    not 9007199254740991.0)."""
    if isinstance(n, float) and n.is_integer():
        return str(int(n))
    return str(n)


def arr_length(min_len: float, max_len: float) -> str:
    """validate.ts:113."""
    return f"Array length needs to be between {_js_num(min_len)} - {_js_num(max_len)}"


def map_size(min_len: float, max_len: float) -> str:
    """validate.ts:175."""
    return (
        f"Map needs to have member count to be between "
        f"{_js_num(min_len)} - {_js_num(max_len)}"
    )


# --- stable rule ids --------------------------------------------------------
_FIXED_RULES = {
    NOT_UNDEFINED: "not_undefined",
    NOT_NULL: "not_null",
    NOT_NUMBER: "not_number",
    NUM_BELOW_MIN: "num_below_min",
    NUM_ABOVE_MAX: "num_above_max",
    NOT_INTEGER: "not_integer",
    NOT_STRING: "not_string",
    STR_TOO_SHORT: "str_too_short",
    STR_TOO_LONG: "str_too_long",
    REGEX_MISMATCH: "regex_mismatch",
    NOT_BOOLEAN: "not_boolean",
    UNION_MISMATCH: "union_mismatch",
    NOT_ARRAY: "not_array",
    NOT_OBJECT: "not_object",
    EXTRA_KEY: "extra_key",
    AND_SCHEMA_ERR: "and_schema_err",
}


def rule_id_for(error: str) -> str:
    """Map an exact error string to its stable rule id."""
    rule = _FIXED_RULES.get(error)
    if rule is not None:
        return rule
    if error.startswith("Value needs to be one of the following:"):
        return "enum_mismatch"
    if error.startswith("Array length needs to be between"):
        return "arr_length"
    if error.startswith("Map needs to have member count"):
        return "map_size"
    return "unknown"
