"""The schema language: guards, $types env, $and merge, load_json, and
:func:`lower`, the one resolution every compiled back end emits from.

Schemas are plain JSON-like Python values (str | list | dict), exactly the
shape of the reference's schema documents. Node classification is structural
tag sniffing with the same rules as the reference's guards
(/root/reference/src/validationTypes.ts:32-42): a plain object schema is an
object with **no** ``$``-prefixed keys; data keys that start with ``$`` must
be escaped ``\\$`` in the schema (README.md:115-119).

Schema errors **raise** :class:`SchemaError` (the reference throws:
validate.ts:93,203,211,256), with the same messages, while data errors only
fail validation.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from yaschva_spark import errors as E

class SchemaError(Exception):
    """Raised for malformed schemas — the analog of the reference's throws."""


def js_stringify(value: Any) -> str:
    """JSON.stringify-compatible rendering (compact separators, like JS)."""
    return json.dumps(value, separators=(",", ":"), ensure_ascii=False)


def js_falsy(value: Any) -> bool:
    """JS truthiness for schema-node guard checks.

    JS falsy = undefined/null/''/0/false/NaN. Note ``{}`` and ``[]`` are
    *truthy* in JS (unlike Python) — the guards in validationTypes.ts rely on
    this, e.g. ``isArray = tbd.$array`` is true for any non-falsy ``$array``.
    """
    if value is None or value is False:
        return True
    if isinstance(value, str) and value == "":
        return True
    if isinstance(value, bool):
        return False
    if isinstance(value, (int, float)):
        return value == 0 or value != value  # 0, -0, NaN
    return False  # objects/arrays/strings are truthy


def _tag(node: Any, key: str) -> bool:
    return isinstance(node, dict) and not js_falsy(node.get(key))


# --- guards (validationTypes.ts:32-42) --------------------------------------
def is_simple(node: Any) -> bool:
    return isinstance(node, str)


def is_union(node: Any) -> bool:
    return isinstance(node, list)


def is_array_node(node: Any) -> bool:
    return _tag(node, "$array")


def is_map_node(node: Any) -> bool:
    return _tag(node, "$map")


def is_string_node(node: Any) -> bool:
    return _tag(node, "$string")


def is_number_node(node: Any) -> bool:
    return _tag(node, "$number")


def is_meta_node(node: Any) -> bool:
    return _tag(node, "$type")


def is_enum_node(node: Any) -> bool:
    return _tag(node, "$enum")


def is_obj(node: Any) -> bool:
    """Plain object schema: a dict with no ``$``-prefixed keys
    (validationTypes.ts:39-40). Escaped ``\\$`` keys are data keys."""
    return isinstance(node, dict) and not any(k.startswith("$") for k in node)


def is_typedef(node: Any) -> bool:
    return _tag(node, "$types")


def is_and_node(node: Any) -> bool:
    return _tag(node, "$and")


# --- schema loading / env handling ------------------------------------------
def load_json(doc: str | dict) -> Any:
    """Parse a schema document; drop the ``$schema`` marker key
    (validate.ts:263-268)."""
    out = json.loads(doc) if isinstance(doc, str) else dict(doc)
    if isinstance(out, dict):
        out.pop("$schema", None)
    return out


def extract_types(node: Any) -> tuple[Any, dict[str, Any] | None]:
    """Split root-level ``$types`` off a node (validate.ts:215-219).

    Returns ``(node_without_types, custom_types_or_None)``. The reference
    *replaces* the env rather than merging (validate.ts:216).
    """
    if is_typedef(node):
        custom = node["$types"]
        rest = {k: v for k, v in node.items() if k != "$types"}
        return rest, custom
    return node, None


def resolve_meta(node: Any, custom_types: dict[str, Any]) -> Any:
    """Resolve custom-type names and ``$type`` wrappers to the underlying
    schema node (validate.ts:32-36)."""
    if isinstance(node, str):
        return resolve_meta(custom_types.get(node), custom_types)
    if node is not None and is_meta_node(node):
        return resolve_meta(node["$type"], custom_types)
    return node


def combine_and(node: dict, custom_types: dict[str, Any]) -> dict:
    """Merge the members of an ``$and`` into one closed object schema
    (combineValidationObjects, validate.ts:30-48). Later keys overwrite
    earlier ones. Raises :class:`SchemaError` if any member does not resolve
    to a plain object — callers that need the reference's *data-fail*
    behavior catch this.
    """
    resolved = [resolve_meta(m, custom_types) for m in node["$and"]]
    if any(r is None or not is_obj(r) for r in resolved):
        raise SchemaError(E.AND_SCHEMA_ERR)
    merged: dict[str, Any] = {}
    for r in resolved:
        merged.update(r)
    return merged


def unescape_key(schema_key: str) -> str:
    """``\\$name`` in a schema denotes the data key ``$name``
    (validate.ts:150)."""
    return schema_key[1:] if schema_key.startswith("\\$") else schema_key


def escape_key(data_key: str) -> str:
    """Data key -> schema key (validate.ts:138)."""
    return "\\" + data_key if data_key.startswith("$") else data_key


def node_kind(node: Any) -> str:
    """Classify a node in the reference's dispatch order
    (validate.ts:223-256). Raises on unknown nodes with the reference's
    exact message."""
    if node is None:
        raise SchemaError("Type for validation cannot be undefined")
    if is_simple(node):
        return "simple"
    if is_union(node):
        return "union"
    if is_array_node(node):
        return "array"
    if is_enum_node(node):
        return "enum"
    if is_obj(node):
        return "object"
    if is_map_node(node):
        return "map"
    if is_number_node(node):
        return "number"
    if is_meta_node(node):
        return "meta"
    if is_string_node(node):
        return "string"
    if is_and_node(node):
        return "and"
    raise SchemaError(f"Unknown validator:{js_stringify(node)}")


# --- lowering: one resolved check plan per schema ---------------------------
# A schema lowers to a graph of five node kinds. Every back end that compiles
# schemas (typed.py, jsonscreen.py) emits from this plan, so the reference's
# dispatch order, ``$types`` scoping and first-error chains live only here;
# interp.py keeps its own dispatch as the independent executable spec.
# ``hops`` counts the custom names followed to reach a node; the typed back
# ends charge one unit of their recursion budgets per name.


@dataclass(eq=False)
class Leaf:
    """Scalar validator: ``checks`` is the ordered first-error chain of
    ``(check, arg, error)`` entries (the first failing check's error wins,
    none failing passes; no checks is ``any``). The first entry is the type
    check: ``undefined``, ``null``, ``string``, ``number``, ``integer``,
    ``boolean``, or ``and`` (an ``$and`` whose members are not all objects,
    which fails every value, validate.ts:246-253). Constraint checks
    (``enum``, ``min_length``, ``max_length``, ``regex``, ``min``, ``max``)
    follow it."""

    checks: tuple = ()
    hops: int = 0


@dataclass(eq=False)
class Union:
    branches: list = field(default_factory=list)
    hops: int = 0


@dataclass(eq=False)
class Array:
    elem: Any = None
    min_len: Any = 0
    max_len: Any = E.MAX_SAFE_INTEGER
    hops: int = 0


@dataclass(eq=False)
class Map:
    value: Any = None
    min_len: Any = 0
    max_len: Any = E.MAX_SAFE_INTEGER
    #: key regex, None when absent or JS-falsy
    regex: Any = None
    hops: int = 0


@dataclass(eq=False)
class Object:
    #: ``(data_key, node)`` in schema order, ``\$`` keys unescaped
    fields: list = field(default_factory=list)
    hops: int = 0


_SIMPLE_CHECKS = {
    "any": (),
    "?": (("undefined", None, E.NOT_UNDEFINED),),
    "null": (("null", None, E.NOT_NULL),),
    "string": (("string", None, E.NOT_STRING),),
    "number": (("number", None, E.NOT_NUMBER),),
    "integer": (("integer", None, E.NOT_INTEGER),),
    "boolean": (("boolean", None, E.NOT_BOOLEAN),),
}


def _bounds(node: dict) -> tuple[Any, Any]:
    """minLength/maxLength with the reference's ``|| 0`` / ``|| MAX``
    defaults (validate.ts:109-110,171-172)."""
    lo, hi = node.get("minLength"), node.get("maxLength")
    return (0 if js_falsy(lo) else lo), (E.MAX_SAFE_INTEGER if js_falsy(hi) else hi)


def _string_checks(spec: dict) -> tuple:
    # JS falsy constraint values skip their check (validate.ts:78-82)
    checks = [("string", None, E.NOT_STRING)]
    for key, check, err in (("minLength", "min_length", E.STR_TOO_SHORT),
                            ("maxLength", "max_length", E.STR_TOO_LONG),
                            ("regex", "regex", E.REGEX_MISMATCH)):
        if not js_falsy(spec.get(key)):
            checks.append((check, spec[key], err))
    return tuple(checks)


def _enum_checks(enums: Any) -> tuple:
    checks = [("string", None, E.NOT_STRING)]
    if enums:  # `enums && enums.length && ...` skips an empty list
        shown = [e if isinstance(e, str) else js_stringify(e) for e in enums]
        checks.append(("enum", enums, E.enum_mismatch(shown)))
    return tuple(checks)


def _number_checks(spec: dict) -> tuple:
    checks = [("number", None, E.NOT_NUMBER)]
    for key, check, err in (("min", "min", E.NUM_BELOW_MIN), ("max", "max", E.NUM_ABOVE_MAX)):
        if spec.get(key) is not None:
            checks.append((check, spec[key], err))
    return tuple(checks)


class _Lowering:
    def __init__(self) -> None:
        #: (id of the $types env, name) -> the node that name lowered to
        self.named: dict[tuple[int, str], Any] = {}

    def bind(self, plan: Any, names: tuple) -> Any:
        """Register ``plan`` for the custom names that resolved to it, before
        its children lower, so a recursive name finds the shared node."""
        plan.hops = len(names)
        for key in names:
            self.named[key] = plan
        return plan

    def node(self, node: Any, env: Any, names: tuple = ()) -> Any:
        node, extracted = extract_types(node)
        if extracted is not None:
            env = extracted  # replaces the env for this subtree (validate.ts:216)
        kind = node_kind(node)
        if kind == "simple":
            if not js_falsy(env.get(node)):  # a custom name shadows builtins
                key = (id(env), node)
                if key in self.named:
                    return self.named[key]
                if key in names:
                    raise SchemaError(f"Type resolves only to itself:{js_stringify(node)}")
                return self.node(env[node], env, names + (key,))
            if node not in _SIMPLE_CHECKS:
                raise SchemaError(f"Unknown validator:{js_stringify(node)}")
            return self.bind(Leaf(_SIMPLE_CHECKS[node]), names)
        if kind == "union":
            if not node:
                raise SchemaError("Array of types can not be empty")
            plan = self.bind(Union(), names)
            plan.branches = [self.node(b, env) for b in node]
        elif kind == "array":
            plan = self.bind(Array(None, *_bounds(node)), names)
            plan.elem = self.node(node["$array"], env)
        elif kind == "map":
            regex = node.get("regex")
            plan = self.bind(Map(None, *_bounds(node), None if js_falsy(regex) else regex), names)
            plan.value = self.node(node["$map"], env)
        elif kind == "object":
            plan = self.bind(Object(), names)
            plan.fields = [(unescape_key(k), self.node(v, env)) for k, v in node.items()]
        elif kind == "meta":
            return self.node(node["$type"], env, names)
        elif kind == "and":
            try:
                merged = combine_and(node, env)
            except SchemaError:
                return self.bind(Leaf((("and", None, E.AND_SCHEMA_ERR),)), names)
            return self.node(merged, env, names)
        else:
            checks = {"enum": _enum_checks, "string": _string_checks, "number": _number_checks}
            return self.bind(Leaf(checks[kind](node["$" + kind])), names)
        return plan


def lower(schema: Any) -> Leaf | Union | Array | Map | Object:
    """Resolve ``schema`` once into its check plan (see :class:`Leaf`).
    Raises :class:`SchemaError` wherever the reference throws at validation
    time (unknown simple type validate.ts:203, unknown $-node
    validate.ts:256, empty union validate.ts:93, undefined schema
    validate.ts:211), with its messages. A recursive custom name lowers to
    one shared node, so the plan may be cyclic."""
    return _Lowering().node(schema, {})


def check_schema(schema: Any) -> None:
    """Compile-time schema check: raise what :func:`lower` raises."""
    lower(schema)
