"""Self-description: the yaschva schema language described IN the yaschva
schema language (the reference claims this capability — README.md:106-111 —
but ships only a JSON-Schema rendition, schema.json). The meta-schema below
exercises recursion ($types), unions, optional members, and $-escaped keys
all at once; the engine validates real schemas — including the meta-schema
itself — as data against it.
"""

from __future__ import annotations

import pytest

from yaschva_spark.generate import generate
from yaschva_spark.interp import validate as iv

# A yaschva ValueType, in yaschva. Branch order follows the reference's
# dispatch order where it matters (first-pass-wins).
_VALUE_TYPE = [
    "string",  # simple types AND custom-type names are plain strings
    {"$array": "$valueType", "minLength": 1},  # a union is a non-empty array
    {"\\$enum": {"$array": "string", "minLength": 1}},
    {
        "\\$array": "$valueType",
        "minLength": ["number", "?"],
        "maxLength": ["number", "?"],
    },
    {
        "\\$map": "$valueType",
        "regex": ["string", "?"],
        "minLength": ["number", "?"],
        "maxLength": ["number", "?"],
    },
    {
        "\\$string": {
            "minLength": ["number", "?"],
            "maxLength": ["number", "?"],
            "regex": ["string", "?"],
        }
    },
    {
        "\\$number": {
            "min": ["number", "?"],
            "max": ["number", "?"],
            "step": ["number", "?"],
        }
    },
    {
        "\\$type": "$valueType",
        "name": ["string", "?"],
        "description": ["string", "?"],
    },
    {"\\$and": {"$array": ["string", {"$map": "$valueType"}]}},
    {"$map": "$valueType"},  # ObjectType: arbitrary keys -> ValueTypes
]

#: a whole schema document: arbitrary top-level keys map to ValueTypes;
#: the reserved "$types" key maps to a dictionary of ValueTypes (which the
#: second union branch of the map value covers).
META_SCHEMA = {
    "$types": {"$valueType": _VALUE_TYPE},
    "$map": ["$valueType", {"$map": "$valueType"}],
}


def _meta_validate(schema_as_data) -> bool:
    return iv(META_SCHEMA, schema_as_data)["result"] == "pass"


def test_meta_validates_kitchen_sink_schema():
    # the in-repo schema written to cover the reference's example features
    from tests.cases_validate import KITCHEN_SINK_SCHEMA

    assert _meta_validate(KITCHEN_SINK_SCHEMA)


def test_meta_validates_engine_schemas():
    from __spark_entry__ import DOC_SCHEMA
    from yaschva_spark.fixtures import CODE_SCHEMA

    assert _meta_validate(DOC_SCHEMA)
    assert _meta_validate(CODE_SCHEMA)


def test_meta_validates_itself():
    """The self-description claim, literally: META_SCHEMA is itself a valid
    schema document under META_SCHEMA."""
    assert _meta_validate(META_SCHEMA)


@pytest.mark.parametrize(
    "bad",
    [
        {"a": 5},  # a number is not a ValueType
        {"a": [5]},  # union member must be a ValueType
        {"a": {"$enum": [1, 2]}},  # enum members must be strings
        {"a": {"$number": {"min": True}}},  # boolean is not a number
        {"a": {"nested": {"deep": None}}},  # null is not a ValueType
    ],
)
def test_meta_rejects_malformed_schemas(bad):
    assert not _meta_validate(bad)


@pytest.mark.parametrize(
    "loose",
    [
        {"a": []},  # empty array -> looks like an empty ObjectType (JS arrays are objects)
        {"a": {"$enum": "x"}},  # absorbed by the ObjectType catch-all branch
        {"a": {"$string": {"minLength": "three"}}},  # ditto (nested ObjectType)
    ],
)
def test_meta_permissiveness_is_faithful(loose):
    """The ObjectType catch-all ({"$map": ...}) absorbs $-keyed objects and
    empty arrays — a real limit of describing yaschva IN yaschva (maps can't
    constrain key names). The reference's own docs concede the JSON-Schema
    rendition is the stricter one; these cases pass meta-validation even
    though the schema *compiler* would reject them."""
    assert _meta_validate(loose)


def test_generated_schemas_meta_validate():
    """generate(META) -> values that are themselves valid under META (the
    reference's motivation for self-description: generating valid schema
    definitions)."""
    for seed in range(10):
        candidate = generate(META_SCHEMA, seed=seed, array_max=3, map_max=3)
        assert _meta_validate(candidate), (seed, candidate)
