"""Interpreter vs the ported reference spec corpus (pure Python, no Spark)."""

from __future__ import annotations

import pytest

from yaschva_spark.interp import validate, violations_from_output
from yaschva_spark.schema import SchemaError

from tests.cases_validate import CASES


def _ids():
    return [c[0] for c in CASES]


@pytest.mark.parametrize("case", CASES, ids=_ids())
def test_reference_case(case):
    case_id, schema, data, expect = case[0], case[1], case[2], case[3]
    golden = case[4] if len(case) > 4 else None

    if isinstance(expect, tuple) and expect[0] == "throw":
        with pytest.raises(SchemaError) as exc:
            validate(schema, data)
        if expect[1] is not None:
            assert str(exc.value) == expect[1]
        return

    result = validate(schema, data)
    assert result["result"] == expect, f"{case_id}: {result}"
    if golden is not None:
        assert result["output"] == golden, f"{case_id}: {result['output']}"


def test_violation_rows_flatten_golden_tree():
    schema = {"num": "number", "obj": {"member": "boolean"}}
    result = validate(schema, {"num": "abc", "obj": {}})
    rows = violations_from_output(result["output"])
    by_path = {(r["path"], r["rule"]) for r in rows}
    assert ("$.num", "not_number") in by_path
    assert ("$.obj.member", "not_boolean") in by_path
    assert all(r["error"] for r in rows)


def test_violation_rows_union_branches_same_path():
    result = validate({"b": ["string", "?"]}, {"b": 3})
    rows = violations_from_output(result["output"])
    paths = [r["path"] for r in rows]
    assert paths == ["$.b", "$.b", "$.b"]  # union error + 2 branch errors
    rules = [r["rule"] for r in rows]
    assert rules[0] == "union_mismatch"


def test_pass_has_no_violation_rows():
    result = validate({"a": "number"}, {"a": 1.5})
    assert violations_from_output(result["output"]) == []


def test_violation_paths_survive_array_flattening():
    # the reference output flat()tens nested array outputs (validate.ts:118)
    # which would shift [i] segments; the vtree keeps original positions
    schema = {"$array": [{"$array": "integer"}, "integer"]}
    res = validate(schema, [[1, 2, 3], "x"])
    assert res["result"] == "fail"
    rows = violations_from_output(res["vtree"])
    paths = {r["path"] for r in rows}
    assert any(p.startswith("$[1]") for p in paths), paths
    assert not any(p.startswith("$[3]") for p in paths), paths
    # nested failure: [[1, "x"]] must report $[0][1], not $[1]
    res2 = validate({"$array": {"$array": "integer"}}, [[1, "x"]])
    rows2 = violations_from_output(res2["vtree"])
    assert {r["path"] for r in rows2} == {"$[0][1]"}, rows2
    # reference-exact output is unchanged (still flattened)
    assert isinstance(res2["output"], list) and len(res2["output"]) == 2


def test_enum_members_that_are_not_strings():
    # a string equals only string members (JS indexOf), and the message
    # renders members as JS Array.prototype.join does (null -> empty)
    schema = {"k": {"$enum": ["a", 1, True, None]}}
    assert validate(schema, {"k": "a"})["result"] == "pass"
    for value in ("1", "true", ""):
        res = validate(schema, {"k": value})
        assert res["result"] == "fail"
        assert res["output"]["k"]["error"] == "Value needs to be one of the following: [a, 1, true, ] "
