"""Typed Catalyst path: differential testing against the interpreter.

The interpreter is the executable spec (proven against the reference corpus
in test_interp.py); here the compiled Catalyst expressions must agree with
it on pass/fail and on (path, rule, error) violation rows, over generated
fixtures and targeted mutations.
"""

from __future__ import annotations

import pytest

from yaschva_spark.engine import (
    PASS_COL,
    VIOLATIONS_COL,
    explode_violations,
    validate_table,
)
from yaschva_spark.generate import generate
from yaschva_spark.interp import UNDEFINED, validate as iv, violations_from_output
from yaschva_spark.typed import TypedCompileError, compile_schema, schema_to_spark_type

DIFF_SCHEMA = {
    "name": {"$string": {"minLength": 2, "maxLength": 30}},
    "age": {"$number": {"min": 0, "max": 150}},
    "id": "integer",
    "active": "boolean",
    "nick": ["string", "?"],
    "tags": {"$array": "string", "maxLength": 5},
    "scores": {"$map": "number"},
    "addr": {"city": "string", "zip": {"$string": {"regex": "^[0-9]{5}$"}}},
    "grade": {"$enum": ["a", "b", "c"]},
}


def _rows_for_diff(n=24):
    rows = []
    for seed in range(n):
        value = generate(
            DIFF_SCHEMA,
            seed=seed,
            array_max=4,
            map_max=3,
            max_string_length=8,
            min_number=-1000,
            max_number=1000,
        )
        rows.append(value)
    # targeted mutations — each should flip specific rules
    bad = generate(DIFF_SCHEMA, seed=999, array_max=3, map_max=2, min_number=-5, max_number=5)
    bad["name"] = "x"  # str_too_short
    bad["age"] = 200.0  # num_above_max
    bad["id"] = 2**53  # not_integer (unsafe)
    bad["grade"] = "z"  # enum_mismatch
    bad["addr"] = dict(bad["addr"], zip="12ab5")  # regex_mismatch
    bad["tags"] = ["a", "b", "c", "d", "e", "f"]  # arr_length
    rows.append(bad)
    missing = {k: v for k, v in generate(DIFF_SCHEMA, seed=1000, array_max=2, map_max=2).items() if k not in ("active", "nick")}
    rows.append(missing)  # not_boolean on missing mandatory; nick optional ok
    return rows


def _interp_expected(value):
    res = iv(DIFF_SCHEMA, value)
    rows = violations_from_output(res["output"])
    return res["result"] == "pass", sorted((r["path"], r["rule"], r["error"]) for r in rows)


def test_typed_matches_interpreter(spark):
    from pyspark.sql import types as T

    rows = _rows_for_diff()
    spark_type = schema_to_spark_type(DIFF_SCHEMA)
    # build df — missing keys become NULL (undefined on the typed path);
    # relax nullability for construction only
    def _nullable(dt):
        if isinstance(dt, T.StructType):
            return T.StructType([T.StructField(f.name, _nullable(f.dataType), True) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_nullable(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(dt.keyType, _nullable(dt.valueType), True)
        return dt

    build_type = _nullable(spark_type)
    df = spark.createDataFrame(
        [tuple(r.get(f.name) for f in spark_type.fields) for r in rows], build_type
    )
    validated = validate_table(df, DIFF_SCHEMA).select(
        PASS_COL,
        VIOLATIONS_COL,
    )
    got = validated.collect()
    assert len(got) == len(rows)
    for value, row in zip(rows, got):
        exp_pass, exp_viols = _interp_expected(value)
        got_viols = sorted((v["path"], v["rule"], v["error"]) for v in row[VIOLATIONS_COL])
        assert row[PASS_COL] == exp_pass, (value, got_viols, exp_viols)
        assert got_viols == exp_viols, (value, got_viols, exp_viols)


def test_extra_column_is_extra_key(spark):
    df = spark.createDataFrame([(1, "x")], "a long, surprise string")
    validated = validate_table(df, {"a": "integer"})
    out = explode_violations(validated, ["a"]).collect()
    assert len(out) == 1
    assert out[0]["path"] == "$.surprise"
    assert out[0]["rule"] == "extra_key"
    assert out[0]["error"] == "Key does not exist on validator"


def test_ignore_columns_exempt_from_closed_world(spark):
    df = spark.createDataFrame([(1, "x")], "a long, meta string")
    validated = validate_table(df, {"a": "integer"}, ignore_columns=("meta",))
    assert validated.filter(~validated[PASS_COL]).count() == 0


def test_null_vs_undefined_documented_deviation(spark):
    """Typed path: SQL NULL satisfies both '?' and 'null' (SURVEY §7.4)."""
    df = spark.createDataFrame([(None,)], "x string")
    assert validate_table(df, {"x": "null"}).collect()[0][PASS_COL] is True
    assert validate_table(df, {"x": ["string", "?"]}).collect()[0][PASS_COL] is True
    assert validate_table(df, {"x": "string"}).collect()[0][PASS_COL] is False


def test_union_error_accumulation_order(spark):
    df = spark.createDataFrame([(True,)], "b boolean")
    validated = validate_table(df, {"b": ["string", "number"]})
    viols = validated.collect()[0][VIOLATIONS_COL]
    assert [v["rule"] for v in viols] == ["union_mismatch", "not_string", "not_number"]
    assert all(v["path"] == "$.b" for v in viols)


def test_custom_types_and_dollar_escape(spark):
    schema = {
        "$types": {"$range": {"$number": {"min": 1, "max": 99}}},
        "b": "$range",
        "\\$weird": "string",
    }
    df = spark.createDataFrame([(43.0, "ok"), (101.0, "ok")], "b double, `$weird` string")
    got = validate_table(df, schema).select(PASS_COL).collect()
    assert [r[PASS_COL] for r in got] == [True, False]


def test_recursion_unrolls_to_struct_depth(spark):
    """Recursive $types terminate naturally at the struct type's own depth —
    beyond it the value is statically undefined, which composite validators
    reject without recursing (same as the reference on undefined)."""
    schema = {
        "$types": {"$tree": {"value": "string", "left": ["?", "$tree"]}},
        "root": "$tree",
    }
    df = spark.createDataFrame(
        [({"value": "a", "left": {"value": "b"}},), ({"value": "a", "left": {"value": None}},)],
        "root struct<value:string, left:struct<value:string>>",
    )
    got = [r[PASS_COL] for r in validate_table(df, schema).collect()]
    assert got == [True, False]  # second row: inner value undefined -> not a string


def _tree_type(depth):
    """``root``: a struct ``{value, left}`` nested ``depth`` levels."""
    from pyspark.sql import types as T

    t = T.StructType([T.StructField("value", T.StringType())])
    for _ in range(depth - 1):
        t = T.StructType([T.StructField("value", T.StringType()), T.StructField("left", t)])
    return T.StructType([T.StructField("root", t)])


def test_recursive_union_text_is_linear_in_depth(spark):
    """A union binds its branch arrays once, so a recursive ``$types``
    union compiles to text linear in the struct depth it unrolls to (with
    each branch spelled twice it doubled per level: 28k chars at depth 4,
    625k at depth 8), and the nested unions still accumulate the
    interpreter's violations at every level."""
    schema = {
        "$types": {"$tree": {"value": "string", "left": ["?", "$tree"]}},
        "root": "$tree",
    }
    n4, n8 = (len(compile_schema(schema, _tree_type(d))) for d in (4, 8))
    assert n8 < 4 * n4, (n4, n8)

    def chain(depth, leaf):  # leaf None: the deepest value is undefined
        node = {} if leaf is None else {"value": leaf}
        for i in range(depth - 1):
            node = {"value": f"v{i}", "left": node}
        return node

    values = [chain(8, "z"), chain(8, None), chain(5, None), chain(1, None)]
    df = spark.createDataFrame([(v,) for v in values], _tree_type(8))
    for value, row in zip(values, validate_table(df, schema).collect()):
        res = iv(schema, {"root": value})
        want = sorted((r["path"], r["rule"], r["error"]) for r in violations_from_output(res["output"]))
        got = sorted((v["path"], v["rule"], v["error"]) for v in row[VIOLATIONS_COL])
        assert row[PASS_COL] == (res["result"] == "pass") and got == want, value


def test_alias_chain_beyond_budget_falls_back(spark):
    env = {f"$t{i}": f"$t{i+1}" for i in range(40)}
    env["$t40"] = "string"
    schema = {"$types": env, "root": "$t0"}
    df = spark.createDataFrame([("x",)], "root string")
    with pytest.raises(TypedCompileError):
        validate_table(df, schema)


def test_schema_to_spark_type_erasures():
    st = schema_to_spark_type(DIFF_SCHEMA)
    by_name = {f.name: f for f in st.fields}
    assert by_name["id"].dataType.simpleString() == "bigint"
    assert by_name["age"].dataType.simpleString() == "double"
    assert by_name["nick"].nullable is True
    assert by_name["name"].nullable is False
    assert by_name["tags"].dataType.simpleString() == "array<string>"
    assert by_name["scores"].dataType.simpleString() == "map<string,double>"
    assert by_name["addr"].dataType.simpleString() == "struct<city:string,zip:string>"


def test_whole_stage_codegen_plan(spark):
    """The typed path must stay inside whole-stage codegen — no Python, no
    shuffle for per-row validation."""
    df = spark.range(10).selectExpr("cast(id as long) a")
    validated = validate_table(df, {"a": "integer"})
    plan = validated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # validation is shuffle-free
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decimal_integer_integrality(spark):
    from decimal import Decimal

    df = spark.createDataFrame(
        [(1, Decimal("1.50")), (2, Decimal("2.00")), (3, None)],
        "id long, x decimal(10,2)",
    )
    out = validate_table(df, {"id": "integer", "x": "integer"})
    got = {r["id"]: r["yv_valid"] for r in out.collect()}
    # 1.50 is NOT an integer; 2.00 is; NULL (undefined) is not
    assert got == {1: False, 2: True, 3: False}


def test_root_column_with_dot_in_name(spark):
    df = spark.createDataFrame([("a", 1), (None, 2)], "`user.name` string, n long")
    out = validate_table(df, {"user.name": "string", "n": "integer"})
    got = {r["n"]: r["yv_valid"] for r in out.collect()}
    assert got == {1: True, 2: False}


def test_astral_string_length_is_utf16(spark):
    import json

    from yaschva_spark.engine import validate_json_table
    from yaschva_spark.interp import validate as iv

    # one emoji = 2 UTF-16 code units (JS .length): maxLength 1 fails it
    schema = {"id": "integer", "x": {"$string": {"minLength": 1, "maxLength": 1}}}
    assert iv(schema, {"id": 1, "x": "\U0001F600"})["result"] == "fail"
    assert iv(schema, {"id": 1, "x": "a"})["result"] == "pass"
    df = spark.createDataFrame([(1, "\U0001F600"), (2, "a")], "id long, x string")
    got = {r["id"]: r["yv_valid"] for r in validate_table(df, schema).collect()}
    assert got == {1: False, 2: True}
    # and minLength 2 PASSES the single emoji — on both hybrid paths
    schema2 = {"x": {"$string": {"minLength": 2}}}
    row = json.dumps({"x": "\U0001F600"}, ensure_ascii=False)
    df2 = spark.createDataFrame([(1, row)], "id long, js string")
    a = validate_json_table(df2, schema2, "js", screen=True).collect()[0]["yv_valid"]
    b = validate_json_table(df2, schema2, "js", screen=False).collect()[0]["yv_valid"]
    assert a is True and b is True


def test_enum_members_that_are_not_strings(spark):
    schema = {"k": {"$enum": ["a", 1, True, None]}}
    df = spark.createDataFrame([(1, "a"), (2, "1"), (3, "true")], "id long, k string")
    got = {r["id"]: r for r in validate_table(df, schema, ignore_columns=("id",)).collect()}
    assert got[1][PASS_COL] is True
    for i in (2, 3):
        assert got[i][PASS_COL] is False
        assert [(v["rule"], v["error"]) for v in got[i][VIOLATIONS_COL]] == [
            ("enum_mismatch", "Value needs to be one of the following: [a, 1, true, ] ")
        ]


def test_nested_lambda_paths_keep_the_outer_index(spark):
    """An inner transform must not shadow the outer index that its
    violation paths still use."""
    schema = {"a": {"$array": {"$array": "integer"}}, "m": {"$array": {"$map": "integer"}}}
    value = {"a": [[1], [2, 3, None]], "m": [{"k": 1}, {"j": None}]}
    df = spark.createDataFrame([(value["a"], value["m"])], "a array<array<long>>, m array<map<string,long>>")
    got = [v["path"] for v in validate_table(df, schema).collect()[0][VIOLATIONS_COL]]
    res = iv(schema, value)
    assert got == [r["path"] for r in violations_from_output(res["vtree"])] == ["$.a[1][2]", "$.m[1].j"]
