"""Hybrid dynamic path: the VARIANT pass-screen must be SOUND (never claim
pass on a row the interpreter fails) and the hybrid output bit-identical
to pure interpretation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from yaschva_spark.engine import validate_json_table
from yaschva_spark.interp import validate as interp_validate
from yaschva_spark.jsonscreen import ScreenNotApplicable, compile_screens, select_levels

PROPS_SCHEMA = {"k": {"$number": {"min": 0, "max": 50}}}

TRICKY = [
    '{"k": 5}', '{"k": 0}', '{"k": 50}', '{"k": 50.0001}', '{"k": -1}',
    '{"k": 5.5}', '{"k": null}', '{}', '{"k": "5"}', '{"k": true}',
    '{"k": 5, "j": 1}', '[1]', '"k"', 'null',
    '{"k": 9007199254740993}',          # > 2^53: double rounds, interp exact
    '{"k": 1e20}', '{"k": 1e400}',      # overflow to inf in JS
    '{"k": 4.9e-324}', '{"k": 0.1}',
    "__undefined__",
]


def _screened(df, schema, col="js"):
    """The screen columns as production evaluates them: the staged levels
    selected in order (engine.validate_json_table), then the outputs."""
    levels, screens = compile_screens(schema, F.col(col))
    return select_levels(df, levels), screens


#: nodes carrying several type tags: the reference dispatch order picks
#: $number over $string, $array over $enum and $map over $string
MULTI_TAG_SCHEMAS = [
    {"x": {"$number": {"min": 0}, "$string": {}}},
    {"x": {"$array": "string", "$enum": ["a"]}},
    {"x": {"$map": "string", "$string": {}}},
]
MULTI_TAG_ROWS = ['{"x": "abc"}', '{"x": "a"}']


def _interp_result(schema, raw):
    from yaschva_spark.interp import UNDEFINED

    value = UNDEFINED if raw is None or raw == "__undefined__" else json.loads(raw)
    return interp_validate(schema, value)


NESTED_TRICKY = [
    '{"k": {"a": 1}}', '{"k": {"a": 1.5}}', '{"k": {"a": 1, "b": 2}}',
    '{"k": {"b": 1}}', '{"k": {}}', '{"k": [1, 2]}', '{"k": []}',
    '{"k": [1, "x"]}', '{"k": [null]}', '{"k": [[1]]}', '{"k": [9007199254740993]}',
    '{"k": {"a": null}}', '{"k": {"a": {"deep": 1}}}',
    '{"k": {"x": "v", "y": "w"}}', '{"k": {"x": 1, "y": "w"}}',
    '{"k": {"weird key!": "v"}}', '{"k": {"q\\"uote": "v"}}',
    '{"k": {"\\u00e9": "v"}}',
    # keys ending in a line terminator: Java rlike '$' matches BEFORE a
    # trailing terminator, so a '$'-anchored map-key guard would prove
    # these rows and emit a raw newline into yv_output (invalid JSON,
    # diverging from the interpreter's "a\\n"). Must screen false.
    '{"k": {"a\\n": 1}}', '{"k": {"a\\r": "v"}}',
    '{"k": {"a\\u0085": 1}}', '{"k": {"a\\u2028": "v"}}',
    '{"k": {"a\\u2029": 1}}',
]


@pytest.mark.parametrize("schema", [
    PROPS_SCHEMA,
    {"k": "integer"},
    {"k": ["?", "string"]},
    {"k": {"$enum": ["a", "b"]}, "s": {"$string": {"minLength": 2, "regex": "^x"}}},
    {"k": ["null", {"$number": {"min": 1}}]},
    "number",
    ["?", "boolean"],
    # nested fragment (new r3): objects, $array, $map, $and, inlined $types
    {"k": {"a": "integer", "b": ["?", "string"]}},
    {"k": {"$array": "number"}},
    {"k": {"$array": ["?", "integer"], "minLength": 1, "maxLength": 3}},
    {"k": {"$map": "string"}},
    {"k": {"$map": ["number", "string"], "regex": "^[a-z]+$", "minLength": 1}},
    {"k": {"$and": [{"a": "number"}, {"b": ["?", "boolean"]}]}},
    {"$types": {"$pt": {"a": "number"}}, "k": ["?", "$pt"]},
    {"k": {"a": {"deep": ["?", "number"]}}},
    *MULTI_TAG_SCHEMAS,
])
def test_screen_soundness(spark, schema):
    rows = [(i, t) for i, t in enumerate(TRICKY + NESTED_TRICKY)]
    rows += [(100 + i, json.dumps({"k": v})) for i, v in enumerate(
        [1, 2**53 - 1, 2**53 + 1, -(2**60), 0.5, "a", "b", "x", None, [1], {"z": 1}])]
    rows += [(200, '{"s": "xab", "k": "a"}'), (201, '{"s": "ab", "k": "a"}')]
    rows += [(300 + i, t) for i, t in enumerate(MULTI_TAG_ROWS)]
    df = spark.createDataFrame(rows, "id long, js string")
    staged, screens = _screened(df, schema)
    screened = staged.select("id", "js", screens["pass"].alias("p")).collect()
    for r in screened:
        if r["p"]:
            assert _interp_result(schema, r["js"])["result"] == "pass", r["js"]


@pytest.mark.parametrize("schema", [
    PROPS_SCHEMA,
    {"k": ["?", "string", {"$number": {"max": 10}}]},
    # nested fragment: the hybrid output (JVM-built for proven rows) must be
    # byte-identical to the interpreter's, including data-order object keys
    {"k": {"a": "integer", "b": ["?", "string"]}},
    {"k": {"$array": ["?", "number"]}},
    {"k": {"$map": "number", "minLength": 1}},
    {"$types": {"$pt": {"a": "number"}}, "k": ["?", "$pt"]},
    *MULTI_TAG_SCHEMAS,
])
def test_hybrid_output_identical(spark, schema):
    rows = [(i, t) for i, t in enumerate(TRICKY + NESTED_TRICKY + MULTI_TAG_ROWS)]
    df = spark.createDataFrame(rows, "id long, js string")
    cols = ["id", "yv_valid", "yv_violations", "yv_output"]
    a = sorted(map(repr, validate_json_table(df, schema, "js", screen=True).select(cols).collect()))
    b = sorted(map(repr, validate_json_table(df, schema, "js", screen=False).select(cols).collect()))
    assert a == b


def test_hybrid_on_events_table(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select("event_id", "props")
    cols = ["event_id", "yv_valid", "yv_violations", "yv_output"]
    a = sorted(map(repr, validate_json_table(events, PROPS_SCHEMA, "props", screen=True).select(cols).collect()))
    b = sorted(map(repr, validate_json_table(events, PROPS_SCHEMA, "props", screen=False).select(cols).collect()))
    assert a == b
    # sanity: the screen actually proves the majority JVM-side
    staged, screens = _screened(events, PROPS_SCHEMA, "props")
    frac = staged.select(screens["pass"].alias("p")) \
        .agg(F.avg(F.col("p").cast("double"))).collect()[0][0]
    assert frac > 0.5, frac


def test_not_applicable_shapes():
    for schema in [
        {"a.b": "number"},                          # key outside the JSONPath allowlist
        {"k": "customT"},                           # undefined custom type
        # directly recursive custom type (depth guard); note a recursion
        # *inside a union tail* is absorbed as a shorter prefix instead
        {"$types": {"$n": {"next": "$n"}}, "k": "$n"},
        # array element with composite output needs per-element text
        {"k": {"$array": {"a": "number"}}},
        # $map below a dynamic position has no literal text path
        {"k": {"$array": {"$map": "string"}}},
        # ECMA-only regex (untranslatable Unicode property) stays interpreted
        {"k": {"$string": {"regex": "\\p{Script=Greek}"}}},
        # schema key ending in a line terminator: re '$' would match before
        # the trailing '\n' and embed it verbatim in JSONPath/output text
        {"abc\n": "number"},
        {"abc\r": ["?", "string"]},
    ]:
        with pytest.raises(ScreenNotApplicable):
            compile_screens(schema, F.lit('{"k": 1}'))


def test_kitchen_sink_schema_screens(spark):
    # VERDICT r2 #2 done-criterion: the nested corpus schema screens, and the
    # screen actually proves the good document JVM-side
    from tests.cases_validate import KITCHEN_SINK_GOOD, KITCHEN_SINK_SCHEMA

    df = spark.createDataFrame(
        [(1, json.dumps(KITCHEN_SINK_GOOD)),
         (2, json.dumps({**KITCHEN_SINK_GOOD, "grade": "bronze"})),
         (3, json.dumps({**KITCHEN_SINK_GOOD, "extra": 1}))],
        "id long, js string",
    )
    staged, screens = _screened(df, KITCHEN_SINK_SCHEMA)
    rows = {r["id"]: r["p"] for r in staged.select("id", screens["pass"].alias("p")).collect()}
    assert rows[1] is True          # proven without touching Python
    assert not rows[2] and not rows[3]
    # and the split plan's JVM-built output equals the interpreter's
    cols = ["id", "yv_valid", "yv_violations", "yv_output"]
    a = sorted(map(repr, validate_json_table(df, KITCHEN_SINK_SCHEMA, "js", screen=True).select(cols).collect()))
    b = sorted(map(repr, validate_json_table(df, KITCHEN_SINK_SCHEMA, "js", screen=False).select(cols).collect()))
    assert a == b


def test_union_prefix_order(spark):
    # the when-chain may only replicate first-passing-branch output while
    # every earlier branch's screen is exact — a non-exact or unscreenable
    # early branch truncates the prefix, and rows passing via later branches
    # must fall through to the interpreter (never emit the wrong branch's
    # output). Regression for the rewrite's covered_all flag.
    for schema in [
        {"k": [{"$number": {"min": 1}}, "any"]},       # branch 0 non-exact
        {"k": [{"a": "number"}, "any"]},               # branch 0 object (non-exact)
        # branch 0 unscreenable (recursive custom type) -> empty prefix ->
        # whole schema falls back to full interpretation
        {"$types": {"$n": {"next": ["?", "$n"], "v": "number"}},
         "k": [{"a": "$n"}, "any"]},
    ]:
        rows = [(1, '{"k": 0}'), (2, '{"k": 2}'), (3, '{"k": "zz"}'),
                (4, '{"k": {"a": 1}}'), (5, '{"k": null}'), (6, '{}')]
        df = spark.createDataFrame(rows, "id long, js string")
        a = {r["id"]: (r["yv_valid"], r["yv_output"])
             for r in validate_json_table(df, schema, "js", screen=True).collect()}
        b = {r["id"]: (r["yv_valid"], r["yv_output"])
             for r in validate_json_table(df, schema, "js", screen=False).collect()}
        assert a == b, schema


def _rand_fragment_schema(rng):
    """Random schema inside the screenable fragment (nested since r3)."""
    def leaf():
        k = rng.randrange(7)
        if k == 0:
            return rng.choice(["string", "number", "integer", "boolean", "null", "any", "?"])
        if k == 1:
            spec = {}
            if rng.random() < 0.7:
                spec["minLength"] = rng.randrange(0, 4)
            if rng.random() < 0.7:
                spec["maxLength"] = rng.randrange(4, 10)
            if rng.random() < 0.4:
                spec["regex"] = rng.choice(["^[a-z]+$", "[0-9]", "^x"])
            return {"$string": spec}
        if k == 2:
            spec = {}
            if rng.random() < 0.8:
                spec["min"] = rng.randrange(-50, 0)
            if rng.random() < 0.8:
                spec["max"] = rng.randrange(0, 50)
            return {"$number": spec}
        if k == 3:
            return {"$enum": rng.sample(["a", "b", "c", "dd"], rng.randrange(1, 4))}
        if k == 4:
            return ["?", leaf_nonunion()]
        if k == 5:
            return [leaf_nonunion(), leaf_nonunion()]
        return "integer"

    def leaf_nonunion():
        while True:
            x = leaf()
            if not isinstance(x, list):
                return x

    def node(depth):
        if depth > 0:
            k = rng.randrange(6)
            if k == 0:
                return {f"g{i}": node(depth - 1) for i in range(rng.randrange(0, 3))}
            if k == 1:
                spec = {"$array": leaf()}
                if rng.random() < 0.4:
                    spec["minLength"] = rng.randrange(0, 2)
                if rng.random() < 0.4:
                    spec["maxLength"] = rng.randrange(2, 5)
                return spec
            if k == 2:
                spec = {"$map": leaf()}
                if rng.random() < 0.3:
                    spec["regex"] = "^[a-u]+$"
                return spec
        return leaf()

    return {f"f{i}": node(rng.randrange(0, 3)) for i in range(rng.randrange(1, 4))}


def _rand_json_value(rng, depth=1):
    k = rng.randrange(11 if depth > 0 else 9)
    if k == 0:
        return rng.randrange(-60, 60)
    if k == 1:
        return rng.uniform(-60, 60)
    if k == 2:
        return rng.choice(["a", "b", "c", "dd", "xyz", "", "xabc", "12345678901"])
    if k == 3:
        return rng.choice([True, False])
    if k == 4:
        return None
    if k == 5:
        return 2**53 + rng.randrange(10)
    if k == 6:
        return [1, 2]
    if k == 7:
        return {"z": 1}
    if k == 8:
        return rng.uniform(-1e21, 1e21)
    if k == 9:
        return [_rand_json_value(rng, depth - 1) for _ in range(rng.randrange(0, 4))]
    keys = ["g0", "g1", "g2", "a", "zz", "weird key", "é"]
    return {rng.choice(keys): _rand_json_value(rng, depth - 1)
            for _ in range(rng.randrange(0, 4))}


@pytest.mark.parametrize("seed", range(8))
def test_screen_soundness_fuzz(spark, seed):
    import random

    rng = random.Random(seed)
    schema = _rand_fragment_schema(rng)
    keys = list(schema)
    rows = []
    for i in range(60):
        doc = {}
        for key in keys:
            r = rng.random()
            if r < 0.15:
                continue  # missing
            doc[key] = _rand_json_value(rng, depth=2)
        if rng.random() < 0.1:
            doc["extra"] = 1
        rows.append((i, json.dumps(doc)))
    df = spark.createDataFrame(rows, "id long, js string")
    try:
        staged, screens = _screened(df, schema)
    except ScreenNotApplicable:
        return
    for r in staged.select("id", "js", screens["pass"].alias("p")).collect():
        if r["p"]:
            res = _interp_result(schema, r["js"])
            assert res["result"] == "pass", (seed, r["js"], schema)
    # and the hybrid output equals pure interpretation
    cols = ["id", "yv_valid", "yv_violations", "yv_output"]
    a = sorted(map(repr, validate_json_table(df, schema, "js", screen=True).select(cols).collect()))
    b = sorted(map(repr, validate_json_table(df, schema, "js", screen=False).select(cols).collect()))
    assert a == b, (seed, schema)


def test_hybrid_output_key_order_identical(spark):
    # a passing row whose JSON key order differs from schema order (or
    # with a missing early optional key) must produce byte-identical
    # yv_output on both paths: the interpreter emits DATA order first,
    # then missing declared keys in schema order
    schema = {"f0": ["?", "boolean"], "f1": "string", "f2": ["?", "number"]}
    rows = [
        (1, '{"f1": "x"}'),                     # f0, f2 missing (optional)
        (2, '{"f2": 1, "f1": "x"}'),            # reversed data order
        (3, '{"f1": "x", "f0": true, "f2": 2}'),
        (4, '{"f2": 3, "f0": false, "f1": "y"}'),
        (5, '{"f1": "a", "f1": "b"}'),          # duplicate key: both paths must agree
        (6, '{"f1": 7}'),                       # failing row for contrast
    ]
    df = spark.createDataFrame(rows, "id long, js string")
    a = {r["id"]: r["yv_output"]
         for r in validate_json_table(df, schema, "js", screen=True).collect()}
    b = {r["id"]: r["yv_output"]
         for r in validate_json_table(df, schema, "js", screen=False).collect()}
    assert a == b
    assert a[2] == '{"f2":null,"f1":null,"f0":null}'  # data order, then missing


# --- r5 fail screen -------------------------------------------------------------
FAIL_SCREEN_SCHEMA = {
    "lang": {"$enum": ["en", "de"]},
    "n": {"$number": {"min": 0, "max": 10}},
    "name": {"$string": {"minLength": 2, "maxLength": 4}},
    "flag": "boolean",
    "cnt": "integer",
    "note": ["?", "string"],
}

FAIL_ROWS = [
    # (id, json, expect_jvm_emitted) — expect_jvm_emitted pins which rows the
    # fail screen must decide WITHOUT the interpreter (pass or fail); False
    # rows must fall to the interpreter (undecidable or unrenderable), and
    # EVERY row must be byte-identical to screen=False either way.
    (0, '{"lang": "en", "n": 5, "name": "abc", "flag": true, "cnt": 1}', True),
    (1, '{"lang": "zz", "n": 5, "name": "abc", "flag": true, "cnt": 1}', True),   # enum_mismatch
    (2, '{"lang": 7, "n": 5, "name": "abc", "flag": true, "cnt": 1}', True),      # not_string, int value renders
    (3, '{"lang": null, "n": 5, "name": "abc", "flag": true, "cnt": 1}', True),   # not_string, null value
    (4, '{"n": 5, "name": "abc", "flag": true, "cnt": 1}', True),                 # missing -> "__undefined__"
    (5, '{"lang": "en", "n": -3, "name": "abc", "flag": true, "cnt": 1}', True),  # below min
    (6, '{"lang": "en", "n": 99, "name": "abc", "flag": true, "cnt": 1}', True),  # above max
    (7, '{"lang": "en", "n": "x", "name": "abc", "flag": true, "cnt": 1}', True), # not_number
    (8, '{"lang": "en", "n": 5, "name": "a", "flag": true, "cnt": 1}', True),     # too short
    (9, '{"lang": "en", "n": 5, "name": "abcde", "flag": true, "cnt": 1}', True), # too long
    (10, '{"lang": "en", "n": 5, "name": "abc", "flag": 3, "cnt": 1}', True),     # not_boolean
    # not_integer with a DOUBLE offending value: the error is decidable but
    # the value's Python-repr rendering is not -> interpreter
    (11, '{"lang": "en", "n": 5, "name": "abc", "flag": true, "cnt": 1.5}', False),
    (12, '{"lang": "en", "n": 5, "name": "abc", "flag": true, "cnt": 9007199254740993}', True),  # > 2^53, i64 renders
    (13, '{"lang": "en", "n": 5, "name": "abc", "flag": true, "cnt": 1, "extra": 1}', False),    # extra key -> interp
    (14, '[1, 2]', False),                                                        # non-object root -> interp
    (15, '{"lang": "q\\"z", "n": 5, "name": "abc", "flag": true, "cnt": 1}', False),  # value needs escaping
    (16, '{"lang": "\\u00e9", "n": 5, "name": "abc", "flag": true, "cnt": 1}', False),  # non-ASCII value
    (17, '{"lang": "en", "n": 5.5, "name": "abc", "flag": true, "cnt": 1}', True),  # passing DOUBLE in bounds
    (18, '{"lang": "en", "n": -5.5, "name": "abc", "flag": true, "cnt": 1}', False),  # failing DOUBLE: repr render -> interp
    (19, '{"lang": "en", "n": 9007199254740993, "name": "abc", "flag": true, "cnt": 1}', False),  # bound compare undecidable
    (20, '{"lang": ["x"], "n": 5, "name": "abc", "flag": true, "cnt": 1}', False),  # composite offending value
    (21, '{"lang": "zz", "n": 99, "name": "a", "flag": 0, "cnt": "x"}', True),    # every field failing at once
    # union failure over exact leaf branches: compilable since r5 —
    # UNION_MISMATCH + per-branch errors at the same path
    (22, '{"note": 4, "lang": "en", "n": 5, "name": "abc", "flag": true, "cnt": 1}', True),
    (23, '{"lang": "en", "n": 5, "name": "abc", "flag": true, "cnt": 1, "note": "ok"}', True),  # union passing branch
    # union failure with an UNRENDERABLE offending value -> interp
    (24, '{"note": 1.5, "lang": "en", "n": 5, "name": "abc", "flag": true, "cnt": 1}', False),
]


def test_fail_screen_byte_exact_and_emission_boundary(spark):
    """The r5 fail screen: provably-failing rows are emitted JVM-side with
    the interpreter's EXACT (path, rule, error, value) violations and
    yv_output; undecidable/unrenderable rows still fall to the interpreter.
    Both the byte-exactness and the emission boundary itself are pinned."""
    df = spark.createDataFrame([(i, t) for i, t, _ in FAIL_ROWS], "id long, js string")
    cols = ["id", "yv_valid", "yv_violations", "yv_output"]
    a = {r["id"]: repr(r) for r in
         validate_json_table(df, FAIL_SCREEN_SCHEMA, "js", screen=True).select(cols).collect()}
    b = {r["id"]: repr(r) for r in
         validate_json_table(df, FAIL_SCREEN_SCHEMA, "js", screen=False).select(cols).collect()}
    assert a == b
    staged, scr = _screened(df, FAIL_SCREEN_SCHEMA)
    emitted = {r["id"]: r["e"] for r in staged.select("id", scr["emit"].alias("e")).collect()}
    for i, _, expect in FAIL_ROWS:
        assert emitted[i] == expect, (i, emitted[i])


def test_fail_screen_violation_rows_exact(spark):
    """Spot-pin the JVM-emitted violation rows against the interpreter's
    literal values (path / rule / exact error string incl. the enum
    trailing space / offending-value JSON in data-key order)."""
    raw = '{"lang": "zz", "n": 99, "name": "a", "flag": 0, "cnt": "x"}'
    df = spark.createDataFrame([(21, raw)], "id long, js string")
    # this row must be decided by the fail screen, not the interpreter
    staged, scr = _screened(df, FAIL_SCREEN_SCHEMA)
    assert staged.select(scr["emit"]).collect()[0][0]
    out = validate_json_table(df, FAIL_SCREEN_SCHEMA, "js", screen=True).collect()[0]
    assert out["yv_valid"] is False
    got = [(v["path"], v["rule"], v["error"], v["value"]) for v in out["yv_violations"]]
    assert got == [
        ("$.lang", "enum_mismatch", "Value needs to be one of the following: [en, de] ", '"zz"'),
        ("$.n", "num_above_max", "Value is bigger than the required maximum", "99"),
        ("$.name", "str_too_short", "String is shorter than the required minimum length", '"a"'),
        ("$.flag", "not_boolean", "Value is not a boolean", "0"),
        ("$.cnt", "not_integer", "Value is not an integer ", '"x"'),
    ]
    # and the JVM-built failing yv_output is the interpreter's, byte for byte
    b = validate_json_table(df, FAIL_SCREEN_SCHEMA, "js", screen=False).collect()[0]
    assert out["yv_output"] == b["yv_output"]


def test_fail_screen_union_rows_exact(spark):
    """Union total failure, JVM-emitted: one union_mismatch row plus each
    branch's error at the SAME path (violations_from_output's branch list),
    and yv_output nesting every branch's error object in order."""
    schema = {"v": ["?", "null", "integer"]}
    df = spark.createDataFrame([(1, '{"v": "oops"}')], "id long, js string")
    staged, scr = _screened(df, schema)
    assert staged.select(scr["emit"]).collect()[0][0]
    out = validate_json_table(df, schema, "js", screen=True).collect()[0]
    assert out["yv_valid"] is False
    got = [(v["path"], v["rule"], v["error"], v["value"]) for v in out["yv_violations"]]
    assert got == [
        ("$.v", "union_mismatch", "Did not match any from the listed types", '"oops"'),
        ("$.v", "not_undefined", "Value is not undefined", '"oops"'),
        ("$.v", "not_null", "Value is not null", '"oops"'),
        ("$.v", "not_integer", "Value is not an integer ", '"oops"'),
    ]
    b = validate_json_table(df, schema, "js", screen=False).collect()[0]
    assert out["yv_output"] == b["yv_output"]
    # a union containing a bounded $number branch (compile-time non-exact)
    # must NOT fail-compile: ~cond does not imply interpreter-fail there
    bounded = {"v": ["?", {"$number": {"min": 0, "max": 5}}]}
    staged, scr = _screened(df, bounded)
    row = staged.select(scr["emit"]).collect()[0][0]
    assert row is False or row == False  # noqa: E712 — fail not emittable


def test_fail_screen_array_rows_exact(spark):
    """Array fail emission: length failures (offending value = element
    count) and per-element leaf failures with [i] paths; unrenderable
    element values, nested-array elements (flat() splicing), and
    NOT_ARRAY all stay interpreter-bound."""
    schema = {"xs": {"$array": "integer", "minLength": 1, "maxLength": 3}}
    rows = [
        (0, '{"xs": [1, 2]}', True),       # pass
        (1, '{"xs": [1, "a", 3]}', True),  # element fail at [1]
        (2, '{"xs": []}', True),           # too short: value is the count
        (3, '{"xs": [1, 2, 3, 4]}', True), # too long
        (4, '{"xs": [1.5]}', False),       # DOUBLE offending value -> interp
        (5, '{"xs": [[1]]}', False),       # nested array: flat() splices -> interp
        (6, '{"xs": 5}', False),           # NOT_ARRAY: whole payload value -> interp
        (7, '{"xs": [null, true]}', True), # null + bool elements render exactly
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows], "id long, js string")
    staged, scr = _screened(df, schema)
    emitted = {r["id"]: r["e"] for r in staged.select("id", scr["emit"].alias("e")).collect()}
    for i, _, expect in rows:
        assert emitted[i] == expect, (i, emitted[i])
    cols = ["id", "yv_valid", "yv_violations", "yv_output"]
    a = {r["id"]: repr(r) for r in
         validate_json_table(df, schema, "js", screen=True).select(cols).collect()}
    b = {r["id"]: repr(r) for r in
         validate_json_table(df, schema, "js", screen=False).select(cols).collect()}
    assert a == b
    got = {r["id"]: r for r in validate_json_table(df, schema, "js", screen=True).collect()}
    v1 = [(v["path"], v["rule"], v["error"], v["value"]) for v in got[1]["yv_violations"]]
    assert v1 == [("$.xs[1]", "not_integer", "Value is not an integer ", '"a"')]
    v2 = [(v["path"], v["rule"], v["error"], v["value"]) for v in got[2]["yv_violations"]]
    assert v2 == [("$.xs", "arr_length", "Array length needs to be between 1 - 3", "0")]
    v7 = [(v["path"], v["rule"], v["error"], v["value"]) for v in got[7]["yv_violations"]]
    assert v7 == [
        ("$.xs[0]", "not_integer", "Value is not an integer ", "null"),
        ("$.xs[1]", "not_integer", "Value is not an integer ", "true"),
    ]


def test_fail_screen_map_rows_exact(spark):
    """$map value-failure emission: per-key rows at $.path.<key> in
    data-key order; structural failures (size bounds, key regex, non-
    object) report the whole map as the value and stay interpreter-bound."""
    schema = {"m": {"$map": "integer", "minLength": 1, "regex": "^[a-z]+$"}}
    rows = [
        (0, '{"m": {"a": 1, "b": 2}}', True),         # pass
        (1, '{"m": {"zz": 1, "a": "x", "b": 2}}', True),  # value fail at $.m.a
        (2, '{"m": {}}', False),                      # size-bound fail -> interp
        (3, '{"m": {"UPPER": 1}}', False),            # key-regex fail -> interp
        (4, '{"m": 3}', False),                       # not an object -> interp
        (5, '{"m": {"a": 1.5}}', False),              # DOUBLE offending value -> interp
        (6, '{"m": {"b": null, "a": true}}', True),   # both values fail, data order
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows], "id long, js string")
    staged, scr = _screened(df, schema)
    emitted = {r["id"]: r["e"] for r in staged.select("id", scr["emit"].alias("e")).collect()}
    for i, _, expect in rows:
        assert emitted[i] == expect, (i, emitted[i])
    cols = ["id", "yv_valid", "yv_violations", "yv_output"]
    a = {r["id"]: repr(r) for r in
         validate_json_table(df, schema, "js", screen=True).select(cols).collect()}
    b = {r["id"]: repr(r) for r in
         validate_json_table(df, schema, "js", screen=False).select(cols).collect()}
    assert a == b
    got = {r["id"]: r for r in validate_json_table(df, schema, "js", screen=True).collect()}
    v1 = [(v["path"], v["rule"], v["error"], v["value"]) for v in got[1]["yv_violations"]]
    assert v1 == [("$.m.a", "not_integer", "Value is not an integer ", '"x"')]
    v6 = [(v["path"], v["rule"], v["error"], v["value"]) for v in got[6]["yv_violations"]]
    assert v6 == [
        ("$.m.b", "not_integer", "Value is not an integer ", "null"),
        ("$.m.a", "not_integer", "Value is not an integer ", "true"),
    ]


#: (schema, [(json, expect_emit)]) — the emission boundary at composite
#: nodes: array and map fail sides need an exact, fail-compiled leaf
#: element/value, and a union fail side needs every branch to be one
EMISSION_BOUNDARY = [
    ({"xs": {"$array": ["?", "integer"]}},
     [('{"xs":[1]}', True), ('{"xs":["a"]}', False), ('{"xs":[null]}', False)]),
    ({"m": {"$map": ["null", "integer"]}}, [('{"m":{"a":"x"}}', False)]),
    ({"v": ["integer", {"$array": "integer"}]}, [('{"v":"x"}', False)]),
    ({"v": ["integer", "string"]}, [('{"v":true}', True)]),
]


@pytest.mark.parametrize("schema,rows", EMISSION_BOUNDARY)
def test_fail_screen_composite_emission_boundary(spark, schema, rows):
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(rows)], "id long, js string")
    staged, scr = _screened(df, schema)
    emitted = {r["id"]: r["e"] for r in staged.select("id", scr["emit"].alias("e")).collect()}
    assert [emitted[i] for i in range(len(rows))] == [e for _, e in rows]
    cols = ["id", "yv_valid", "yv_violations", "yv_output"]
    a = {r["id"]: repr(r) for r in
         validate_json_table(df, schema, "js", screen=True).select(cols).collect()}
    b = {r["id"]: repr(r) for r in
         validate_json_table(df, schema, "js", screen=False).select(cols).collect()}
    assert a == b
