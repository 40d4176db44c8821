"""Dynamic path: the full ported reference corpus runs through Spark as a
table of (case_id, data_json) rows and must reproduce every pass/fail
verdict and golden output tree.

The path is one projection: the VARIANT screen decides what it can, and one
interpreter UDF (a scalar pandas UDF) decides the rest. ``jvm_fraction`` in
:func:`yaschva_spark.engine.screen_coverage` is the share of rows the
interpreter never ran on: their payload does not cross Arrow, only a NULL
cell does."""

from __future__ import annotations

import json

import pytest

from yaschva_spark.engine import PASS_COL, screen_coverage, validate_json_table
from yaschva_spark.interp import (
    UNDEFINED,
    UNDEFINED_TOKEN,
    output_to_jsonable,
    validate as interp_validate,
    violations_from_output,
)
from yaschva_spark.schema import SchemaError

from tests.cases_validate import CASES


def _encodable(case):
    """Non-throw cases whose data is JSON-encodable (root UNDEFINED ok)."""
    expect = case[3]
    if isinstance(expect, tuple):
        return False
    return True


def _data_json(data):
    if data is UNDEFINED:
        return UNDEFINED_TOKEN
    return json.dumps(data)


def _group_by_schema():
    """The dynamic path validates one schema per call; group corpus cases by
    schema so each schema becomes one small table."""
    groups: dict[str, dict] = {}
    for case in CASES:
        if not _encodable(case):
            continue
        key = json.dumps(case[1], sort_keys=True, default=str)
        groups.setdefault(key, {"schema": case[1], "cases": []})["cases"].append(case)
    return list(groups.values())


def test_dynamic_path_reproduces_corpus(spark):
    total = 0
    for group in _group_by_schema():
        cases = group["cases"]
        df = spark.createDataFrame(
            [(c[0], _data_json(c[2])) for c in cases], "case_id string, data_json string"
        )
        out = {
            r["case_id"]: r
            for r in validate_json_table(df, group["schema"], "data_json").collect()
        }
        for c in cases:
            case_id, expect = c[0], c[3]
            golden = c[4] if len(c) > 4 else None
            row = out[case_id]
            assert row[PASS_COL] == (expect == "pass"), (case_id, row)
            if golden is not None:
                got_tree = json.loads(row["yv_output"])
                assert got_tree == output_to_jsonable(golden), case_id
            total += 1
    assert total >= 80


def test_dynamic_throws_at_plan_time(spark):
    df = spark.createDataFrame([("x", "{}")], "case_id string, data_json string")
    with pytest.raises(SchemaError):
        validate_json_table(df, {"myValue": []}, "data_json")
    with pytest.raises(SchemaError):
        validate_json_table(df, {"myValue": "bigFlout"}, "data_json")


def test_dynamic_violation_rows(spark):
    schema = {"a": "integer", "b": ["string", "?"]}
    df = spark.createDataFrame(
        [("ok", '{"a": 3}'), ("bad", '{"a": 1.5, "b": 9}')],
        "case_id string, data_json string",
    )
    rows = validate_json_table(df, schema, "data_json").collect()
    by_id = {r["case_id"]: r for r in rows}
    assert by_id["ok"][PASS_COL] is True and by_id["ok"]["yv_violations"] == []
    rules = [v["rule"] for v in by_id["bad"]["yv_violations"]]
    assert "not_integer" in rules and "union_mismatch" in rules


def test_screen_coverage_telemetry(spark):
    """The screen projection's observe() metrics report the proven fraction
    for free (no extra pass), and the nested entry query's fraction is pinned
    so a screen-fragment regression (rows silently falling back to the
    interpreter) shows up here, not as a bench mystery."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["nested_json_validation"](spark, "/root/testdata/sf0.001")
    n_viol = df.count()
    cov = screen_coverage("nested_json_validation")
    assert n_viol == 285
    assert cov == {
        "n_rows": 500,
        "n_proven": 243,
        # r5 fail screen: every genuinely-violating row of this corpus is
        # emitted JVM-side with byte-exact violations — the whole table is
        # decided without crossing Arrow
        "n_proven_fail": 257,
        "proven_fraction": 0.486,
        "jvm_fraction": 1.0,
    }
    # unknown / unobserved names answer None, never a stale observation
    assert screen_coverage("no_such_observation") is None


def test_reserved_column_prefix_rejected(spark):
    """Input columns named __yv_* would collide with the plan's staged
    screen columns; they are rejected up front, by name."""
    df = spark.createDataFrame([(1, '{"k": 1}')], "__yv_s0_0 long, js string")
    with pytest.raises(ValueError, match="__yv_s0_0"):
        validate_json_table(df, {"k": "integer"}, "js")


#: one of each row class the one-pass plan must tell apart: screen-emitted
#: pass and fail rows, interpreter residue, and both spellings of an
#: undefined root
EDGE_SCHEMA = {"cnt": "integer", "note": ["?", "string"]}
EDGE_ROWS = [
    '{"cnt": 1}',                       # emitted pass
    '{"cnt": 2, "note": "n"}',          # emitted pass through a union branch
    '{"cnt": "x"}',                     # emitted fail: not_integer
    '{"cnt": 1, "note": 4}',            # emitted fail: union mismatch
    '{"cnt": 1.5}',                     # residue: a double offending value
    '{"cnt": 1, "extra": true}',        # residue: closed-world extra key
    '[1, 2]',                           # residue: non-object root
    None,                               # SQL NULL: undefined root
    UNDEFINED_TOKEN,                    # the literal undefined root
]


def _interpreted(raw):
    """The spec, in this process: (yv_valid, violations, yv_output)."""
    value = UNDEFINED if raw is None or raw == UNDEFINED_TOKEN else json.loads(raw)
    res = interp_validate(EDGE_SCHEMA, value)
    viols = [
        (r["path"], r["rule"], r["error"], r["value"])
        for r in violations_from_output(res.get("vtree", res["output"]))
    ]
    return (
        res["result"] == "pass",
        viols,
        json.dumps(output_to_jsonable(res["output"]), separators=(",", ":")),
    )


def _got(row):
    return (row[PASS_COL], [tuple(v) for v in row["yv_violations"]], row["yv_output"])


_VALIDATED_DDL = (
    "yv_valid:boolean,yv_violations:array<struct<path:string,rule:string,"
    "error:string,value:string>>,yv_output:string"
)


@pytest.mark.parametrize("screen", [True, False])
def test_one_pass_edge_rows_match_interpreter(spark, screen):
    """Every row class, all of them in each partition (so one Arrow batch
    carries NULL cells for emitted rows next to interpreted ones), is
    byte-identical to the interpreter run here, under both plans; so are
    the empty input and ``keep_cols=[]``, and the output schema is the
    documented one."""
    par = spark.sparkContext.defaultParallelism  # no repartition: one copy per partition
    rows = [(i, EDGE_ROWS[i % len(EDGE_ROWS)]) for i in range(par * len(EDGE_ROWS))]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, par), "id long, js string")
    name = f"edge_rows_{screen}"
    out = validate_json_table(df, EDGE_SCHEMA, "js", keep_cols=["id"], screen=screen,
                              observe=name)
    assert out.schema.simpleString() == f"struct<id:bigint,{_VALIDATED_DDL}>"
    got = {r["id"]: _got(r) for r in out.collect()}
    assert got == {i: _interpreted(raw) for i, raw in rows}
    if screen:
        cov = screen_coverage(name)
        residue = cov["n_rows"] - cov["n_proven"] - cov["n_proven_fail"]
        assert cov["n_proven"] > 0 and cov["n_proven_fail"] > 0 and residue > 0, cov
    else:
        assert screen_coverage(name) is None

    bare = validate_json_table(df, EDGE_SCHEMA, "js", keep_cols=[], screen=screen)
    assert bare.schema.simpleString() == f"struct<{_VALIDATED_DDL}>"
    assert sorted(map(_got, bare.collect())) == sorted(_interpreted(raw) for _, raw in rows)

    empty = validate_json_table(df.limit(0), EDGE_SCHEMA, "js", screen=screen)
    assert empty.schema.simpleString() == f"struct<id:bigint,js:string,{_VALIDATED_DDL}>"
    assert empty.collect() == []
