"""Dynamic (mapInPandas interpreter) path: the full ported reference corpus
runs through Spark as a table of (case_id, data_json) rows and must reproduce
every pass/fail verdict and golden output tree."""

from __future__ import annotations

import json

import pytest

from yaschva_spark.engine import PASS_COL, validate_json_table
from yaschva_spark.interp import UNDEFINED, UNDEFINED_TOKEN, output_to_jsonable
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
    """The split plan's observe() metrics report the proven fraction for
    free (no extra pass), and the nested driver query's fraction is pinned
    so a screen-fragment regression (rows silently falling back to the
    interpreter) shows up here, not as a bench mystery."""
    from yaschva_spark.cache import unpersist_intermediates
    from yaschva_spark.engine import screen_coverage

    import __spark_entry__ as entrymod

    df = entrymod.queries()["nested_json_validation"](spark, "/root/testdata/sf0.001")
    n_viol = df.count()
    cov = screen_coverage("nested_json_validation")
    unpersist_intermediates()
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


def test_compiled_screen_memoization(spark):
    """The staged screen's Column tree costs ~0.9 s of py4j round trips to
    build — engine._compiled_screens must reuse it per (app, schema, col)
    and key on the application id so a session restart can't serve stale
    JVM references."""
    import json as _json

    from yaschva_spark.engine import _SCREEN_CACHE, _compiled_screens

    blob = _json.dumps({"k": "integer"})
    a = _compiled_screens("app-1", blob, "js")
    b = _compiled_screens("app-1", blob, "js")
    assert a is b  # cache hit: identical tuple object
    c = _compiled_screens("app-2", blob, "js")
    assert c is not a  # new application id -> fresh compilation
    # negative results (unscreenable shapes) cache as the exception
    import pytest as _pytest

    from yaschva_spark.jsonscreen import ScreenNotApplicable

    bad = _json.dumps({"k": "noSuchType"})
    with _pytest.raises(ScreenNotApplicable):
        _compiled_screens("app-1", bad, "js")
    assert isinstance(_SCREEN_CACHE[("app-1", bad, "js")], ScreenNotApplicable)
    with _pytest.raises(ScreenNotApplicable):
        _compiled_screens("app-1", bad, "js")


def test_screen_cache_keeps_only_current_application(spark):
    """A compile under a new application id drops the earlier
    application's entries: they only hold dead JVM references."""
    import json as _json

    from yaschva_spark.engine import _SCREEN_CACHE, _compiled_screens

    for app in ("app-old", "app-new"):
        for schema in ({"k": "integer"}, {"k": "string"}):
            _compiled_screens(app, _json.dumps(schema), "js")
    assert _SCREEN_CACHE
    assert {k[0] for k in _SCREEN_CACHE} == {"app-new"}


def test_reserved_column_prefix_rejected(spark):
    """Input columns named __yv_* would collide with the plan's staged
    screen columns; they are rejected up front, by name."""
    df = spark.createDataFrame([(1, '{"k": 1}')], "__yv_s0_0 long, js string")
    with pytest.raises(ValueError, match="__yv_s0_0"):
        validate_json_table(df, {"k": "integer"}, "js")
