"""The compiled back ends emit SQL text: quoting and purity pins.

``typed.compile_schema`` and ``jsonscreen.compile_screens`` return SQL
strings, parsed by ``F.expr``/``selectExpr``. Literals must parse to the
same value whatever ``spark.sql.parser.escapedStringLiterals`` says, and
compiling must not touch the JVM at all.
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager

import pytest
from pyspark.sql import types as T

from yaschva_spark.engine import (
    PASS_COL,
    VIOLATIONS_COL,
    validate_auto,
    validate_json_table,
    validate_table,
)
from yaschva_spark.interp import validate as iv, violations_from_output
from yaschva_spark.jsonscreen import ScreenNotApplicable, compile_screens, select_levels
from yaschva_spark.typed import TypedCompileError, compile_schema

#: the parser rewrites ${...} in any SQL text, inside quotes too: an unset
#: name becomes '', a set one its conf value
SUBST = ["${x}", "${spark.app.name}"]

#: quote, double quote, backslash, trailing backslash, newline, the
#: six-character text backslash-u0041 (which must never become "A"), and
#: the substitution sequences
SPECIALS = ["it's", 'say "hi"', "back\\slash", "trail\\", "line\nfeed", "\\u0041", *SUBST]

#: ECMA regex matching exactly the SPECIALS (each ``\\\\`` here is the
#: pattern's escaped backslash; ``[${]{2}`` puts a ``${`` in the pattern text)
SPECIALS_RE = (
    '^(it\'s|say "hi"|back\\\\slash|trail\\\\|line\nfeed|\\\\u0041'
    '|[${]{2}x\\}|\\$\\{spark\\.app\\.name\\})$'
)

#: screenable: data keys stay inside the screen's key allowlist
SCREENED = {
    "e": {"$enum": SPECIALS},
    "r": {"$string": {"regex": SPECIALS_RE}},
    "m": {"$map": "integer", "regex": SPECIALS_RE},
}
#: the specials a struct field name can hold: no identifier spelling
#: escapes the substitution (see test_substitution_sequences_in_names)
FIELDS = [name for name in SPECIALS if name not in SUBST]
#: the typed path also addresses struct fields named by the specials
TYPED = {**SCREENED, **{name: "integer" for name in FIELDS}}

VALUES = SPECIALS + ["A", "plain", "it", "back\\\\slash"]


def _docs():
    n = len(VALUES)
    # the SPECIALS pass, the rest fail; "it's" is a key the screen decides
    triples = [(v, v, "it's") for v in VALUES]
    triples += [(VALUES[i], VALUES[-1 - i], VALUES[(i + 3) % n]) for i in range(n)]
    # one key per map: a failing key reports the whole map, whose key
    # order a Spark map built from a dict does not keep
    return [{"e": e, "r": r, "m": {k: i}} | {name: i for name in FIELDS}
            for i, (e, r, k) in enumerate(triples)]


def _typed_frame(spark, docs):
    st = T.StructType(
        [T.StructField("e", T.StringType()), T.StructField("r", T.StringType()),
         T.StructField("m", T.MapType(T.StringType(), T.LongType()))]
        + [T.StructField(name, T.LongType()) for name in FIELDS]
    )
    return spark.createDataFrame([tuple(d[f.name] for f in st.fields) for d in docs], st)


def _rows(viols):
    return sorted((v["path"], v["rule"], v["error"], v["value"]) for v in viols)


@contextmanager
def _escaped_literals(spark, value: str):
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, before)


def test_quoted_literals_agree_on_all_paths(spark):
    docs = _docs()
    expected = [iv(TYPED, d) for d in docs]
    # the interpreter itself sees every kind of outcome here
    assert {r["result"] for r in expected} == {"pass", "fail"}
    typed_df = _typed_frame(spark, docs)
    screened_docs = [{k: d[k] for k in SCREENED} for d in docs]
    js_df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(screened_docs)], "id long, js string"
    )
    screened_pass = [iv(SCREENED, d)["result"] == "pass" for d in screened_docs]
    cols = ["id", "yv_valid", "yv_violations", "yv_output"]
    runs = {}
    for escaped in ("false", "true"):
        with _escaped_literals(spark, escaped):
            typed = validate_table(typed_df, TYPED).select(PASS_COL, VIOLATIONS_COL).collect()
            for exp, got in zip(expected, typed):
                assert got[PASS_COL] == (exp["result"] == "pass")
                assert _rows(got[VIOLATIONS_COL]) == _rows(violations_from_output(exp["output"]))
            # the screen proves exactly the passing rows (their map keys
            # need no JSON escaping), so no literal lost a match
            levels, sc = compile_screens(SCREENED, "js")
            proven = select_levels(js_df, levels).selectExpr("id", f"{sc['pass']} AS p")
            assert [r["p"] for r in proven.orderBy("id").collect()] == screened_pass
            screened = validate_json_table(js_df, SCREENED, "js", screen=True).select(cols)
            interpreted = validate_json_table(js_df, SCREENED, "js", screen=False).select(cols)
            a = sorted(map(repr, screened.collect()))
            assert a == sorted(map(repr, interpreted.collect()))
            runs[escaped] = (a, [repr(r) for r in typed])
    assert runs["false"] == runs["true"]


def test_substitution_sequences_in_names(spark):
    """A column named by a substitution sequence: the typed path refuses it
    (validate_auto falls back), the screen refuses it as the JSON column,
    and the engine carries it as a kept column by name. The members need
    no JSON escaping, so the screen emits the failing rows itself."""
    schema = {"e": {"$enum": [*SUBST, "plain"]}}
    docs = [{"e": v} for v in VALUES]
    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(docs)], f"`{SUBST[0]}` long, js string"
    )
    with pytest.raises(TypedCompileError):
        compile_schema(schema, df.schema)
    with pytest.raises(ScreenNotApplicable):
        compile_screens(schema, SUBST[1])
    expected = [iv(schema, d) for d in docs]
    runs = [validate_json_table(df, schema, "js", screen=screen) for screen in (True, False)]
    runs.append(validate_auto(df, schema, json_col="js"))
    for run in runs:
        got = run.orderBy(SUBST[0]).collect()
        assert [r[SUBST[0]] for r in got] == list(range(len(docs)))
        for exp, r in zip(expected, got):
            assert r[PASS_COL] == (exp["result"] == "pass")
            assert _rows(r[VIOLATIONS_COL]) == _rows(violations_from_output(exp["output"]))


@contextmanager
def _py4j_commands(spark):
    """Counts the py4j commands this thread sends while the block runs."""
    client_cls = type(spark.sparkContext._gateway._gateway_client)
    owner = next(c for c in client_cls.__mro__ if "send_command" in c.__dict__)
    send = owner.__dict__["send_command"]
    count = [0]
    me = threading.get_ident()

    def send_command(client, command, *args, **kwargs):
        if threading.get_ident() == me:
            count[0] += 1
        return send(client, command, *args, **kwargs)

    owner.send_command = send_command
    try:
        yield count
    finally:
        owner.send_command = send


def _strings_only(value) -> bool:
    if isinstance(value, dict):
        return all(isinstance(k, str) and _strings_only(v) for k, v in value.items())
    if isinstance(value, (list, tuple)):
        return all(_strings_only(v) for v in value)
    return isinstance(value, str)


def test_compilers_emit_text_without_the_jvm(spark):
    import __spark_entry__ as e
    from yaschva_spark.fixtures import CODE_SCHEMA, code_files

    df_schema = code_files(spark, 100).schema
    with _py4j_commands(spark) as n:
        typed = compile_schema(CODE_SCHEMA, df_schema)
        levels, outputs = compile_screens(e.NESTED_JSON_SCHEMA, "js")
    assert n[0] == 0
    assert isinstance(typed, str)
    assert _strings_only(levels) and _strings_only(outputs)
    # the whole typed build: schema fetch, one F.expr, two withColumns
    code_df = code_files(spark, 100)
    with _py4j_commands(spark) as n:
        validate_table(code_df, CODE_SCHEMA)
    assert n[0] <= 50, n[0]
