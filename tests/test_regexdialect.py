"""Regex dialect guard: ECMA-u semantics must hold on BOTH paths — by
translation (to_java_pattern / to_python_pattern) for the translatable
divergences ($ anchor, dot-vs-NEL, Java class operators, \\u{...}, \\s,
[] / [^]), and by compile-time routing on the translator's ValueError for
the residue (long Unicode properties, in-class \\S, invalid escapes).
SURVEY §7.4."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from yaschva_spark.engine import PASS_COL, validate_auto, validate_json_table, validate_table
from yaschva_spark.interp import validate as interp_validate
from yaschva_spark.jsonscreen import ScreenNotApplicable, compile_screens
from yaschva_spark.regexdialect import to_java_pattern, to_python_pattern
from yaschva_spark.typed import TypedCompileError


def test_shared_subset_is_typed_safe():
    for p in [r"^src[0-9]+", r"a|b", r"\d{2,}", r"(?i)x", r"(?<name>ab)\k<name>",
              r"\p{L}+", r"[a-z\]]+", r"(?<=x)y", r"x[[]y", r"\u{48}ello",
              r"x[]y", r"x[^]y", r"^\S+$", r"a\sb"]:
        to_java_pattern(p)  # translatable: no ValueError
    # the genuinely shared subset translates to itself
    for p in [r"^src[0-9]+", r"a|b", r"\d{2,}", r"(?i)x", r"\p{L}+",
              r"[a-z\]]+", r"(?<=x)y", r"(?<name>ab)\k<name>"]:
        assert to_java_pattern(p) == p, p


def test_untranslatable_residue_detected():
    for p in [r"\p{Letter}+", r"\p{Script=Greek}", r"[\S]", r"[\W]"]:
        with pytest.raises(ValueError):
            to_java_pattern(p)
    assert to_java_pattern(r"\S+").startswith("[^")  # out-of-class: expandable


@pytest.mark.parametrize("pattern", [r"\u{}", r"^\u{zz}$", r"\u{110000}", r"\u{0x41}"])
def test_invalid_codepoint_escape_raises_in_both_dialects(pattern):
    # ECMA-u: an empty, non-hex or above-10FFFF \u{...} is a SyntaxError
    with pytest.raises(ValueError):
        to_java_pattern(pattern)
    with pytest.raises(ValueError):
        to_python_pattern(pattern)


@pytest.mark.parametrize(
    "pattern",
    [r"\p{Letter}", r"\p{Script=Greek}", r"\p{L", r"[\S]", r"[\W]", r"^\u{zz}$", r"\u{110000}"],
)
def test_untranslatable_regex_routes_at_build(spark, pattern):
    """A pattern the translator refuses never reaches ``rlike``: the typed
    path refuses at build and the screen leaves it to the interpreter."""
    schema = {"x": {"$string": {"regex": pattern}}}
    with pytest.raises(TypedCompileError):
        validate_table(spark.createDataFrame([("a",)], "x string"), schema)
    with pytest.raises(ScreenNotApplicable):
        compile_screens(schema, "js")


def test_java_translation_spellings():
    assert to_java_pattern(r"x[[]y") == r"x[\[]y"
    assert to_java_pattern(r"[a&&b]") == r"[a\&\&b]"
    assert to_java_pattern(r"\u{1F600}") == r"\x{1F600}"
    assert to_java_pattern(r"\u{10FFFF}") == r"\x{10FFFF}"  # the top code point
    assert to_java_pattern(r"x[]y") == r"x(?!)y"
    assert to_java_pattern(r"x[^]y") == r"x(?s:.)y"
    assert to_java_pattern(r"a$") == "a\\z"
    assert to_java_pattern(r"a[$]") == r"a[$]"  # in-class $ is literal
    assert to_java_pattern("a\\$") == "a\\$"  # escaped $ is literal
    assert "\\z" not in to_java_pattern(r"[$]")


def test_python_translation_semantics():
    assert re.search(to_python_pattern(r"\u{48}ello"), "Hello")
    assert not re.search(to_python_pattern(r"x[]y"), "xay")
    assert re.search(to_python_pattern(r"x[^]y"), "x\ny")
    assert re.search(to_python_pattern(r"(?<g>ab)\k<g>"), "abab")
    # '\u{2E}' is the '.' codepoint: must become a LITERAL dot, not any-char
    assert re.search(to_python_pattern(r"\u{2E}"), ".")
    assert not re.search(to_python_pattern(r"\u{2E}"), "a")
    assert to_python_pattern(r"\u{10FFFF}") == "\U0010ffff"


def test_dollar_anchor_is_absolute_end():
    # ECMA: new RegExp('^abc$','u').test('abc\n') === false (verified via
    # node); Python's own $ would match before the trailing \n, Java's
    # before any trailing line terminator
    p = to_python_pattern(r"^abc$")
    assert re.search(p, "abc")
    assert not re.search(p, "abc\n")
    assert not re.search(p, "abc\r")
    # the interpreter path (full stack through _regex)
    schema = {"x": {"$string": {"regex": "^src[0-9]+$"}}}
    assert interp_validate(schema, {"x": "src5"})["result"] == "pass"
    assert interp_validate(schema, {"x": "src5\n"})["result"] == "fail"
    assert interp_validate(schema, {"x": "src5\r"})["result"] == "fail"


def test_dot_matches_nel_like_ecma():
    # ECMA's dot excludes exactly \n \r     — NEL (\x85) matches
    p = to_python_pattern(r"^a.b$")
    assert re.search(p, "a\x85b")
    assert not re.search(p, "a\nb")
    assert not re.search(p, "a b")


@pytest.mark.parametrize(
    "pattern,value,expected",
    [
        (r"^src[0-9]+$", "src5", True),
        (r"^src[0-9]+$", "src5\n", False),  # $ must be absolute end
        (r"^src[0-9]+$", "src5\r", False),
        (r"^a.b$", "a\x85b", True),  # NEL matches ECMA dot
        (r"^a.b$", "a\nb", False),
        (r"^a.b$", "axb", True),
        (r"[a&&b]", "&", True),  # Java intersection would match nothing
        (r"[a&&b]", "c", False),
        (r"x[[]y", "x[y", True),  # Java would throw PatternSyntaxException
        (r"\u{48}i", "Hi", True),
        (r"^\S+$", "ok", True),
        (r"^\S+$", "a\xa0b", False),  # NBSP is ECMA whitespace
        (r"^\s$", " ", True),
        (r"^\s$", "\x1c", False),  # Python-only whitespace stays out
        (r"x[]y", "xay", False),  # ECMA empty class never matches
        (r"x[^]y", "x\ny", True),  # ECMA [^] matches anything
        (r"^[a\u{2D}z]$", "b", False),  # an escaped '-' is no range
        (r"^[a\u{2D}z]$", "-", True),
        (r"a\b", "a\u00e9", True),  # ECMA \b is the ASCII word boundary
    ],
)
def test_typed_dynamic_interp_agree(spark, pattern, value, expected):
    """The same (pattern, value) through all three engines: Java rlike
    (typed path), Python re (dynamic path), and the interpreter spec."""
    schema = {"x": {"$string": {"regex": pattern}}}
    r = interp_validate(schema, {"x": value})
    assert (r["result"] == "pass") is expected, ("interp", pattern, value)
    df = spark.createDataFrame([(1, value)], "id long, x string")
    typed = validate_table(df.select("x"), schema)
    assert typed.collect()[0][PASS_COL] is expected, ("typed", pattern, value)
    jdf = df.select("id", F.to_json(F.struct("x")).alias("js"))
    for screen in (True, False):
        dyn = validate_json_table(jdf, schema, "js", screen=screen)
        assert dyn.collect()[0][PASS_COL] is expected, ("dyn", screen, pattern, value)


def test_property_class_routes_to_typed_only(spark):
    # long property names: NOT translatable for Python, so the dynamic
    # path refuses loudly rather than diverging
    schema = {"x": {"$string": {"regex": r"\p{Letter}+"}}}
    with pytest.raises(TypedCompileError):
        validate_table(
            spark.createDataFrame([("a",)], "x string").select("x"), schema
        )
    with pytest.raises(ValueError):
        to_python_pattern(r"\p{Letter}+")


def test_map_key_untranslatable_regex_routes(spark):
    schema = {"m": {"$map": "string", "regex": r"^\p{Letter}$"}}
    df = spark.createDataFrame([(1,)], "id long")
    df = df.withColumn("m", F.create_map(F.lit("a"), F.lit("v")))
    with pytest.raises(TypedCompileError):
        validate_table(df.select("m"), schema)


def test_map_key_translated_regex_typed(spark):
    # [^] needs translation ((?s:.)) but stays on the typed path now
    schema = {"m": {"$map": "string", "regex": "^[^]$"}}
    df = spark.createDataFrame([(1,)], "id long")
    df = df.withColumn("m", F.create_map(F.lit("a"), F.lit("v")))
    out = validate_table(df.select("m"), schema)
    assert out.collect()[0][PASS_COL] is True


def test_python_respelling_pins_ecma_semantics():
    # \w is ASCII in ECMA: Unicode letters must NOT match
    assert re.fullmatch(to_python_pattern(r"\w+"), "abc_9")
    assert not re.fullmatch(to_python_pattern(r"\w+"), "é")
    # \s is the exact ECMA set: NBSP in, Python-only \x1c out
    assert re.search(to_python_pattern(r"\s"), " ")
    assert not re.search(to_python_pattern(r"\s"), "\x1c")
    assert not re.search(to_python_pattern(r"\S"), " \t ")
    # . excludes \r and   like ECMA (Python's dot only excludes \n)
    assert not re.fullmatch(to_python_pattern(r"^.$"), "\r")
    assert not re.fullmatch(to_python_pattern(r"^.$"), " ")
    assert re.fullmatch(to_python_pattern(r"^.$"), "x")
    # \b is the ASCII word boundary: 'a|é' IS a boundary in ECMA
    assert re.search(to_python_pattern(r"a\b"), "aé")
    assert not re.search(r"a\b", "aé")  # Python's own \b disagrees
    # in-class \s expands to the set body
    assert re.fullmatch(to_python_pattern(r"[\sx]+"), " x ")


def test_hybrid_paths_agree_on_nbsp(spark):
    # Java \S wrongly treats NBSP as non-whitespace; the translation must
    # expand it to the ECMA set so the screen and interpreter agree
    schema = {"x": {"$string": {"regex": "^\\S+$"}}}
    df = spark.createDataFrame(
        [(1, '{"x": "a\\u00a0b"}'), (2, '{"x": "ok"}')], "id long, js string"
    )
    a = {r["id"]: r["yv_valid"]
         for r in validate_json_table(df, schema, "js", screen=True).collect()}
    b = {r["id"]: r["yv_valid"]
         for r in validate_json_table(df, schema, "js", screen=False).collect()}
    assert a == b
    assert a[1] is False and a[2] is True  # NBSP is ECMA whitespace


def test_validate_auto_stays_typed_for_translated_patterns(spark):
    # \u{...} used to route to the interpreter; now it compiles typed
    schema = {"greeting": {"$string": {"regex": "^\\u{48}i$"}}}
    df = spark.createDataFrame([(1, "Hi"), (2, "hi"), (3, "Hix")], "id long, greeting string")
    out = validate_auto(df, schema, ignore_columns=("id",))
    got = {r["id"]: r[PASS_COL] for r in out.collect()}
    assert got == {1: True, 2: False, 3: False}
    assert interp_validate(schema, {"greeting": "Hi"})["result"] == "pass"
    assert interp_validate(schema, {"greeting": "hi"})["result"] == "fail"
