"""One ECMA-u regex translator for both execution paths.

The reference validates patterns with ``new RegExp(p, 'u').test(v)``
(the reference's validate.ts:81). Neither evaluation engine available
here speaks that dialect natively:

* the **typed path** (and the JSON screen) hands patterns to Java's regex
  via ``rlike``: :func:`to_java_pattern`;
* the **dynamic path** evaluates them with Python ``re``:
  :func:`to_python_pattern`.

Both are one token walk, :func:`_translate`, over ECMA tokens; a
:class:`_Dialect` table holds only what the two targets spell
differently. For the common subset (literals, classes, quantifiers, ``^``,
alternation, groups, lookarounds) the spelling is the input's — an
unanchored ``rlike`` / ``re.search`` matches ``.test`` semantics. What the
walk re-spells, in both dialects unless noted:

* ``$`` (out of class) — ECMA ``$`` without ``m`` asserts END OF INPUT;
  Java's and Python's also match before a trailing line terminator.
  Spelled ``\\z`` (Java) / ``\\Z`` (Python).
* ``.`` — the explicit ECMA complement ``[^\\n\\r\\u2028\\u2029]`` (Java's
  dot also excludes \\u0085 NEL, Python's only excludes ``\\n``).
* in-class ``&`` / ``[`` — Java class operators (``[a&&b]`` is an
  intersection, ``x[[]y`` a PatternSyntaxException) and Python
  FutureWarnings; ECMA literals. Escaped to ``\\&`` / ``\\[``.
* ``[]`` / ``[^]`` — ECMA never-match / any-char: ``(?!)``, and
  ``(?s:.)`` (Java) / ``[\\s\\S]`` (Python).
* ``\\u{...}`` — the ECMA-u codepoint escape: ``\\x{...}`` (Java), the
  literal character (Python, escaped if a metacharacter). An empty,
  non-hex or above-10FFFF body is an ECMA SyntaxError and raises.
* shorthands — ``\\s``/``\\S`` expand to the literal ECMA whitespace set
  (Java's is ASCII-only, Python's adds \\x1c-\\x1f/\\x85 and misses
  \\ufeff). ``\\b``/``\\B`` become ASCII word-boundary lookarounds (Java's
  and Python's are Unicode); Python only: ``\\w``/``\\W`` the ASCII class.
* named groups (Python only) — ``(?<name>`` to ``(?P<name>`` and
  ``\\k<name>`` to ``(?P=name)``.

The untranslatable residue raises :class:`ValueError`, the one "not
translatable" decision: callers turn it into a route to the path that can
still evaluate the pattern (``typed._require_java_safe``,
``jsonscreen._java_safe``). It is ``\\p{...}`` names outside the general
categories Java shares with ECMA (``\\p{Letter}``, ``\\p{Script=Greek}``;
Python ``re`` has no property classes at all), an unclosed ``\\p{``, and a
complemented shorthand inside a class (``[\\S]``, ``[\\W]``), which no set
expansion can express.
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple

# the exact ECMAScript \s set (ES2024 WhiteSpace + LineTerminator);
# every escape here (\t \n \x0b \f \r \uXXXX) is valid in BOTH Python-re
# and Java-regex character classes with identical meaning
_ECMA_WS = (
    "\\t\\n\\x0b\\f\\r \\u00a0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000\\ufeff"
)
_ASCII_WORD = "A-Za-z0-9_"
# ECMA dot complement: LineTerminator only — same spelling in Java and Python
_ECMA_DOT = "[^\\n\\r\\u2028\\u2029]"
_B_BOUND = (
    f"(?:(?<=[{_ASCII_WORD}])(?![{_ASCII_WORD}])"
    f"|(?<![{_ASCII_WORD}])(?=[{_ASCII_WORD}]))"
)
_B_NONBOUND = (
    f"(?:(?<=[{_ASCII_WORD}])(?=[{_ASCII_WORD}])"
    f"|(?<![{_ASCII_WORD}])(?![{_ASCII_WORD}]))"
)

# general-category names with identical meaning in ECMA-u and Java
_SHARED_PROPS = frozenset({
    "L", "Lu", "Ll", "Lt", "Lm", "Lo",
    "M", "Mn", "Mc", "Me",
    "N", "Nd", "Nl", "No",
    "P", "Pc", "Pd", "Ps", "Pe", "Pi", "Pf", "Po",
    "S", "Sm", "Sc", "Sk", "So",
    "Z", "Zs", "Zl", "Zp",
    "C", "Cc", "Cf", "Co", "Cn", "Cs",
})

# the ECMA tokens longer than two characters: \u{hex}, \p{name} / \P{name}
# (an unclosed one runs to the end so it can be refused)
_ESCAPE = re.compile(r"\\(?:u\{(?P<u>[^}]*)\}|[pP]\{(?P<p>[^}]*)(?P<close>\}?))")
_NAMED = re.compile(r"\\k<(?P<ref>[^>]*)>|\(\?<(?![=!])")
_HEX = re.compile(r"[0-9A-Fa-f]+")


class _Dialect(NamedTuple):
    codepoint: Callable[[str], str]  # hex digits of a valid \u{...} -> spelling
    end: str  # out-of-class `$`
    any_char: str  # `[^]`
    props: frozenset  # \p{...} names with the ECMA meaning
    # shorthand letter -> (spelling outside, inside a class); None: untranslatable
    shorthands: dict[str, tuple[str, str | None]]
    named: bool  # rewrite (?<name> / \k<name> to (?P<name> / (?P=name)


def _py_literal(hex_digits: str) -> str:
    ch = chr(int(hex_digits, 16))
    return "\\" + ch if ch in r".^$*+?()[]{}|\/-" else ch


_WS = {"s": (f"[{_ECMA_WS}]", _ECMA_WS), "S": (f"[^{_ECMA_WS}]", None)}
_BOUNDS = {"b": (_B_BOUND, "\\b"), "B": (_B_NONBOUND, "\\B")}

_JAVA = _Dialect(
    codepoint=lambda h: f"\\x{{{h}}}",
    end="\\z",
    any_char="(?s:.)",
    props=_SHARED_PROPS,
    shorthands={**_WS, **_BOUNDS, "W": ("\\W", None)},
    named=False,
)

_PYTHON = _Dialect(
    codepoint=_py_literal,
    end="\\Z",
    any_char="[\\s\\S]",
    props=frozenset(),
    shorthands={
        **_WS,
        **_BOUNDS,
        "w": (f"[{_ASCII_WORD}]", _ASCII_WORD),
        "W": (f"[^{_ASCII_WORD}]", None),
    },
    named=True,
)


# the one walk over ECMA tokens; `d` supplies every dialect-specific spelling
def _translate(pattern: str, d: _Dialect) -> str:
    out: list[str] = []
    i, n, in_class = 0, len(pattern), False
    while i < n:
        c = pattern[i]
        named = d.named and _NAMED.match(pattern, i)
        if named and (named["ref"] is not None or not in_class):
            out.append("(?P<" if named["ref"] is None else f"(?P={named['ref']})")
            i = named.end()
        elif c == "\\" and (m := _ESCAPE.match(pattern, i)):
            if m["u"] is not None:
                if not _HEX.fullmatch(m["u"]) or int(m["u"], 16) > 0x10FFFF:
                    raise ValueError(f"{m[0]}: not a code point escape (ECMA SyntaxError)")
                out.append(d.codepoint(m["u"]))
            elif not m["close"] or m["p"] not in d.props:
                raise ValueError(f"{m[0]}: no equivalent of the ECMA property class")
            else:
                out.append(m[0])
            i = m.end()
        elif c == "\\" and i + 1 < n:
            tok = pattern[i : i + 2]
            spelled = d.shorthands.get(tok[1], (tok, tok))[in_class]
            if spelled is None:
                raise ValueError(f"{tok} inside a class is not translatable")
            out.append(spelled)
            i += 2
        elif in_class:
            in_class = c != "]"
            # Java class operators / Python FutureWarnings; ECMA literals
            out.append("\\" + c if c in "&[" else c)
            i += 1
        elif pattern.startswith("[]", i):
            out.append("(?!)")  # ECMA empty class: matches nothing
            i += 2
        elif pattern.startswith("[^]", i):
            out.append(d.any_char)
            i += 3
        else:
            in_class = c == "["
            out.append({".": _ECMA_DOT, "$": d.end}.get(c, c))
            i += 1
    return "".join(out)


def to_java_pattern(pattern: str) -> str:
    """ECMA-u ``pattern`` in Java regex spelling with identical semantics;
    :class:`ValueError` when no Java spelling exists."""
    return _translate(pattern, _JAVA)


def to_python_pattern(pattern: str) -> str:
    """ECMA-u ``pattern`` in Python ``re`` spelling with identical
    semantics; :class:`ValueError` when no Python spelling exists."""
    return _translate(pattern, _PYTHON)
