"""The parse cascade (SURVEY §2.9: F-3..F-8, F-13) as one Python core.

The reference tries four cleanup strategies, takes the first whose output
parses to a non-empty dict, and otherwise parses line by line
(``auto_translate.py:490-646``). :func:`parse_map` is that cascade for
one blob; :func:`parse_content` repairs a truncated blob first
(``repair.repair_content``). Both keep the semantics the engine had
with Spark's ``from_json`` and Java regexes:

- JSON: the first value is read and trailing text ignored; single quotes
  and ``\\'`` are accepted; numbers and literals become Jackson's text
  (``1.50`` -> ``1.5``, ``true``, ``"NaN"``); duplicate keys are kept.
- ``\\s`` is Java's ``[ \\t\\n\\x0b\\f\\r]`` (no NBSP), ``\\d`` is ASCII,
  ``.`` stops at any Java line terminator, and ``$`` also matches before
  one final line terminator.
- The first non-empty JSON map wins and only then are suspicious values
  dropped, with no fall-through; line-parsed ids resolve last-wins.

:func:`parse_responses` runs it as one Arrow-batched ``mapInPandas``
(repair, parse and strategy in one Python pass per response);
:func:`parse_translations` / :func:`parse_strategy` are pandas UDFs over
:func:`parse_map` for column-level use.
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .predicates import SUSPICIOUS_TOKENS
from .repair import repair_content

STRATEGIES = ("empty", "json_basic", "json_aggressive", "json_multiline",
              "json_unicode", "line_fallback", "unparseable")

# Java regex building blocks (no flags, as Spark compiles them).
_WS = " \t\n\x0b\f\r"  # \s
_S = r"[ \t\n\x0b\f\r]"
_DOT = r"[^\n\r\x85\u2028\u2029]"  # .
_END = r"(?:\Z|(?=[\r\x85\u2028\u2029]\Z)|(?<!\r)(?=\n\Z)|(?=\r\n\Z))"  # $
_BOL = r"(?:\A|(?<=[\n\x85\u2028\u2029])|(?<=\r)(?!\n))"  # (?m)^
_EOL = r"(?:\Z|(?=[\r\x85\u2028\u2029])|(?<!\r)(?=\n))"  # (?m)$
_FINAL_TERM = re.compile(r"(?:\r\n|[\n\r\x85\u2028\u2029])\Z")


def _rstrip(s: str, chars: str) -> str:
    """Remove ``[chars]+$``: Java's ``$`` also matches before one final
    line terminator, so a run ending there goes and the terminator stays.
    A terminator is at most two characters, so only the tail is searched."""
    t = s.rstrip(chars)
    if t != s or not (m := _FINAL_TERM.search(s, max(0, len(s) - 2))):
        return t
    return s[: m.start()].rstrip(chars) + m.group()


def _ws_trim(s: str) -> str:
    """``regexp_replace(s, '^\\s+|\\s+$', '')``: Java whitespace only."""
    return _rstrip(s.lstrip(_WS), _WS)


_DIGITS = re.compile(rf"[0-9]+{_END}")
_TOKENS = frozenset(SUSPICIOUS_TOKENS)


def _suspicious(v: str) -> bool:
    """Python twin of ``predicates.is_suspicious`` (R-10), non-null input."""
    t = _ws_trim(v)
    return (
        t.lower() in _TOKENS
        or t.startswith(("```", "<", "{", "["))
        or len(t) < 3
        or _DIGITS.match(t) is not None
    )


# --- F-3..F-6: the cleanup ladder (auto_translate.py:410-487) ------------


def md_basic(s: str) -> str:
    """F-3: strip one leading ```` ```json ````/```` ``` ```` and a trailing
    fence. Reference: ``auto_translate.py:410-423``."""
    t = _ws_trim(s)
    t = t[7:] if t.startswith("```json") else t.removeprefix("```")
    return _ws_trim(_ws_trim(t).removesuffix("```"))


_FENCE_OPEN = re.compile(rf"{_BOL}```(?:json|javascript|text)?{_S}*\n?")
_FENCE_CLOSE = re.compile(rf"\n?```{_S}*{_EOL}")


def md_aggressive(s: str) -> str:
    """F-4: remove every fence, with its language tag.
    Reference: ``auto_translate.py:426-440``."""
    t = _FENCE_CLOSE.sub("", _FENCE_OPEN.sub("", _ws_trim(s)))
    return _ws_trim(t.replace("```", ""))


def md_multiline(s: str) -> str:
    """F-5: keep the non-blank lines inside fences; with none, F-3.
    Reference: ``auto_translate.py:443-466``."""
    kept, inside = [], False
    for raw in s.split("\n"):
        line = _ws_trim(raw)
        if line.startswith("```"):
            inside = not inside
        elif inside and line:
            kept.append(line)
    return "\n".join(kept) if kept else md_basic(s)


_LEAD_QUOTES = re.compile(rf"{_S}*['\"]*")
_TRAIL_QUOTES = re.compile(rf"['\"]*{_S}*{_END}")


def md_unicode(s: str) -> str:
    """F-6: strip stray quotes, then complete the braces.
    Reference: ``auto_translate.py:469-487``."""
    t = md_basic(s)
    t = _TRAIL_QUOTES.sub("", t[_LEAD_QUOTES.match(t).end():])
    if not t.startswith("{") and ":" in t:
        t = "{" + t
    if t.startswith("{") and not t.endswith("}"):
        t = t + "}"
    return _ws_trim(t)


_LADDER = (
    ("json_basic", md_basic),
    ("json_aggressive", md_aggressive),
    ("json_multiline", md_multiline),
    ("json_unicode", md_unicode),
)

# --- from_json(s, 'map<string,string>') ----------------------------------

# Jackson's read limits: more digits in one number, or deeper nesting,
# is malformed. (Jackson nests to 1000 levels; Python's stack does not
# reliably reach that far, so the cap here is lower.)
_MAX_NUMBER, _MAX_DEPTH = 1000, 512


def _number_text(tok: str) -> str:
    """Jackson's copy of a JSON number: an integer keeps its digits, a
    float is Java's ``Double.toString`` (an overflow is quoted)."""
    if len(tok) > _MAX_NUMBER and sum(c.isdigit() for c in tok) > _MAX_NUMBER:
        raise ValueError(tok)
    if not any(c in tok for c in ".eE"):
        return "0" if tok == "-0" else tok
    d = float(tok)
    if math.isinf(d):
        return '"Infinity"' if d > 0 else '"-Infinity"'
    r = repr(d)
    if d == 0 or 1e-3 <= abs(d) < 1e7:
        return r  # plain decimal with a fractional digit, like Java
    sign, digits, exp = Decimal(r).as_tuple()
    ds = "".join(map(str, digits))
    e10, ds = len(ds) + exp - 1, ds.rstrip("0") or "0"
    return f"{'-' if sign else ''}{ds[0]}.{ds[1:] or '0'}E{e10}"


_DECODER = json.JSONDecoder(
    object_pairs_hook=list,
    parse_float=_number_text,
    parse_int=_number_text,
    parse_constant=lambda tok: f'"{tok}"',
)
# Jackson, under Spark's defaults, also accepts single-quoted strings, a
# \' escape and +INF/-INF/+Infinity. Rewriting those tokens to JSON
# lets the C decoder judge the rest.
_JACKSON_TOKEN = re.compile(r'"((?:[^"\\]|\\.)*)"|\'((?:[^\'\\]|\\.)*)\'|([+-])(?:INF|Infinity)\b', re.S)
_ESCAPE_OR_DQUOTE = re.compile(r'\\(.)|"', re.S)
_NESTING = re.compile(r'"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\'|[\[\]{}]', re.S)
_SURROGATE = re.compile(r"[\ud800-\udfff]")


def _to_json(m: re.Match) -> str:
    dq, sq, sign = m.groups()
    if sign:
        return "Infinity" if sign == "+" else "-Infinity"
    body = _ESCAPE_OR_DQUOTE.sub(
        lambda e: '\\"' if e.group(1) is None else ("'" if e.group(1) == "'" else e.group()),
        dq if sq is None else sq,
    )
    return f'"{body}"'


def _too_deep(s: str) -> bool:
    if s.count("[") + s.count("{") <= _MAX_DEPTH:
        return False
    depth = 0
    for m in _NESTING.finditer(s):  # up to where the root value closes
        depth += {"[": 1, "{": 1, "]": -1, "}": -1}.get(m.group(), 0)
        if depth > _MAX_DEPTH or depth == 0:
            return depth > 0
    return False


def _text(v) -> str | None:
    """A parsed value as Spark's string: nested objects/arrays (lists
    here) start with '[' and are dropped as suspicious either way; a
    lone surrogate becomes '?', as Java's UTF-8 encoder writes it."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, list):
        return json.dumps(v)
    if v is not None and _SURROGATE.search(v):
        return v.encode("utf-8", "replace").decode("utf-8")
    return v


def _json_entries(s: str) -> list[tuple[str, str | None]] | None:
    """``from_json(s, 'map<string,string>')`` as (key, value) pairs: the
    first value is read, trailing text ignored, duplicate keys kept.
    None where Spark gives NULL (not an object, or malformed)."""
    if not s.startswith("{") or _too_deep(s):
        return None
    try:
        pairs = _DECODER.raw_decode(s)[0]
    except json.JSONDecodeError as e:
        if not s.startswith(("'", "\\'", "+", "-"), e.pos):
            return None
        try:
            pairs = _DECODER.raw_decode(_JACKSON_TOKEN.sub(_to_json, s))[0]
        except ValueError:
            return None
    except ValueError:  # a number token over Jackson's length limit
        return None
    return [(_text(k), _text(v)) for k, v in pairs]


# --- F-8: the line fallback (auto_translate.py:553-646) -----------------

# Patterns in reference priority order (``auto_translate.py:553-563``).
_P_JSONISH = re.compile(rf'"?([0-9]+)"?{_S}*:{_S}*"({_DOT}+?)"{_END}')  # "21": "t"
_P_TUPLE = re.compile(rf"([0-9]+)\.{_S}*\('([0-9]+)',{_S}*'({_DOT}+?)'\){_END}")
_P_NUMBERED = re.compile(rf"(?:desc_)?([0-9]+)\.{_S}*({_DOT}*){_END}")  # 21. t
_P_GENERIC = re.compile(rf"([^.]+)\.{_S}*({_DOT}*){_END}")  # key. value
_SKIP_LINES = frozenset({"plaintext", "json", "text"})


def _strip_quotes(v: str) -> str:
    return _rstrip(_ws_trim(v).lstrip("\"'"), "\"'")


def _line_entries(s: str) -> dict[str, str]:
    """F-8: first matching pattern per line; fence/html/bare-keyword lines
    skipped; quotes stripped; suspicious values dropped; last-wins."""
    out: dict[str, str] = {}
    for raw in s.split("\n"):
        line = _ws_trim(raw)
        if not line or line.startswith(("```", "<")) or line in _SKIP_LINES:
            continue
        if m := _P_JSONISH.match(line):
            k, v = m.group(1), m.group(2)
        elif m := _P_TUPLE.match(line):
            k, v = m.group(2), m.group(3)
        elif m := _P_NUMBERED.match(line):
            k, v = m.group(1), m.group(2)
        elif m := _P_GENERIC.match(line):
            k, v = m.group(1).removeprefix("desc_"), m.group(2)
        else:
            continue
        v = _strip_quotes(v)
        if v and not _suspicious(v):
            out[k] = v
    return out


# --- the cascade --------------------------------------------------------


def parse_map(content: str | None) -> tuple[str, list[tuple[str, str]]]:
    """F-7 -> F-8 for one blob: (strategy, [(description_id, translation)]).

    The strategy is one of :data:`STRATEGIES`. No repair is applied.
    """
    if content is None or not _ws_trim(content):
        return "empty", []
    for strategy, clean in _LADDER:
        entries = _json_entries(clean(content))
        if entries:
            return strategy, [
                (k, v)
                for k, v in entries
                if v is not None and (t := _ws_trim(v)) and not _suspicious(t)
            ]
    lines = _line_entries(content)
    return ("line_fallback" if lines else "unparseable"), list(lines.items())


def parse_content(content: str | None) -> list[tuple[str, str, str]]:
    """F-13 -> F-7/F-8: repair a truncated blob, then parse it ->
    [(description_id, translation, strategy)]."""
    fixed = repair_content(content)
    strategy, entries = parse_map(content if fixed is None else fixed)
    return [(k, v, strategy) for k, v in entries]


_PARSED = "batch_id string, description_id string, translation string, strategy string"
_PARSED_COLS = ["batch_id", "description_id", "translation", "strategy"]


def _parse_frames(frames):
    for pdf in frames:
        yield pd.DataFrame(
            [
                (batch, *row)
                for batch, content in zip(pdf["custom_id"], pdf["content"])
                for row in parse_content(content)
            ],
            columns=_PARSED_COLS,
        )


def parse_responses(responses: DataFrame) -> DataFrame:
    """Response rows (custom_id, content) -> one row per parsed id:
    (batch_id, description_id, translation, strategy). One Arrow-batched
    Python pass does repair, parse and strategy per response."""
    return responses.select("custom_id", "content").mapInPandas(_parse_frames, _PARSED)


class _Entries(list):
    """Map entries that may repeat a key, as ``from_json`` maps do; the
    Arrow converter reads a map through ``items()``."""

    def items(self):
        return self


@F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
def parse_translations(content: pd.Series) -> pd.Series:
    """The cascade's id->translation map (empty for null/blank input, like
    the reference's ``{}``), suspicious values dropped. No repair."""
    return content.map(lambda c: _Entries(parse_map(c)[1]))


@F.pandas_udf(T.StringType())
def parse_strategy(content: pd.Series) -> pd.Series:
    """Which rung of the cascade produced the map (feeds the R-21
    analysis rollup). No repair."""
    return content.map(lambda c: parse_map(c)[0])
