"""Truncation repair (SURVEY §2.9: F-9..F-13) — the one genuinely
iterative, parse-validated piece of the stack.

The reference repairs truncated LLM responses by re-fencing, balancing
braces, and cutting back to the last complete ``"k": "v"`` line, each
attempt validated with ``json.loads`` (``fix_truncated_content``,
``fix_incomplete_json``, ``extract_json_from_markdown``,
``attempt_auto_repair``, ``repair_failed_batch`` —
``auto_translate.py:700-901``). That try/parse/retry loop is not
expressible as a Catalyst expression. :func:`repair_content` is the
first step of the Python parse kernel (``parsing.parse_content``), so the
flagship repairs and parses each response in one Arrow-batched pass;
:func:`repair_json_udf` exposes it as a column for the analyze-mode
classifications. Whatever it rewrites, the native ``is_truncated``
flags (``tests/test_repair.py``), so it needs no gate in front of it.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _balance_braces(json_str: str) -> str | None:
    """F-10 step 1: append missing ``}`` and validate."""
    s = json_str.rstrip().rstrip(",")
    missing = s.count("{") - s.count("}")
    if missing > 0:
        candidate = s + "\n" + "}" * missing
        try:
            return json.dumps(json.loads(candidate), ensure_ascii=False)
        except json.JSONDecodeError:
            pass
    return None


def _cut_to_last_complete(json_str: str) -> str | None:
    """F-10 step 2: drop trailing garbage after the last complete
    ``"k": "v"`` entry, re-balance, validate."""
    lines = json_str.split("\n")
    last_valid = None
    for i in range(len(lines) - 1, -1, -1):
        if re.match(r'\s*"[^"]*":\s*"[^"]*"', lines[i].strip()):
            last_valid = i
            break
    if last_valid is None:
        return None
    kept = lines[: last_valid + 1]
    kept[-1] = kept[-1].rstrip().rstrip(",")
    rebuilt = "\n".join(kept)
    missing = rebuilt.count("{") - rebuilt.count("}")
    if missing > 0:
        rebuilt += "\n" + "}" * missing
    try:
        return json.dumps(json.loads(rebuilt), ensure_ascii=False)
    except json.JSONDecodeError:
        return None


def repair_content(content: str | None) -> str | None:
    """F-9/F-10/F-11: fix a truncated fenced-JSON blob; returns the
    repaired *content* string (re-fenced) or None if unrepairable."""
    if not content:
        return None
    if content.startswith("```json") and not content.rstrip().endswith("```"):
        m = re.search(r"```json\s*\n(\{.*)", content, re.DOTALL)
        if m:
            fixed = _balance_braces(m.group(1)) or _cut_to_last_complete(m.group(1))
            if fixed is not None:
                return f"```json\n{fixed}\n```"
    # Bare (unfenced) truncated JSON object.
    if content.lstrip().startswith("{") and content.count("{") > content.count("}"):
        fixed = _balance_braces(content) or _cut_to_last_complete(content)
        if fixed is not None:
            return fixed
    return None


@F.pandas_udf(T.StringType())
def repair_json_udf(content: pd.Series) -> pd.Series:
    """F-12/F-13 as a column: the repaired content string, or None.

    The analyze-mode classifications compare
    ``parse_translations(c)`` with
    ``parse_translations(coalesce(repair_json_udf(c), c))``; the flagship
    uses ``parsing.parse_responses``, which does both in one pass.
    """
    return content.map(repair_content)
