"""Text cleanup column functions (SURVEY §2.9: F-19) and the Java
whitespace trims the native predicates share.

All pure column expressions — they stay inside whole-stage codegen.
The F-3..F-6 markdown/JSON cleanup ladder is part of the Python parse
core (``parsing.py``), which runs it once per response.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ws_trim(c: Column) -> Column:
    r"""Trim Java ``\s`` whitespace (``[ \t\n\x0b\f\r]``) at both ends.
    Spark's ``trim`` only strips spaces, which diverges from the
    reference on newline-padded blobs; unlike ``str.strip()``, NBSP and
    other Unicode spaces stay (``parsing._ws_trim`` is the Python twin)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def ws_rtrim(c: Column) -> Column:
    """Trailing half of :func:`ws_trim`."""
    return F.regexp_replace(c, r"\s+$", "")


def strip_numbering(c: Column) -> Column:
    """F-19: remove a leading ``N. `` numbering prefix.
    Reference: ``old_functionalities/testing.py:23-24``."""
    return F.regexp_replace(c, r"^\d+\.\s*", "")


def collapse_word_repeats(c: Column) -> Column:
    """Collapse consecutive repeated words in the normalized text
    ("the the the model" -> "the model") — the stutter/boilerplate-run
    cleanup from standard web-text pipelines, as a pure array
    expression. Formulated as a SHIFT + zip_with (pair each word with
    its predecessor, null out the repeats, compact): zip_with
    evaluates each argument array once, whereas the indexed-lambda
    form (element_at(words, i) inside a filter) re-inlines and
    re-evaluates the whole words expression PER ELEMENT — lambdas
    have no let-binding and Catalyst does not CSE across them; that
    quadratic was 34 s on 50k docs at sf1, this form is linear.
    Zero shuffles, zero Python; runs at scan speed on any corpus."""
    from .text import normalized_text

    words = F.split(normalized_text(c), " ")
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
    )
    marked = F.zip_with(
        words, prev, lambda w, p: F.when(p.isNull() | (w != p), w)
    )
    return F.array_join(F.filter(marked, lambda w: w.isNotNull()), " ")
