"""The parse cascade as a Spark 4 Python UDTF (SURVEY §2.12): one blob
fans out to (description_id, translation, strategy) rows through a
LATERAL join. Its body is ``parsing.parse_content``, the core that
``parsing.parse_responses`` runs, so the SQL and DataFrame paths agree.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

from .parsing import parse_content


@udtf(returnType="description_id string, translation string, strategy string")
class ParseTranslationsUDTF:
    """LATERAL-joinable table function: one content blob in, zero or
    more (description_id, translation, strategy) rows out."""

    def eval(self, content: str | None):  # noqa: D102 — contract above
        yield from parse_content(content)


def register_parse_udtf(spark) -> None:
    """Expose as SQL ``parse_translations_udtf`` for LATERAL joins."""
    spark.udtf.register("parse_translations_udtf", ParseTranslationsUDTF)
