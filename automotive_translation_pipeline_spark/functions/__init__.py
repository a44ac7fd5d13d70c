from .cleaning import strip_numbering  # noqa: F401
from .parsing import parse_responses, parse_translations  # noqa: F401
from .predicates import is_suspicious, is_truncated  # noqa: F401
from .repair import repair_json_udf  # noqa: F401
from .text import (  # noqa: F401
    doc_fingerprint,
    lang_id,
    quality_score,
    script_of,
    token_count,
    word_shingles,
)
from .timeutil import format_unix_ts  # noqa: F401
