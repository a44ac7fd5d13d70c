"""Operator library.

Every persisted or checkpointed intermediate goes through
:mod:`.staging` (``stage``/``staged``), which also holds the
localCheckpoint doctrine."""

from .aggregates import (  # noqa: F401
    error_rollup,
    group_counts,
    run_summary,
)
from .dedup import anti_join_dedup, exact_dedup  # noqa: F401
from .joins import detect_extras, rejoin_results  # noqa: F401
from .packing import (  # noqa: F401
    assign_batches_cumsum,
    assign_batches_greedy,
    materialize_requests,
)
from .windows import (  # noqa: F401
    last_wins,
    sequence_check,
    shift_flags,
    topk_recent,
)
