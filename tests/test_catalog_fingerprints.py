"""Anti-staleness contract for the driver-priority set: every catalog
entry whose implementation or oracle drifted from the committed
fingerprint snapshot must be declared in ``_CHANGED_THIS_ROUND`` (so it
lands in the driver's sampled prefix), and nothing undrifted may squat
there (stale entries mask the intent). Brand-new queries are exempt —
never-sampled names already outrank greens in the ordering."""

from __future__ import annotations

import json

from automotive_translation_pipeline_spark.queries_catalog import (
    _CHANGED_THIS_ROUND,
    _REGISTRY,
)
from tools.catalog_fingerprints import SNAPSHOT, current_fingerprints


def test_changed_this_round_matches_fingerprint_drift():
    assert SNAPSHOT.exists(), (
        "missing tools/catalog_fingerprints.json — run "
        "`python tools/catalog_fingerprints.py --write` and commit it"
    )
    old = json.loads(SNAPSHOT.read_text())
    cur = current_fingerprints()
    drifted = {n for n, h in cur.items() if n in old and old[n] != h}
    undeclared = drifted - _CHANGED_THIS_ROUND
    assert not undeclared, (
        f"queries changed but not in _CHANGED_THIS_ROUND: {sorted(undeclared)}"
        " — add them (their old driver-green row no longer applies)"
    )
    stale = _CHANGED_THIS_ROUND - drifted - (set(cur) - set(old))
    assert not stale, (
        f"_CHANGED_THIS_ROUND entries with no drift: {sorted(stale)}"
        " — remove them or refresh the snapshot"
    )


def test_changed_this_round_names_exist():
    assert _CHANGED_THIS_ROUND <= set(_REGISTRY), (
        "_CHANGED_THIS_ROUND names a query that is not in the catalog"
    )


def test_catalog_order_is_ranked_once_and_matches_a_fresh_ranking():
    """queries()/oracle_sql() reuse one ranking per process; it must be
    the order a fresh, unmemoized ranking gives."""
    from automotive_translation_pipeline_spark import queries_catalog as qc

    fresh = qc._ordered_names.__wrapped__()
    assert qc._ordered_names() == fresh
    assert qc._ordered_names() is qc._ordered_names()
    assert tuple(qc.queries()) == fresh
    assert tuple(qc.oracle_sql()) == tuple(
        n for n in fresh if qc._REGISTRY[n][1] is not None
    )
