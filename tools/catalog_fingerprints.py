"""Per-query catalog fingerprints — the anti-staleness tool behind
``queries_catalog._CHANGED_THIS_ROUND``.

Each catalog entry's fingerprint is a hash of its implementation source
(``inspect.getsource``) plus its oracle SQL, computed by
``queries_catalog.fingerprints``, which the catalog's ranking also uses. A
snapshot of all fingerprints is committed at the end of every round
(``tools/catalog_fingerprints.json``); during the next round,
``tests/test_catalog_fingerprints.py`` diffs the live catalog against
the snapshot and fails if any drifted query is missing from
``_CHANGED_THIS_ROUND`` (or vice versa) — so the driver-priority set
can't go stale silently.

    python tools/catalog_fingerprints.py          # report drift
    python tools/catalog_fingerprints.py --write  # refresh snapshot
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

SNAPSHOT = Path(__file__).with_name("catalog_fingerprints.json")


def current_fingerprints() -> dict[str, str]:
    """The live catalog's fingerprints (``queries_catalog.fingerprints``)."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from automotive_translation_pipeline_spark.queries_catalog import fingerprints

    return fingerprints()


def drift() -> tuple[set[str], set[str]]:
    """(changed-or-new, deleted) vs the committed snapshot."""
    cur = current_fingerprints()
    old = (
        json.loads(SNAPSHOT.read_text()) if SNAPSHOT.exists() else {}
    )
    changed = {n for n, h in cur.items() if old.get(n) != h}
    deleted = set(old) - set(cur)
    return changed, deleted


if __name__ == "__main__":
    if "--write" in sys.argv:
        SNAPSHOT.write_text(
            json.dumps(current_fingerprints(), indent=1, sort_keys=True) + "\n"
        )
        print(f"wrote {SNAPSHOT}")
    else:
        changed, deleted = drift()
        print("changed/new:", sorted(changed) or "-")
        print("deleted:", sorted(deleted) or "-")
