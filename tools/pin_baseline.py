"""Re-pin the committed baseline rows (BENCH_BASELINE_sf<sf>.json) from
SESSIONS fresh-JVM sessions of bench.py's protocol.

Each session is a fresh Python process, so a fresh JVM: it starts a
session at the ``cpus`` the baseline file records (32 when there is no
file), runs ``bench.warm_up``, then ``bench.measure`` ``--n`` times per
query. Per query and session it keeps the min wall, the median wall and
the median CPU; each pinned row is the MEDIAN of those across sessions.
A min of per-session minima would pin the luckiest session ever seen and
make every later run read slow against it; the median pins a typical one.

    python tools/pin_baseline.py                  # all bench.HEADLINE rows
    python tools/pin_baseline.py --only tpch_q13_order_distribution,...

Rows of queries not measured keep their committed values. Prints one JSON
line with each session's rows and writes the baseline file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (the measurement IS the bench's, shared on purpose)

SESSIONS = 3
ROWS = ("queries", "queries_median", "queries_cpu")


def session(names: list[str], sf_dir: str, cpus: int, n: int) -> dict:
    """One fresh-JVM session: bench's warm-up, then ``n`` measured runs
    per query. Returns ``{row: {name: value}}`` for the three ROWS."""
    os.chdir(ROOT)  # Python workers import the package from the cwd
    import __spark_entry__ as entrymod
    from automotive_translation_pipeline_spark.session import get_spark

    spark = get_spark(app_name="atp_pin_baseline", cpus=cpus)
    qs = entrymod.queries()
    bench.warm_up(spark, qs, sf_dir)
    out: dict[str, dict] = {row: {} for row in ROWS}
    for name in names:
        runs = [bench.measure(spark, qs[name], sf_dir) for _ in range(n)]
        for row, value in zip(ROWS, bench.summarize(runs)):
            out[row][name] = value
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None,
                    help="comma list of queries (default: bench.HEADLINE)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=bench.N_RUNS,
                    help="measured runs per query per session")
    args = ap.parse_args()

    sf = bench.sf_tag(args.sf)
    path = os.path.join(ROOT, f"BENCH_BASELINE_sf{sf}.json")
    old = bench.committed_baseline(sf) if os.path.exists(path) else {}
    cpus = int(old.get("cpus", 32))
    names = args.only.split(",") if args.only else list(bench.HEADLINE)

    sessions = []
    for i in range(SESSIONS):
        # One process per session: a session's JVM exits with it.
        with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as ex:
            sessions.append(
                ex.submit(session, names, args.sf, cpus, args.n).result()
            )
        print(f"  session {i + 1}/{SESSIONS} done", file=sys.stderr)

    base = {row: dict(old.get(row, {})) for row in ROWS}
    for row in ROWS:
        for name in names:
            base[row][name] = round(
                statistics.median(s[row][name] for s in sessions), 3
            )
    base.update({
        "metric": "headline_suite_baseline",
        "sf": float(sf),
        "cpus": cpus,
        "sessions": SESSIONS,
        "runs_per_query": args.n,
        "n_queries": len(base["queries"]),
        "value": round(sum(base["queries"].values()), 3),
        "note": (
            "Pinned by tools/pin_baseline.py: per row, the median over "
            f"{SESSIONS} fresh-JVM sessions of bench.py's protocol "
            "(bench.warm_up, then bench.measure: noop sink, cache "
            "cleared, process-tree CPU without JIT compiler threads). "
            "queries = min wall, queries_median = median wall, "
            "queries_cpu = median CPU; bench.py flags a query whose "
            "median CPU exceeds bench.GUARD x its queries_cpu row."
        ),
    })
    bench.atomic_write_json(path, base)
    print(json.dumps({"sessions": sessions, "baseline_file": path}))


if __name__ == "__main__":
    main()
