"""Re-pin committed-baseline rows as MEDIAN-of-calm-mins across
sessions.

Round 8's baseline re-pin merged per-query CALM minima across four
independent bench sessions — which is min-of-many-sessions
cherry-picking: each session's calm min is itself a minimum, so taking
the min again selects the single luckiest window any session ever hit,
and every future honest calm run reads "slow" against it (VERDICT r8
#3: tpch_q13 pinned at 0.886 s where every calm re-measurement floors
at 1.23-1.42 s — a guaranteed perma-flag). The symmetric statistic is
the MEDIAN of per-session calm mins: bench.py compares a calm min
against the baseline row, so the row must be a TYPICAL calm min, not
the best one ever recorded.

This tool measures one session: bench.py's exact protocol (same
warm-up, noop sink, clearCache between runs, the round-9 two-leg
CPU+I/O calm gate) for a named subset of queries, and prints one JSON
line {"queries": {name: calm_min}, "uncalm": [...]}. Run it N times
(fresh process each — a fresh JVM per session is the point), then pin
each row as the median of its N calm mins:

    for i in 1 2 3; do python tools/pin_baseline.py \
        --only tpch_q13_order_distribution,... >> /tmp/pins.jsonl; done

The committed BENCH_BASELINE_sf0.1.json row then records the median and
names this protocol in its note.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (the probe/gates ARE the bench's — shared on purpose)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", required=True, help="comma list of queries")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--n", type=int, default=3, help="base runs per query")
    ap.add_argument("--max-extra", type=int, default=5)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from automotive_translation_pipeline_spark.session import get_spark

    spark = get_spark(app_name="atp_pin_baseline", cpus=args.cpus)
    qs = entrymod.queries()
    # bench.py's exact warm-up: generated classes compiled into the
    # session's codegen cache, the JIT warmed, the Python workers started.
    qs["r23_group_by_language"](spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    qs["pipeline_rows"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    out: dict[str, float] = {}
    times_all: dict[str, list] = {}
    uncalm: list[str] = []
    for name in args.only.split(","):
        recs: list[tuple[float, float, float]] = []
        p_prev = bench.probe()
        while len(recs) < args.n + args.max_extra:
            spark.catalog.clearCache()
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            sec = round(time.time() - t0, 3)
            p_next = bench.probe()
            recs.append(
                (
                    sec,
                    round(max(p_prev[0], p_next[0]), 4),
                    round(max(p_prev[1], p_next[1]), 4),
                )
            )
            p_prev = p_next
            calm = [
                r
                for r in recs
                if r[1] <= bench.PROBE_GATE and r[2] <= bench.IO_GATE
            ]
            # A pin wants a REPRESENTATIVE calm min: require >= 2 calm
            # runs before stopping (a single calm run can't show its
            # own spread), but never more than the retry budget.
            if len(recs) >= args.n and len(calm) >= 2:
                break
        calm = [
            r
            for r in recs
            if r[1] <= bench.PROBE_GATE and r[2] <= bench.IO_GATE
        ]
        times_all[name] = recs
        if calm:
            out[name] = min(r[0] for r in calm)
        else:
            uncalm.append(name)
    print(
        json.dumps(
            {
                "queries": out,
                "uncalm": uncalm,
                "runs": times_all,
                "probe_gate_s": bench.PROBE_GATE,
                "io_gate_s": bench.IO_GATE,
                "cpus": args.cpus,
                "sf": args.sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
