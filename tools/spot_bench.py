"""Spot-bench a subset of catalog queries at an arbitrary SF directory.

The per-round SCALE.md evidence (sf1 -> sf3 -> sf10 -> sf30 -> sf100
ratio tables) is produced with this tool: ``--n`` runs per query through
``bench.measure`` (noop sink, cache cleared, wall and process-tree CPU
without JIT compiler threads), min and median wall and median CPU
reported, ONE fresh Spark session per invocation (run one sf per
process). Each measured run is one ``staged()`` scope, so a query's
checkpoint and cache blocks are released before the next run starts.

    python tools/spot_bench.py --sf .testdata/sf10 \
        --only dedup_ngram_jaccard,dedup_winnow_pairs --n 2

Prints one JSON line: {"sf_dir": ..., "queries": {name: min_sec},
"queries_median": {...}, "queries_cpu": {name: median_cpu_sec}}.

Paired alternation (``--paired``): each round runs leg A (current env)
then leg B (env overrides from the flag's ``K=V,K2=V2`` argument)
back-to-back in fresh JVMs, one measured run each, so both legs see the
same host and the per-round ratio compares like with like. With an
EMPTY override string the legs are identical and the instrument
certifies stability: adjacent same-plan runs agreeing within ~10% show
that neither was slowed by the host. A bare ``--paired`` runs that form:

    python tools/spot_bench.py --sf .testdata/sf100 \
        --only text_bigram_surprisal \
        --paired --rounds 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _last_json(out: subprocess.CompletedProcess):
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="sf directory")
    ap.add_argument("--only", required=True, help="comma list of queries")
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--paired", default=None, nargs="?", const="",
                    help="paired-alternation mode: run leg A (current "
                    "env) then leg B (comma list of K=V env overrides; "
                    "empty = identical legs, a stability "
                    "certification) back-to-back per round, fresh JVM "
                    "per leg; report per-round secs + B/A ratio")
    ap.add_argument("--rounds", type=int, default=3,
                    help="paired mode: number of A/B rounds")
    ap.add_argument("--one-run", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    names = [q.strip() for q in args.only.split(",") if q.strip()]
    me = [sys.executable, os.path.abspath(__file__), "--sf", args.sf,
          "--cpus", str(args.cpus)]

    if args.paired is not None:
        overrides = dict(
            kv.split("=", 1)
            for kv in args.paired.split(",")
            if kv.strip()
        )

        def _leg(name: str, env_over: dict[str, str]) -> dict:
            # --one-run: the hidden worker below, one measured run.
            out = subprocess.run(
                me + ["--only", name, "--one-run"],
                env={**os.environ, **env_over},
                capture_output=True, text=True,
            )
            try:
                return _last_json(out)[name]
            except (ValueError, IndexError, KeyError):
                tail = (out.stderr or "").strip().splitlines()[-3:]
                raise SystemExit(f"paired leg failed for {name}: {tail}")

        paired: dict[str, dict] = {}
        for name in names:
            rounds = []
            for r in range(args.rounds):
                a = _leg(name, {})
                b = _leg(name, overrides)
                rounds.append({
                    "a_sec": a["sec"], "b_sec": b["sec"],
                    "a_cpu": a["cpu"], "b_cpu": b["cpu"],
                    "ratio_b_over_a": round(b["sec"] / max(a["sec"], 1e-9), 3),
                    "cpu_ratio_b_over_a": round(
                        b["cpu"] / max(a["cpu"], 1e-9), 3
                    ),
                })
                print(
                    f"  {name} round{r + 1}: A={a['sec']}s/{a['cpu']}cpu "
                    f"B={b['sec']}s/{b['cpu']}cpu",
                    file=sys.stderr,
                )
            a_secs = [r["a_sec"] for r in rounds]
            b_secs = [r["b_sec"] for r in rounds]
            ratios = [r["ratio_b_over_a"] for r in rounds]
            paired[name] = {
                "rounds": rounds,
                "a_min": min(a_secs), "b_min": min(b_secs),
                "a_median": round(statistics.median(a_secs), 3),
                "b_median": round(statistics.median(b_secs), 3),
                "ratio_median": round(statistics.median(ratios), 3),
                "cpu_ratio_median": round(statistics.median(
                    r["cpu_ratio_b_over_a"] for r in rounds
                ), 3),
                "b_wins": sum(1 for r in ratios if r < 1.0),
                # Self-paired stability: fraction of rounds whose two
                # identical-plan legs agree within 10%.
                "agree_frac": round(
                    sum(
                        1 for r in rounds
                        if max(r["a_sec"], r["b_sec"])
                        <= 1.1 * min(r["a_sec"], r["b_sec"])
                    ) / len(rounds), 3,
                ) if not overrides else None,
            }
        print(json.dumps({
            "sf_dir": args.sf,
            "mode": "paired",
            "rounds": args.rounds,
            "cpus": args.cpus,
            "overrides": overrides,
            "paired": paired,
        }))
        return

    rows = ("queries", "queries_median", "queries_cpu")
    merged: dict = {"sf_dir": args.sf, "n": args.n, "cpus": args.cpus,
                    **{row: {} for row in rows}}

    import bench
    from automotive_translation_pipeline_spark import queries_catalog as qc
    from automotive_translation_pipeline_spark.session import get_spark

    spark = get_spark(app_name="atp_spot_bench", cpus=args.cpus)
    qs = qc.queries()
    if args.one_run:
        # Worker for paired mode: each query measured exactly once.
        one = {}
        for name in names:
            sec, cpu = bench.measure(spark, qs[name], args.sf)
            one[name] = {"sec": sec, "cpu": cpu}
        print(json.dumps(one))
        spark.stop()
        return

    for name in names:
        runs = [bench.measure(spark, qs[name], args.sf) for _ in range(args.n)]
        for i, (sec, cpu) in enumerate(runs):
            print(f"  {name} run{i + 1}: {sec:.1f}s cpu={cpu:.1f}s",
                  file=sys.stderr)
        for row, value in zip(rows, bench.summarize(runs)):
            merged[row][name] = value
    print(json.dumps(merged))
    spark.stop()


if __name__ == "__main__":
    main()
