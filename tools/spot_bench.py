"""Spot-bench a subset of catalog queries at an arbitrary SF directory.

The per-round SCALE.md evidence (sf1 -> sf3 -> sf10 -> sf30 -> sf100
ratio tables) is produced with this tool: noop sink, N repeats with
cache cleared between them, min + median reported, ONE fresh Spark
session per invocation (heavy multi-sf sessions accumulate
localCheckpoint blocks and shuffle files — run one sf per process).

Calm-window gating (round 7): the shared host shows hypervisor-steal
spikes that slow it 2-8x for minutes at a time (bench.py
cpu_calibration measured 0.64 s at baseline, 1.2-5.2 s during one
round-7 campaign) — a min-of-N without a speed probe is meaningless
under that. Every run is now bracketed by cpu_calibration() probes;
a run only counts as CALM if max(before, after) <= --calib-gate
(default 1.0 s, ~1.5x baseline), and each query keeps retrying (up to
--max-extra extra runs) until it has a calm run. Output carries the
per-query calibration so SCALE.md ratios can cite like-for-like
conditions.

Round 9 adds the I/O leg bench.py got in round 8 (VERDICT r8 #2a: a
disk storm is invisible to a CPU probe, and shuffle spill is exactly
what a SPOT-family heavy query pays): every run is also bracketed by
bench.io_probe() (best-of-3 write+fsync+parquet-decode), and CALM now
requires BOTH legs — calib <= --calib-gate AND io <= --io-gate. The
artifact carries queries_io so a ratio table can cite disk evidence.

    python tools/spot_bench.py --sf .testdata/sf10 \
        --only dedup_ngram_jaccard,dedup_winnow_pairs --n 2

Prints one JSON line: {"sf_dir": ..., "queries": {name: min_calm_sec},
"queries_calib": {name: calib_of_min}, "queries_median": {...},
"uncalm": [names...]}.

Paired alternation (round 10, VERDICT r9 #3): bracket calm-gating is
structurally unsound for multi-minute queries — a storm that starts
after the leading probe and ends before the trailing one is invisible.
``--paired`` adjudicates by ALTERNATION instead: each round runs leg A
(current env) then leg B (env overrides from the flag's
``K=V,K2=V2`` argument) back-to-back in fresh JVMs, so both legs see
the same weather and the per-round ratio is storm-robust (this is how
the round-9 unigram rewrite was proven: 155.6 vs 287.9 s under
identical brackets). With an EMPTY override string the legs are
identical and the instrument degenerates to a stability
certification: adjacent same-plan runs agreeing within ~10% certify
that neither was storm-inflated — reproduction, not brackets, is the
evidence for a multi-minute committed number. A bare ``--paired``
runs that form:

    python tools/spot_bench.py --sf .testdata/sf100 \
        --only text_bigram_surprisal \
        --paired --rounds 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="sf directory")
    ap.add_argument("--only", required=True, help="comma list of queries")
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--calib-gate", type=float, default=1.0,
                    help="max cpu_calibration() secs for a calm run")
    ap.add_argument("--io-gate", type=float, default=None,
                    help="max io_probe() secs for a calm run "
                    "(default: bench.IO_GATE)")
    ap.add_argument("--max-extra", type=int, default=4,
                    help="extra retries per query hunting a calm window")
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
    ap.add_argument("--isolate", action="store_true",
                    help="one subprocess (fresh JVM) per query: heavy "
                    "queries leak localCheckpoint blocks that slow "
                    "later queries in the same session (measured 11 s "
                    "-> 42 s for dedup_duplicate_spans at sf30 when it "
                    "ran after the pre-fix ngram blowup); isolation "
                    "makes every number a solo number")
    args = ap.parse_args()

    if args.one_run:
        # Hidden worker for paired mode: execute each query exactly
        # once, no calm gating (pairing, not brackets, adjudicates),
        # print one JSON line with the probe readings for the record.
        from bench import cpu_calibration, io_probe

        from automotive_translation_pipeline_spark import (
            queries_catalog as qc,
        )
        from automotive_translation_pipeline_spark.session import get_spark

        spark = get_spark(app_name="atp_spot_paired", cpus=args.cpus)
        qs = qc.queries()
        out = {}
        for name in [q.strip() for q in args.only.split(",") if q.strip()]:
            c0, i0 = cpu_calibration(), io_probe()
            spark.catalog.clearCache()
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            sec = time.time() - t0
            c1, i1 = cpu_calibration(), io_probe()
            out[name] = {
                "sec": round(sec, 3),
                "calib": round(max(c0, c1), 3),
                "io": round(max(i0, i1), 4),
            }
        print(json.dumps(out))
        spark.stop()
        return

    if args.paired is not None:
        import statistics as st
        import subprocess

        overrides = dict(
            kv.split("=", 1)
            for kv in args.paired.split(",")
            if kv.strip()
        )
        names = [q.strip() for q in args.only.split(",") if q.strip()]

        def _leg(name: str, env_over: dict[str, str]) -> dict:
            env = dict(os.environ)
            env.update(env_over)
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--sf", args.sf, "--only", name, "--one-run",
                "--cpus", str(args.cpus),
            ]
            out = subprocess.run(
                cmd, env=env, capture_output=True, text=True
            )
            try:
                return json.loads(
                    out.stdout.strip().splitlines()[-1]
                )[name]
            except (ValueError, IndexError, KeyError):
                tail = (out.stderr or "").strip().splitlines()[-3:]
                raise SystemExit(
                    f"paired leg failed for {name}: {tail}"
                )

        paired: dict[str, dict] = {}
        for name in names:
            rounds = []
            for r in range(args.rounds):
                a = _leg(name, {})
                b = _leg(name, overrides)
                ratio = round(b["sec"] / max(a["sec"], 1e-9), 3)
                rounds.append({
                    "a_sec": a["sec"], "b_sec": b["sec"],
                    "ratio_b_over_a": ratio,
                    "a_calib": a["calib"], "b_calib": b["calib"],
                    "a_io": a["io"], "b_io": b["io"],
                })
                print(
                    f"  {name} round{r + 1}: A={a['sec']}s "
                    f"B={b['sec']}s ratio={ratio}",
                    file=sys.stderr,
                )
            a_secs = [r["a_sec"] for r in rounds]
            b_secs = [r["b_sec"] for r in rounds]
            ratios = [r["ratio_b_over_a"] for r in rounds]
            paired[name] = {
                "rounds": rounds,
                "a_min": min(a_secs), "b_min": min(b_secs),
                "a_median": round(st.median(a_secs), 3),
                "b_median": round(st.median(b_secs), 3),
                "ratio_median": round(st.median(ratios), 3),
                "b_wins": sum(1 for r in ratios if r < 1.0),
                # Self-paired stability: fraction of rounds whose two
                # identical-plan legs agree within 10% — ~1.0 means no
                # storm touched the measurements.
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

    if args.isolate:
        import subprocess

        merged: dict[str, dict] = {
            "sf_dir": args.sf, "n": args.n, "cpus": args.cpus,
            "calib_gate": args.calib_gate, "queries": {},
            "queries_calib": {}, "queries_io": {},
            "queries_median": {}, "uncalm": [],
        }
        for name in [q.strip() for q in args.only.split(",") if q.strip()]:
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--sf", args.sf, "--only", name,
                "--n", str(args.n), "--cpus", str(args.cpus),
                "--calib-gate", str(args.calib_gate),
                "--max-extra", str(args.max_extra),
            ]
            if args.io_gate is not None:
                cmd += ["--io-gate", str(args.io_gate)]
            out = subprocess.run(
                cmd, capture_output=True, text=True
            )
            print(out.stderr.splitlines()[-1] if out.stderr else "",
                  file=sys.stderr)
            try:
                row = json.loads(out.stdout.strip().splitlines()[-1])
            except (ValueError, IndexError):
                print(f"  {name}: subprocess failed", file=sys.stderr)
                continue
            for k in ("queries", "queries_calib", "queries_io",
                      "queries_median"):
                merged[k].update(row.get(k, {}))
            merged["uncalm"] += row.get("uncalm", [])
        print(json.dumps(merged))
        return

    from bench import IO_GATE, cpu_calibration, io_probe

    from automotive_translation_pipeline_spark import queries_catalog as qc
    from automotive_translation_pipeline_spark.session import get_spark

    io_gate = args.io_gate if args.io_gate is not None else IO_GATE
    spark = get_spark(app_name="atp_spot_bench", cpus=args.cpus)
    qs = qc.queries()
    names = [n.strip() for n in args.only.split(",") if n.strip()]
    mins: dict[str, float] = {}
    min_calib: dict[str, float] = {}
    min_io: dict[str, float] = {}
    medians: dict[str, float] = {}
    uncalm: list[str] = []
    for name in names:
        # (sec, max cpu-calib around it, max io-probe around it)
        runs: list[tuple[float, float, float]] = []
        attempts = 0

        def _calm(rs):
            return [
                r for r in rs
                if r[1] <= args.calib_gate and r[2] <= io_gate
            ]

        while attempts < args.n + args.max_extra:
            attempts += 1
            c0, i0 = cpu_calibration(), io_probe()
            spark.catalog.clearCache()
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            sec = time.time() - t0
            c1, i1 = cpu_calibration(), io_probe()
            calib, io = max(c0, c1), max(i0, i1)
            runs.append((sec, calib, io))
            print(
                f"  {name} run{attempts}: {sec:.1f}s calib={calib:.2f} "
                f"io={io:.3f}",
                file=sys.stderr,
            )
            if attempts >= args.n and _calm(runs):
                break
        calm = _calm(runs)
        pool = calm or runs
        best = min(pool, key=lambda r: r[0])
        mins[name] = round(best[0], 3)
        min_calib[name] = round(best[1], 3)
        min_io[name] = round(best[2], 4)
        medians[name] = round(statistics.median(r[0] for r in runs), 3)
        if not calm:
            uncalm.append(name)
        print(
            f"  {name}: min={mins[name]} (calib {min_calib[name]} "
            f"io {min_io[name]}) "
            f"median={medians[name]}{'' if calm else '  [UNCALM]'}",
            file=sys.stderr,
        )
    print(json.dumps({
        "sf_dir": args.sf,
        "n": args.n,
        "cpus": args.cpus,
        "calib_gate": args.calib_gate,
        "io_gate": io_gate,
        "queries": mins,
        "queries_calib": min_calib,
        "queries_io": min_io,
        "queries_median": medians,
        "uncalm": uncalm,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
