"""Benchmark of the Spark translation engine; BENCHMARK.json describes it.

    python3 perfbench/run.py --workload file_jobs --seed 1 --seconds 10 --trace 0

One run measures one workload in a fresh Spark session on local[nproc],
driven from one client thread. It starts the session (one JVM launch,
timed as setup_s), makes its inputs from --seed, runs one untimed warm-up
operation, then runs operations back to back (a closed loop, no think
time) until --seconds of operation time have passed. Every output,
warm-up included, is checked outside the timed windows.

With --trace 1 the loop runs traced iterations instead: each layer is
called from outside, its output materialized before the next call, and
timed by a span; the per-layer metrics are medians over the iterations.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. A record of the run is rewritten atomically after
every operation under .perfbench/results/, so a killed run still leaves a
partial result that parses. All scratch files live in .perfbench/work-<pid>
(Spark's warehouse, local and temp dirs included) and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "automotive_translation_pipeline_spark"
WORKLOADS = ("file_jobs", "catalog_mix")
# The JVM's JIT compiler threads. Their CPU falls from about 7 to 2
# CPU-seconds per file job over the first five jobs, so op_cpu_s leaves it
# out (the summary reports it) to measure the work, not how far the JIT has
# got. The JVM keeps all its compiler threads alive so none takes its CPU
# time with it when it exits.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# No wall-clock metric per operation: on a shared 4-vCPU host the wall time
# of a file job followed the hypervisor's steal (5.3 s at 2% steal, 8.6 s at
# 16%); over five such runs its quartile spread was 0.42 of its median and
# the CPU time's 0.11. Wall times are in the summary and the traced run.
E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "row_success_pct": "%",
    "ops_ok_pct": "%",
    "mem_retained_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_memory() -> str:
    """A quarter of the machine's RAM, at most 4g: the session default
    (48g) is more than a small box has."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def pin_environment(work: Path) -> dict:
    """Environment for the session and its Python workers, set before the
    JVM starts so that both inherit it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    old = os.environ.get("PYTHONPATH")
    os.environ.update({
        # UDF stages import the package in the Python workers.
        "PYTHONPATH": f"{ROOT}{os.pathsep}{old}" if old else str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
    })
    import tempfile

    tempfile.tempdir = str(tmp)
    sys.path[:0] = [str(ROOT)]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


def start_session(cpus: int, conf: dict):
    """``session.get_spark`` until a first trivial action has completed.

    Timed once per run, with the JVM launch: a second launch costs about
    10 s, more than the run budget allows, and re-creating the session in
    the running JVM takes 0.2-0.5 s, whose median moved by half between
    two sets of runs."""
    from automotive_translation_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=cpus, extra_conf=conf)
    spark.sql("SELECT 1").collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; terminate, then kill, what lingers."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except ProcessLookupError:
                        pass
        deadline = time.monotonic() + timeout
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not any(_alive(p) for p in pids):
            return


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "tools" / "gen_testdata.py").is_file():
        print(f"perfbench: {PACKAGE}/ or tools/gen_testdata.py not found beside "
              f"{HERE.name}/; run from a checkout of the repository",
              file=sys.stderr)
        return 2

    import harness as h

    me = os.getpid()
    base = ROOT / ".perfbench"
    work = base / f"work-{me}"
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = results / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "status": "running", "ops": [],
    }

    def flush():
        h.atomic_write_json(f"{stem}.json", record)

    conf = pin_environment(work)
    os.chdir(work)
    cpus = len(os.sched_getaffinity(0))
    steal0 = h.cpu_steal_ticks()
    spark, out = None, None
    try:
        spark, setup_s = start_session(cpus, conf)
        record["env"] = environment(spark, cpus)
        record["setup_s"] = setup_s
        flush()
        out = run_workload(args, spark, str(work), setup_s, record, flush, stem)
        record["status"] = "complete"
    except Exception:
        traceback.print_exc()
        record["status"] = "error"
        record["error"] = traceback.format_exc()[-2000:]
    finally:
        workers = h.descendants(me, h.process_table()) - {me}
        if spark is not None:
            try:
                stop_session(spark)
            except Exception:
                traceback.print_exc()
        wait_gone(workers)
        record.setdefault("env", {})["steal_share"] = h.steal_share(
            steal0, h.cpu_steal_ticks()
        )
        flush()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        return 1
    print("# " + json.dumps({k: record[k] for k in ("env", "summary")}))
    print(json.dumps(out))
    return 0


def retained_mb(spark, me: int) -> dict:
    """Memory the session holds once its work is done: the JVM heap still
    live after a full GC, the JVM's non-heap memory, and the resident sets
    of the Python workers. The JVM's own resident peak is left to the
    summary: it follows when G1 chose to grow the heap, and varied by a
    quarter between runs of the same work."""
    import harness as h
    from pyspark import SparkContext

    jvm = spark._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    workers = h.descendants(me, h.process_table()) - {me, SparkContext._gateway.proc.pid}
    return {
        "jvm_heap": mx.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_nonheap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python_workers": sum(h.status_kb(p, "VmRSS") for p in workers) / 1024.0,
    }


def environment(spark, cpus: int) -> dict:
    import platform

    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": cpus,
        "mem_gib": round(mem_kb / 2**20, 1),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def make_workload(name: str, spark, work: str, seed: int, seconds: float):
    from workloads import CatalogMix, FileJobs

    if name == "file_jobs":
        # One fresh input per job; a job never takes under a second.
        return FileJobs(spark, work, seed, capacity=FileJobs.warmup_ops + 2 + int(seconds))
    return CatalogMix(spark, work, seed)


def run_workload(args, spark, work, setup_s, record, flush, stem) -> dict:
    import harness as h
    from workloads import Check

    wl = make_workload(args.workload, spark, work, args.seed, args.seconds)
    wl.prepare()
    me = os.getpid()

    def attempt(fn, i):
        try:
            return fn(i), None
        except Exception as e:
            traceback.print_exc()
            return None, e

    def checked(i, payload, err) -> Check:
        if err is None:
            payload_check, err = attempt(lambda j: wl.check(j, payload), i)
            if err is None:
                return payload_check
        return Check(wl.ops_per_op, wl.ops_per_op, 0, wl.rows_per_op,
                     f"{type(err).__name__}: {err}"[:300])

    def log(i, wall, cpu, c: Check, kind):
        record["ops"].append({
            "i": i, "kind": kind, "wall_s": wall, "cpu_s": cpu, "ops": c.ops,
            "failed_ops": c.failed_ops, "good_rows": c.good_rows,
            "expected_rows": c.expected_rows, "detail": c.detail,
        })
        flush()

    t0 = time.perf_counter()
    warm_checks, err = attempt(lambda _: wl.warm_up(), 0)
    warmup_s = time.perf_counter() - t0
    for c in warm_checks if err is None else [checked(0, None, err)]:
        log(0, warmup_s, None, c, "warmup")

    i, spent = wl.warmup_ops, 0.0
    if args.trace:
        tracer, samples, iterations = h.Tracer(), {}, 0
        while True:
            iterations += 1
            tracer.new_trace()
            t0 = time.perf_counter()
            res, err = attempt(lambda j: wl.traced(j, tracer), i)
            wall = time.perf_counter() - t0
            if err is None:
                got, checks = res
                for k, v in got.items():
                    samples.setdefault(k, []).append(v)
            else:
                checks = [checked(i, None, err)]
            for c in checks:
                log(i, wall, None, c, "traced")
            spent, i = spent + wall, i + 1
            if spent >= args.seconds or i >= wl.capacity:
                break
        h.atomic_write_json(f"{stem}-spans.json", {
            "spans": tracer.spans, "self_s": h.self_times(tracer.spans),
        })
        by_name = h.self_time_by_name(tracer.spans)
        samples["session.start_s"] = [setup_s]
        samples["session.warmup_s"] = [warmup_s]
        from workloads import per_layer_names

        metrics = {}
        for name, unit in per_layer_names().items():
            vals = samples.get(name) or by_name.get(name[:-2] if name.endswith("_s") else name)
            metrics[name] = {"value": h.median(vals) if vals else 0.0, "unit": unit}
        record["summary"] = {"iterations": iterations}
    else:
        done, jit = [], []
        while True:
            cpu0, jit0 = h.tree_cpu_seconds(me, skip_threads=JIT_THREADS)
            t0 = time.perf_counter()
            payload, err = attempt(wl.run_op, i)
            wall = time.perf_counter() - t0
            cpu1, jit1 = h.tree_cpu_seconds(me, skip_threads=JIT_THREADS)
            cpu = (cpu1 - jit1) - (cpu0 - jit0)
            jit.append(jit1 - jit0)
            done.append((i, payload, err, wall, cpu))
            record["ops"].append({"i": i, "kind": "measured", "wall_s": wall,
                                  "cpu_s": cpu, "checked": False})
            flush()
            spent, i = spent + wall, i + 1
            if spent >= args.seconds or i >= wl.capacity:
                break
        rss = h.tree_peak_rss_mb(me)
        mem = retained_mb(spark, me)
        record["ops"] = [r for r in record["ops"] if r["kind"] != "measured"]
        measured = []
        for j, payload, err, wall, cpu in done:
            c = checked(j, payload, err)
            measured.append(c)
            log(j, wall, cpu, c, "measured")
        walls = [w for *_, w, _ in done]
        cpus = [c for *_, c in done]
        good = sum(c.good_rows for c in measured)
        expected = sum(c.expected_rows for c in measured)
        metrics = {
            "setup_s": setup_s,
            "op_cpu_s": h.median(cpus),
            "row_success_pct": 100.0 * good / expected if expected else 0.0,
            "mem_retained_mb": sum(mem.values()),
        }
        record["summary"] = {
            "ops_measured": len(done), "op_wall_s": walls, "op_cpu_s": cpus,
            "op_jit_cpu_s": jit, "peak_rss_mb": list(rss.values()),
            "retained_mb": mem,
            "warmup_s": warmup_s,
        }
    attempted = sum(r["ops"] for r in record["ops"])
    failed = sum(r["failed_ops"] for r in record["ops"])
    if not args.trace:
        metrics["ops_ok_pct"] = 100.0 * (attempted - failed) / attempted
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
    record["summary"].update(attempted=attempted, failed=failed)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
