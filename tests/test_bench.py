"""bench.py's one protocol: the shared measurement, the CPU regression
guard and the per-query sidecar, run in the test session."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import time

import bench
from automotive_translation_pipeline_spark import queries_catalog as qc


def test_measure_returns_wall_and_tree_cpu(spark, sf_dir):
    """Both readings are positive for a plain SQL entry and for the
    flagship, whose translate UDF and parse kernel run in Python
    workers."""
    qs = qc.queries()
    for name in ("tpch_q6_forecast_revenue", "pipeline_rows"):
        wall, cpu = bench.measure(spark, qs[name], sf_dir)
        assert wall > 0 and cpu > 0, (name, wall, cpu)


def test_cpu_guard_flags_only_over_the_bound():
    base = {"slow": 2.0, "fine": 2.0, "faster": 2.0}
    got = bench.cpu_regressions(
        {"slow": 3.1, "fine": 2.9, "faster": 1.0, "unpinned": 9.0}, base
    )
    assert got == {"slow": [3.1, 2.0]}


def test_sidecar_written_mid_suite_parses(spark, sf_dir, tmp_path):
    """The sidecar is rewritten after every query: a query run second
    sees a file that parses and lists the first one, and only it."""
    path = str(tmp_path / "BENCH_detail_sf0.001.json")
    seen = []

    def peek(spark, sf_dir):
        with open(path) as fh:
            seen.append(json.load(fh))
        return spark.range(1)

    qs = {"tpch_q6_forecast_revenue": qc.queries()["tpch_q6_forecast_revenue"],
          "peek": peek}
    detail: dict = {"sf": 0.001}
    written = bench.run_suite(
        spark, qs, ["tpch_q6_forecast_revenue", "peek"], sf_dir, set(),
        detail, path,
    )
    assert written == path
    assert len(seen) == bench.N_RUNS
    first = seen[0]
    assert list(first["queries"]) == ["tpch_q6_forecast_revenue"]
    assert len(first["queries_cpu_times"]["tpch_q6_forecast_revenue"]) == (
        bench.N_RUNS
    )
    with open(path) as fh:
        assert set(json.load(fh)["queries_cpu"]) == {
            "tpch_q6_forecast_revenue", "peek"
        }


def test_sidecar_falls_back_to_the_temp_dir(tmp_path, monkeypatch):
    """A sidecar path that cannot be written (a read-only checkout) is
    written under the temp dir instead, and that path is returned."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    unwritable = os.path.join(str(tmp_path), "missing-dir", "BENCH_detail_sfX.json")
    got = bench.write_detail(unwritable, {"queries": {"q": 1.0}})
    assert got == os.path.join(str(tmp_path), "BENCH_detail_sfX.json")
    with open(got) as fh:
        assert json.load(fh) == {"queries": {"q": 1.0}}


def test_sigterm_prints_the_finished_queries(sf_dir, tmp_path):
    """``bench.py`` stopped by SIGTERM mid-suite still prints its line:
    the last stdout line parses, is marked partial and lists only the
    queries that finished, the same ones the sidecar holds. The run is
    a checkout of symlinks in a temp dir, so its sidecar lands there."""
    here = os.path.dirname(os.path.abspath(bench.__file__))
    for name in ("bench.py", "__spark_entry__.py", "pyspark_atp_worker.py",
                 "perfbench", "automotive_translation_pipeline_spark"):
        os.symlink(os.path.join(here, name), tmp_path / name)
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir,
           "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": str(tmp_path)}
    proc = subprocess.Popen(
        [sys.executable, str(tmp_path / "bench.py")], cwd=tmp_path, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    sidecar = tmp_path / f"BENCH_detail_sf{bench.sf_tag(sf_dir)}.json"
    deadline = time.time() + 300
    try:
        while not sidecar.exists() and time.time() < deadline:
            assert proc.poll() is None, "bench.py exited before its first query"
            time.sleep(0.5)
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=120)
    finally:
        proc.kill()
    assert proc.returncode == 128 + signal.SIGTERM
    line = json.loads(out.strip().splitlines()[-1])
    assert line["partial"] is True
    done = list(line["queries"])
    assert 1 <= len(done) < len(bench.HEADLINE)
    assert done == bench.HEADLINE[: len(done)]
    assert set(line["queries_cpu"]) == set(done) and line["n_queries"] == len(done)
    with open(sidecar) as fh:
        assert list(json.load(fh)["queries"]) == done
