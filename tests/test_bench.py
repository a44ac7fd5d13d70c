"""bench.py's one protocol: the shared measurement, the CPU regression
guard and the per-query sidecar, run in the test session."""

from __future__ import annotations

import json
import os
import tempfile

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
