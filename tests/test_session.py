"""The shared session's settings that tests can observe from outside:
where managed tables go, that generated code is compiled once, that the
driver's memory fits the host, and that the Python workers run
``pyspark_atp_worker`` without losing a file ``addPyFile`` ships."""

from __future__ import annotations

import ast
import inspect
import os
import sys
import zipfile
from pathlib import Path
from urllib.parse import urlparse

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[1]


def _compiles(spark) -> int:
    """Janino compilations this JVM has run (Spark's own counter)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _mix_queries() -> tuple[str, ...]:
    """The benchmark's ``catalog_mix`` query list."""
    sys.path.insert(0, str(ROOT / "perfbench"))
    try:
        from workloads import MIX_QUERIES
    finally:
        sys.path.remove(str(ROOT / "perfbench"))
    return MIX_QUERIES


def test_session_warehouse_is_outside_the_repo(spark):
    warehouse = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    assert not warehouse.resolve().is_relative_to(ROOT)


def test_repeated_queries_compile_nothing(spark, sf_dir):
    """A second pass over the catalog_mix queries finds every generated
    class in the codegen cache. At Spark's default of 100 entries the
    second pass recompiled most of its classes."""
    from automotive_translation_pipeline_spark.queries_catalog import queries

    qs, names = queries(), _mix_queries()

    def one_pass():
        for q in names:
            qs[q](spark, sf_dir).toPandas()
            # Frames a query persisted would spare the second pass its work.
            spark.catalog.clearCache()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before == 0


def test_default_driver_memory_fits_the_host():
    from automotive_translation_pipeline_spark.session import default_driver_memory

    mem = default_driver_memory()
    assert mem.endswith("m")
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(mem[:-1]) * 2**20 <= min(host, 48 * 2**30)


# --- the Python-worker module ---------------------------------------------


def _in_workers(spark, fn, schema, n=1):
    """``fn()`` (a dict of columns) once in each of ``n`` one-row tasks."""

    def run(batches):
        for _ in batches:
            pass
        yield pd.DataFrame(fn())

    return spark.range(n, numPartitions=n).mapInPandas(run, schema).collect()


def test_udf_runs_in_the_worker_module(spark):
    def worker_module():
        import pyspark.worker_util

        return {
            "loaded": ["pyspark_atp_worker" in sys.modules],
            "shim": [type(pyspark.worker_util.importlib).__module__],
        }

    rows = _in_workers(spark, worker_module, "loaded boolean, shim string", n=4)
    assert {(r.loaded, r.shim) for r in rows} == {(True, "pyspark_atp_worker")}


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in files.items():
            z.writestr(name, source)


@pytest.mark.parametrize("kind", ["py", "zip"])
def test_add_py_file_after_a_task_imports_in_reused_workers(spark, tmp_path, kind):
    """A module that ``addPyFile`` ships after workers have run a task
    imports in the tasks after it, in those same (reused) workers."""
    name = f"atp_added_{kind}_{os.getpid()}"
    if kind == "py":
        path = tmp_path / f"{name}.py"
        path.write_text("VALUE = 42\n")
    else:
        path = tmp_path / f"{name}_pkg.zip"
        _write_zip(path, {f"{name}.py": "VALUE = 42\n"})
    marker = f"ATP_RAN_BEFORE_{kind.upper()}"

    def mark():
        os.environ[marker] = "1"  # this worker process only
        return {"marked": [True]}

    def value():
        import importlib

        return {
            "reused": [marker in os.environ],
            "value": [importlib.import_module(name).VALUE],
        }

    _in_workers(spark, mark, "marked boolean", n=8)
    spark.sparkContext.addPyFile(str(path))
    # Idle workers are handed out oldest first, so the marked ones may
    # come up only after the pool's other idle workers.
    reused = False
    for _ in range(8):
        rows = _in_workers(spark, value, "reused boolean, value long", n=8)
        assert {r.value for r in rows} == {42}
        reused = any(r.reused for r in rows)
        if reused:
            break
    assert reused, "no worker that ran a task before addPyFile ran one after it"


def test_worker_util_calls_importlib_invalidate_caches_through_its_global():
    """The worker module swaps ``pyspark.worker_util``'s ``importlib``
    global. If PySpark stops reaching ``invalidate_caches`` that way, the
    swap silently does nothing (or breaks): fail here instead."""
    import pyspark.worker_util as wu

    tree = ast.parse(inspect.getsource(wu))
    imports_module = any(
        isinstance(node, ast.Import)
        and any(a.name == "importlib" and a.asname is None for a in node.names)
        for node in tree.body
    )
    setup = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "setup_spark_files"
    )
    calls = [
        n for n in ast.walk(setup)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "invalidate_caches"
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "importlib"
    ]
    assert imports_module and calls


def test_shim_costs_a_tenth_of_the_plain_call_in_a_reused_worker(spark):
    def invalidate_cpu():
        import importlib
        import time
        import zipimport

        import pyspark.worker_util

        def cpu(call):
            best = float("inf")
            for _ in range(3):
                t0 = time.process_time()
                call()
                best = min(best, time.process_time() - t0)
            return best

        caches = sys.path_importer_cache.values()
        return {
            "zips": [sum(isinstance(f, zipimport.zipimporter) for f in caches)],
            "plain": [cpu(importlib.invalidate_caches)],
            "shim": [cpu(pyspark.worker_util.importlib.invalidate_caches)],
        }

    (r,) = _in_workers(spark, invalidate_cpu, "zips long, plain double, shim double")
    assert r.zips > 0, "the worker holds no zip importers: nothing to measure"
    assert r.shim < r.plain / 10, (r.shim, r.plain)


def test_shim_rereads_a_zip_rewritten_in_place(tmp_path, monkeypatch):
    """An archive is skipped while its size and mtime hold, and re-read
    once either changes."""
    import pyspark_atp_worker as worker

    archive = str(tmp_path / "rewritten.zip")
    _write_zip(archive, {"atp_rewritten.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        import atp_rewritten

        assert atp_rewritten.VALUE == 1
        finder = sys.path_importer_cache[archive]
        worker.invalidate_caches()  # first sight: read and recorded
        files = finder._files
        worker.invalidate_caches()
        assert finder._files is files

        # New size.
        _write_zip(archive, {"atp_rewritten.py": "", "atp_rewritten_b.py": "B = 2\n"})
        worker.invalidate_caches()
        assert finder._files is not files
        import atp_rewritten_b

        assert atp_rewritten_b.B == 2

        # Same size, new mtime.
        files, size = finder._files, os.path.getsize(archive)
        _write_zip(archive, {"atp_rewritten.py": "", "atp_rewritten_c.py": "C = 2\n"})
        st = os.stat(archive)
        assert st.st_size == size
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        worker.invalidate_caches()
        assert finder._files is not files
        assert "atp_rewritten_c.py" in finder._files
    finally:
        for mod in ("atp_rewritten", "atp_rewritten_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)
        worker._read_at.pop(archive, None)
