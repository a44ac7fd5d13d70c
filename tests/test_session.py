"""The shared session's settings that tests can observe from outside:
where managed tables go, and that generated code is compiled once."""

from __future__ import annotations

import sys
from pathlib import Path
from urllib.parse import urlparse

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
