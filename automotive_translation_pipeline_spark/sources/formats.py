"""Interchange-format matrix beyond parquet/CSV/JSONL: ORC native,
Avro jar-gated.

A corpus engine is rarely the only reader of its own data — ORC is the
other columnar lakehouse format (Hive/Trino ecosystems), Avro the
row-oriented schema-evolving wire format (Kafka ecosystems). Spark
ships ORC support in-core; Avro lives in the external
``spark-avro`` package, so it is probed at runtime exactly like the
Kafka source factory (streaming/jobs.py) and the Delta MERGE gate
(ledger.py): present -> real path, absent -> loud, documented error,
never a silent stub.

Scale note: both writers inherit whatever partitioning the incoming
DataFrame carries — the roundtrip helper adds no exchange of its own,
and ORC predicate pushdown / column pruning behave like parquet's
(same DataSource V1 scan surface, `spark.sql.orc.filterPushdown` is
on by default).
"""

from __future__ import annotations

import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from .readers import local_frame


def _warehouse_path(spark: SparkSession, name: str) -> str:
    root = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return f"{root}/{name}"


def write_read_roundtrip(
    spark: SparkSession, df: DataFrame, name: str, fmt: str = "orc"
) -> DataFrame:
    """Materialize ``df`` under the session warehouse in ``fmt`` and
    read it back — the seam every cross-format export test and catalog
    entry goes through. Cleans any stale directory first (same
    stale-warehouse discipline as plans/pipeline.py)."""
    path = _warehouse_path(spark, name)
    shutil.rmtree(path, ignore_errors=True)
    df.write.format(fmt).mode("overwrite").save(path)
    return spark.read.format(fmt).load(path)


def avro_available(spark: SparkSession) -> bool:
    """True iff the external spark-avro package is on the classpath.
    Probed by resolving the format, not by version guessing."""
    # The Avro CLASSES ship inside the Spark distribution, but the
    # data source registers only when the external module is deployed
    # ("Failed to find data source: avro" otherwise) — so neither
    # attribute access nor Class.forName is a valid probe. The only
    # honest check is resolving the source for real: a zero-row write.
    import tempfile

    try:
        with tempfile.TemporaryDirectory() as d:
            local_frame(spark, [], "probe long").write.format(
                "avro"
            ).mode("overwrite").save(f"{d}/probe")
        return True
    except Exception:
        return False


def write_avro(df: DataFrame, path: str) -> None:
    """Write Avro, or fail loudly with the exact missing dependency —
    the spark-avro jar is not bundled with pyspark; on a real cluster
    add ``--packages org.apache.spark:spark-avro_2.13:<spark version>``."""
    spark = df.sparkSession
    if not avro_available(spark):
        raise RuntimeError(
            "Avro support requires the external spark-avro package "
            "(org.apache.spark:spark-avro_2.13). It is not on this "
            "classpath; no fallback is silently substituted."
        )
    df.write.format("avro").mode("overwrite").save(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    if not avro_available(spark):
        raise RuntimeError(
            "Avro support requires the external spark-avro package "
            "(org.apache.spark:spark-avro_2.13). It is not on this "
            "classpath; no fallback is silently substituted."
        )
    return spark.read.format("avro").load(path)
