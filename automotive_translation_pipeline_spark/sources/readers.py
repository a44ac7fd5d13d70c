"""Scan operators (SURVEY §2.1: R-1..R-5).

Every reader takes an explicit schema and pushes filters/projections into
the scan — at 100 TB the difference between "scan 2 columns with a pushed
predicate" and "scan everything then filter" is the whole job.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import BATCH_RESPONSE, DESCRIPTIONS, TESTDATA_TABLES


def read_descriptions_csv(spark: SparkSession, path: str) -> DataFrame:
    """R-1: descriptions CSV scan with header and fixed 2-col schema.

    Reference: ``auto_translate.py:267-275`` (csv.reader, skip header).
    Explicit schema keeps ``P0001``-style ids as strings; no inference.
    """
    return spark.read.schema(DESCRIPTIONS).option("header", True).csv(path)


def read_descriptions_dir(spark: SparkSession, directory: str) -> DataFrame:
    """R-5: directory scan — all ``*.csv`` in a folder, with file lineage.

    Reference: ``batch_auto_translate.py:199-202`` enumerates files and
    fans out a subprocess per file; in Spark the fan-out disappears into
    tasks and per-file grouping comes back via ``input_file_name()``.
    """
    return (
        spark.read.schema(DESCRIPTIONS)
        .option("header", True)
        .csv(f"{directory}/*.csv")
        .withColumn("source_file", F.input_file_name())
    )


def read_request_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """R-3: request JSONL scan → (custom_id, payload map) rows.

    Reference: ``old_functionalities/batch_translator.py:44-68`` re-reads
    the request file and regexes the user content to recover the
    batch→ids mapping. Here the user message is parsed back into a
    ``map<string,string>`` with ``from_json`` — no regex needed for the
    v2 JSON-map format.
    """
    raw = spark.read.json(path)
    user_content = F.element_at(F.col("body.messages"), -1).getField("content")
    return raw.select(
        F.col("custom_id"),
        F.from_json(user_content, "map<string,string>").alias("payload"),
    )


def read_response_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """R-4: response JSONL scan → (custom_id, status_code, content, error).

    Reference: ``parse_output_jsonl`` (``auto_translate.py:392-407``) —
    extracts ``response.body.choices[0].message.content`` with a
    catch-all → None. Malformed lines land in ``_corrupt_record``
    instead of killing the scan (permissive mode).
    """
    raw = (
        spark.read.schema(BATCH_RESPONSE)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return raw.select(
        "custom_id",
        F.col("response.status_code").alias("status_code"),
        F.element_at(F.col("response.body.choices"), 1)
        .getField("message")
        .getField("content")
        .alias("content"),
        "error",
        "_corrupt_record",
    )


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A driver-built table (tuples, dicts or ``Row``s) as a DataFrame.

    Same rows and schema as ``spark.createDataFrame(rows, schema)``,
    but shipped as one Arrow table, which Spark plans as a
    ``LocalTableScan``. The list form becomes ``parallelize`` → a
    ``PythonRDD`` scan, which starts Python-worker tasks every time the
    plan runs — even when nothing else in the query touches Python.

    Dict rows match the schema by field name, tuples and ``Row``s by
    position (the ``createDataFrame`` rule). Nested structs may be
    tuples, ``Row``s or dicts; binary may be ``bytes`` or
    ``bytearray``. ``schema`` is a ``StructType`` or a DDL string.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    names = struct.fieldNames()
    records = [[r[n] for n in names] if isinstance(r, dict) else r for r in rows]
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in records], type=field.type)
            for i, field in enumerate(arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


# Session confs that change the schema Spark infers from a parquet footer.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# (real path, size, mtime ns, *conf values) -> the schema Spark inferred.
_INFERRED: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring each file's schema once.

    Inference is a Spark job (it reads the footer on an executor). The
    first read of a file runs it and keeps Spark's own ``StructType``;
    later reads of the same file pass that schema and run no job. The
    key is the file's identity (real path, size, mtime) and the confs
    in ``_INFER_CONFS``, so a rewritten file or a changed conf infers
    afresh. Anything that is not a local regular file (a directory, a
    remote URI) is inferred on every read. Each call builds a fresh
    plan.
    """
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_size, st.st_mtime_ns) + tuple(
        spark.conf.get(k) for k in _INFER_CONFS
    )
    schema = _INFERRED.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _INFERRED[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


# Columns that may be written as parquet TIMESTAMP(NANOS), which Spark 4.1
# rejects (PARQUET_TYPE_ILLEGAL) unless the nanosAsLong escape hatch maps
# them to bigint; `_rebuild_nanos_ts` turns them back into timestamps. The
# committed testdata stores `events.ts` (and lineitem/orders dates) as
# TIMESTAMP(MICROS), read natively as timestamp_ntz, so this is a compat
# path for files written with NANOS timestamps and a no-op on the repo data.
_NANO_TS_COLS = {
    "events": ("ts",),
}


def _rebuild_nanos_ts(df: DataFrame, table: str) -> DataFrame:
    """Rebuild ``table``'s NANOS columns that arrived as ``bigint``."""
    for col in _NANO_TS_COLS.get(table, ()):
        if dict(df.dtypes).get(col) == "bigint":
            # Integer division — float division loses 1µs at ~1.7e18
            # nanos, silently shifting timestamps off the oracle's.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def ts_nanos(literal: str) -> int:
    """Epoch nanoseconds of a naive-UTC timestamp literal
    (``YYYY-MM-DD`` or ``YYYY-MM-DD HH:MM:SS[.ffffff]``)."""
    import calendar
    from datetime import datetime

    dt = datetime.fromisoformat(literal)
    return calendar.timegm(dt.timetuple()) * 1_000_000_000 + dt.microsecond * 1_000


_RANGE_OPS = {
    ">=": lambda c, v: c >= v,
    ">": lambda c, v: c > v,
    "<=": lambda c, v: c <= v,
    "<": lambda c, v: c < v,
}


def scan_ts_pruned(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    preds: list[tuple[str, str, str]],
) -> DataFrame:
    """Parquet scan with timestamp range predicates applied directly on
    the scan columns — in the raw INT64-nanos domain where needed.

    Two cases, one interface:

    - TIMESTAMP(MICROS/MILLIS) columns — every timestamp in the repo
      testdata (``events.ts``, ``l_shipdate``, ``o_orderdate``) — read
      natively as ``timestamp_ntz``; the predicate applies as-is and
      pushes on its own. The helper just guarantees it sits on the scan
      column before any projection/join.
    - TIMESTAMP(NANOS) columns (the compat path for NANOS files) arrive
      as ``bigint`` (``nanosAsLong``) and are rebuilt with a projection
      Catalyst cannot invert — a filter on the rebuilt column stays
      ABOVE the scan and every row group is read. nanos→timestamp is
      strictly monotonic, hence
      ``ts OP literal ⇔ raw OP epoch_nanos(literal)`` exactly: pushing
      the raw-domain twin reaches the parquet reader as
      ``PushedFilters`` and prunes row groups / pages via min-max
      statistics. At 100 TB with time-sorted or time-partitioned files
      this is the difference between scanning the requested day and
      scanning the month.

    ``preds``: list of ``(column, op, timestamp_literal)`` with op in
    ``>= > <= <``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{table}.parquet")
    dtypes = dict(df.dtypes)
    for col, op, literal in preds:
        if op not in _RANGE_OPS:
            raise ValueError(f"unsupported op {op!r}")
        if dtypes.get(col) == "bigint":
            df = df.filter(_RANGE_OPS[op](F.col(col), F.lit(ts_nanos(literal))))
        else:
            df = df.filter(
                _RANGE_OPS[op](F.col(col), F.lit(literal).cast("timestamp"))
            )
    return _rebuild_nanos_ts(df, table)


class _LazyTables(Mapping):
    """Read-only ``name -> DataFrame`` view of one scale-factor dir.

    Listing the present tables runs no Spark job; a table is read,
    NANOS-rebuilt and registered as a temp view on first access, then
    memoized, so repeated access within one query returns the same
    DataFrame. The read infers the file's schema (one job) only the
    first time the process reads that file (``_read_parquet``); later
    ``load_testdata`` calls reuse it and run no job. No plan is shared
    across ``load_testdata`` calls: each call builds fresh plans.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark, self._dir = spark, sf_dir
        # Tables absent from a partial scale-factor directory are
        # skipped, not errors: a query touches only the tables it
        # reads, and large-SF corpora are generated per table family
        # (e.g. documents+embeddings only for the text/dedup sweeps).
        # Accessing a skipped table raises KeyError at the call site.
        self._names = tuple(
            n for n in TESTDATA_TABLES if os.path.exists(f"{sf_dir}/{n}.parquet")
        )
        self._resolved: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._resolved:
            if name not in self._names:
                raise KeyError(name)
            df = _read_parquet(self._spark, f"{self._dir}/{name}.parquet")
            df = _rebuild_nanos_ts(df, name)
            df.createOrReplaceTempView(name)
            self._resolved[name] = df
        return self._resolved[name]

    def __contains__(self, name: object) -> bool:
        return name in self._names  # membership must not resolve the table

    def __iter__(self) -> Iterator[str]:
        return iter(self._names)

    def __len__(self) -> int:
        return len(self._names)


def load_testdata(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """The driver's parquet tables, each read and registered as a temp
    view on first access (see ``_LazyTables``). Schema inference runs
    once per file per process, not once per call."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Engine contract (safe to set on any session the driver hands us):
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    return _LazyTables(spark, sf_dir)
