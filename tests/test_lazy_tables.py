"""``load_testdata`` is a lazy table accessor: creating it lists the
tables and runs no Spark job; a table is read, NANOS-rebuilt and
registered as a temp view on first access only. A parquet file's schema
is inferred once per process and reused while the file and the
inference confs are unchanged."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from automotive_translation_pipeline_spark import queries_catalog as qc
from automotive_translation_pipeline_spark.schemas import TESTDATA_TABLES
from automotive_translation_pipeline_spark.sources import (
    load_testdata,
    scan_ts_pruned,
    ts_nanos,
)
from automotive_translation_pipeline_spark.sources.readers import _read_parquet


def _jobs(spark, group, fn):
    """(result of fn(), number of Spark jobs it ran under ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_accessor_creation_runs_no_job(spark, sf_dir):
    t, n = _jobs(spark, "lazy-create", lambda: load_testdata(spark, sf_dir))
    assert n == 0
    assert len(t) == 10
    assert "documents" in t


def test_first_access_runs_at_most_one_job_and_memoizes(spark, sf_dir):
    t = load_testdata(spark, sf_dir)
    docs, n = _jobs(spark, "lazy-access", lambda: t["documents"])
    assert n <= 1
    assert t["documents"] is docs
    assert spark.catalog.tableExists("documents")


def test_partial_dir_lists_only_present_tables(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path / "documents.parquet")
    t = load_testdata(spark, str(tmp_path))
    assert len(t) == 1
    assert list(t) == ["documents"]
    assert "orders" not in t
    with pytest.raises(KeyError):
        t["orders"]
    assert t["documents"].count() > 0


def test_sql_entry_registers_its_view_on_access(spark, sf_dir):
    spark.catalog.dropTempView("documents")
    rows = qc.queries()["agg_grouping_sets"](spark, sf_dir).collect()
    assert rows
    assert sum(r.n for r in rows if r.g_lang == 1 and r.g_source == 1) > 0


# 2023-11-14 22:13:20 UTC plus sub-microsecond digits that the micros
# rebuild must truncate, not round.
_NANOS = [1_700_000_000_000_000_999, 1_700_000_100_123_456_789, 1_700_090_000_000_000_001]


@pytest.fixture
def nanos_dir(tmp_path):
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(_NANOS, pa.timestamp("ns")),
        }),
        tmp_path / "events.parquet",
    )
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    return str(tmp_path)


def test_nanos_events_rebuild_to_truncated_micros(spark, nanos_dir):
    ev = load_testdata(spark, nanos_dir)["events"]
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = [r.us for r in ev.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()]
    assert got == [n // 1000 for n in _NANOS]


def test_nanos_events_range_pushes_raw_nanos_bound(spark, nanos_dir):
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    lo, hi = "2023-11-14 22:14:00", "2023-11-15"
    df = scan_ts_pruned(spark, nanos_dir, "events", [("ts", ">=", lo), ("ts", "<", hi)])
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [line for line in plan.splitlines() if "FileScan" in line][0]
    assert f"GreaterThanOrEqual(ts,{ts_nanos(lo)})" in scan
    assert f"LessThan(ts,{ts_nanos(hi)})" in scan
    assert [r.event_id for r in df.collect()] == [2]


# --- schema inference runs once per file ------------------------------------

def test_second_load_runs_no_job(spark, sf_dir):
    load_testdata(spark, sf_dir)["documents"]
    docs, n = _jobs(spark, "lazy-second", lambda: load_testdata(spark, sf_dir)["documents"])
    assert n == 0
    assert docs.count() > 0


def _assert_memo_matches_fresh(spark, path):
    _read_parquet(spark, path)
    memo, n = _jobs(spark, f"memo-{path}", lambda: _read_parquet(spark, path).schema)
    assert n == 0
    assert memo == spark.read.parquet(path).schema


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_memoized_schema_equals_inferred(spark, sf_dir, table):
    load_testdata(spark, sf_dir)  # sets the session confs the package reads with
    _assert_memo_matches_fresh(spark, f"{sf_dir}/{table}.parquet")


def test_memoized_nanos_schema_equals_inferred(spark, nanos_dir):
    load_testdata(spark, nanos_dir)
    path = f"{nanos_dir}/events.parquet"
    _assert_memo_matches_fresh(spark, path)
    assert dict(_read_parquet(spark, path).dtypes)["ts"] == "bigint"
    # The memoized read still goes through the NANOS rebuild.
    assert dict(load_testdata(spark, nanos_dir)["events"].dtypes)["ts"] == "timestamp"


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), path)
    assert _read_parquet(spark, path).columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64()), "b": pa.array(["x"])}), path
    )
    df = _read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert df.collect()[0].b == "x"


def test_infer_conf_change_is_inferred_afresh(spark, tmp_path):
    # A TIMESTAMP(isAdjustedToUTC=false) column reads as timestamp_ntz
    # only while inferTimestampNTZ is on.
    path = str(tmp_path / "ntz.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_700_000_000_000_000], pa.timestamp("us"))}), path)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    try:
        got = {}
        for flag in ("true", "false", "true"):
            spark.conf.set(key, flag)
            _read_parquet(spark, path)  # the memoized read for this conf
            got[flag] = dict(_read_parquet(spark, path).dtypes)["ts"]
            assert got[flag] == dict(spark.read.parquet(path).dtypes)["ts"]
        assert got == {"true": "timestamp_ntz", "false": "timestamp"}
    finally:
        spark.conf.set(key, before)


def test_second_call_job_budget_tpch_q3(spark, sf_dir):
    q = qc.queries()["tpch_q3_shipping_priority"]
    q(spark, sf_dir).toPandas()
    _, n = _jobs(spark, "budget-q3", lambda: q(spark, sf_dir).toPandas())
    assert n <= 4
