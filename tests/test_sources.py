"""Reader/writer round-trip tests (R-1..R-6b)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from automotive_translation_pipeline_spark.operators.packing import (
    assign_batches_cumsum,
    materialize_requests,
    with_cost,
)
from automotive_translation_pipeline_spark.sources import (
    read_descriptions_csv,
    read_request_jsonl,
    read_response_jsonl,
)
from automotive_translation_pipeline_spark.sources.writers import (
    write_layout,
    write_output_csv,
    write_request_jsonl,
)


def test_descriptions_csv_reader(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "description_id,english_sentence\n"
        "P0001,Check engine coolant level\n"
        "21,Inspect brake pads\n"
    )
    rows = {r["description_id"]: r["english_sentence"]
            for r in read_descriptions_csv(spark, str(p)).collect()}
    # String ids preserved verbatim (P0001 doesn't become a float/null).
    assert rows == {
        "P0001": "Check engine coolant level",
        "21": "Inspect brake pads",
    }


def test_request_jsonl_roundtrip(spark, tmp_path):
    """R-6b writer → R-3 reader round trip through real files."""
    docs = spark.createDataFrame(
        [(str(i), f"sentence number {i}", i) for i in range(12)],
        "description_id string, english_sentence string, seq long",
    )
    packed = assign_batches_cumsum(
        with_cost(docs, "english_sentence"), order_col="seq", limit=60
    )
    reqs = materialize_requests(packed, system_prompt="translate")
    out = str(tmp_path / "requests")
    write_request_jsonl(reqs, out)

    back = read_request_jsonl(spark, out)
    payloads = {r["custom_id"]: r["payload"] for r in back.collect()}
    orig = {r["custom_id"]: r["payload"] for r in reqs.collect()}
    assert payloads == orig
    # The written lines are valid one-object-per-line JSONL.
    import glob

    for f in glob.glob(f"{out}/part-*"):
        for line in open(f):
            obj = json.loads(line)
            assert obj["method"] == "POST"
            assert obj["body"]["messages"][0]["role"] == "system"


def test_response_jsonl_corrupt_line(spark, tmp_path):
    p = tmp_path / "resp.jsonl"
    p.write_text(
        json.dumps(
            {
                "custom_id": "b-1",
                "response": {
                    "status_code": 200,
                    "body": {"choices": [{"message": {"content": '{"1": "ok"}'}}]},
                },
            }
        )
        + "\nnot json at all\n"
    )
    rows = read_response_jsonl(spark, str(p)).collect()
    good = [r for r in rows if r["custom_id"] == "b-1"]
    bad = [r for r in rows if r["custom_id"] is None]
    assert good[0]["content"] == '{"1": "ok"}'
    assert bad and bad[0]["_corrupt_record"] == "not json at all"


def test_output_csv_bom_and_sentinel(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "hello", "ok"), ("2", "world", None)],
        "description_id string, english_sentence string, translated_sentence string",
    )
    out = str(tmp_path / "out.csv")
    write_output_csv(df, out, single_file=True)
    raw = open(out, "rb").read()
    assert raw[:3] == b"\xef\xbb\xbf"  # utf-8-sig, reference sink contract
    body = raw.decode("utf-8-sig")
    assert "[TRANSLATION_FAILED]" in body  # sentinel materialized at sink
    assert "ok" in body


def test_write_layout_partitioned_sorted(spark, tmp_path):
    """Layout contract: one file per partition dir (no small-files
    fan-out), rows sorted within files, skewed partitions split by
    maxRecordsPerFile."""
    import glob
    import os

    df = spark.range(0, 1000).select(
        (F.col("id") % 4).cast("string").alias("k"),
        F.col("id").alias("v"),
    )
    out = str(tmp_path / "laid_out")
    write_layout(df, out, partition_by=("k",), sort_by=("v",))
    for k in range(4):
        files = glob.glob(os.path.join(out, f"k={k}", "*.parquet"))
        assert len(files) == 1, f"partition k={k} fanned out to {len(files)} files"
    back = spark.read.parquet(out)
    assert back.count() == 1000
    # within-file ordering: parquet preserves row order per file
    one = spark.read.parquet(glob.glob(os.path.join(out, "k=0", "*.parquet"))[0])
    vals = [r["v"] for r in one.collect()]
    assert vals == sorted(vals)
    # skew escape hatch: small record cap splits the hot partition
    out2 = str(tmp_path / "capped")
    write_layout(df, out2, partition_by=("k",), max_records_per_file=100)
    assert len(glob.glob(os.path.join(out2, "k=0", "*.parquet"))) >= 3


def test_write_layout_zorder_clusters_both_dims(spark, tmp_path):
    """Z-order contract: each output file covers a small rectangle of
    (x, y) space, so parquet min/max stats prune on BOTH columns. A
    lexicographic sort would cluster x tightly but leave y spanning the
    full range in every file."""
    import glob
    import os

    from automotive_translation_pipeline_spark.sources.writers import write_layout

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    out = str(tmp_path / "zordered")
    write_layout(df, out, zorder_by=("x", "y"), max_records_per_file=256)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) >= 8
    spans_x, spans_y = [], []
    for f in files:
        row = (
            spark.read.parquet(f)
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .first()
        )
        spans_x.append(row["sx"])
        spans_y.append(row["sy"])
    # global span is 63 on each dim; z-ordered files must average far less
    assert sum(spans_x) / len(spans_x) < 32
    assert sum(spans_y) / len(spans_y) < 32
    # and the data survived intact
    assert spark.read.parquet(out).count() == n


def test_upsert_partitioned_touches_only_affected_partitions(spark, tmp_path):
    """COW-merge contract: updated keys replaced, new keys inserted,
    and files in untouched partitions not even rewritten."""
    import glob
    import os

    from automotive_translation_pipeline_spark.sources.writers import (
        upsert_partitioned,
        write_layout,
    )

    path = str(tmp_path / "cow")
    base = spark.createDataFrame(
        [(k, f"d{k // 10}", f"v{k}") for k in range(40)], ["k", "day", "val"]
    )
    write_layout(base, path, partition_by=("day",))
    before = {
        d: sorted(os.path.basename(f) for f in glob.glob(os.path.join(path, d, "*.parquet")))
        for d in ("day=d0", "day=d1", "day=d2", "day=d3")
    }
    updates = spark.createDataFrame(
        [(5, "d0", "UPDATED"), (99, "d0", "NEW")], ["k", "day", "val"]
    )
    n = upsert_partitioned(spark, path, updates, key_cols=("k",), partition_col="day")
    assert n == 1
    after = {
        d: sorted(os.path.basename(f) for f in glob.glob(os.path.join(path, d, "*.parquet")))
        for d in ("day=d0", "day=d1", "day=d2", "day=d3")
    }
    assert after["day=d1"] == before["day=d1"]  # untouched partitions intact
    assert after["day=d2"] == before["day=d2"]
    assert after["day=d0"] != before["day=d0"]  # touched partition rewritten
    got = {r["k"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got[5] == "UPDATED" and got[99] == "NEW" and got[6] == "v6"
    assert len(got) == 41


def test_compact_dir_bounds_file_count(spark, tmp_path):
    """Fragmented table (32 tiny files) compacts to few right-sized
    files with identical contents; partitioned variant keeps the
    directory structure."""
    from automotive_translation_pipeline_spark.sources.writers import compact_dir

    flat = str(tmp_path / "flat")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    df.repartition(32).write.parquet(flat)
    before, after = compact_dir(spark, flat, target_records_per_file=600)
    assert before == 32 and after == 2
    assert spark.read.parquet(flat).count() == 1000

    parted = str(tmp_path / "parted")
    df.repartition(16).write.partitionBy("p").parquet(parted)
    before, after = compact_dir(
        spark, parted, target_records_per_file=600, partition_col="p"
    )
    assert before > after
    back = spark.read.parquet(parted)
    assert back.count() == 1000
    # partition discovery infers the dir values back as ints
    assert {str(r["p"]) for r in back.select("p").distinct().collect()} == {"0", "1"}


def test_orc_roundtrip_preserves_schema_and_values(spark, sf_dir):
    from automotive_translation_pipeline_spark.sources.formats import (
        write_read_roundtrip,
    )
    from automotive_translation_pipeline_spark.sources.readers import (
        load_testdata,
    )

    docs = load_testdata(spark, sf_dir)["documents"]
    back = write_read_roundtrip(spark, docs, "test_orc_docs", fmt="orc")
    assert back.schema == docs.schema
    assert back.count() == docs.count()
    a = sorted(r.doc_id for r in back.select("doc_id").collect())
    b = sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert a == b


def test_avro_gate_is_loud(spark):
    import pytest as _pytest

    from automotive_translation_pipeline_spark.sources.formats import (
        avro_available,
        read_avro,
        write_avro,
    )

    df = spark.range(3)
    if avro_available(spark):
        write_avro(df, "/tmp/atp-avro-probe")  # real path where jar exists
        assert read_avro(spark, "/tmp/atp-avro-probe").count() == 3
    else:
        with _pytest.raises(RuntimeError, match="spark-avro"):
            write_avro(df, "/tmp/atp-avro-probe")
        with _pytest.raises(RuntimeError, match="spark-avro"):
            read_avro(spark, "/tmp/atp-avro-probe")


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Reading a dataset whose files were written under an EVOLVED
    schema (a column added later) must surface the union schema with
    NULLs for pre-evolution files — the mergeSchema contract a
    long-lived 100 TB table depends on."""
    old = spark.createDataFrame([(1, "a")], ["id", "name"])
    new = spark.createDataFrame([(2, "b", 0.5)], ["id", "name", "score"])
    old.write.parquet(f"{tmp_path}/t/part=0")
    new.write.parquet(f"{tmp_path}/t/part=1")
    merged = spark.read.option("mergeSchema", True).parquet(f"{tmp_path}/t")
    assert set(merged.columns) == {"id", "name", "score", "part"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 0.5


def test_ignore_corrupt_files_skips_garbage(spark, tmp_path):
    """A 100 TB lake always contains a few truncated/garbage files;
    with ignoreCorruptFiles the scan must survive them and read the
    healthy rest (and fail LOUDLY without the option)."""
    import pytest as _pytest

    spark.createDataFrame([(i,) for i in range(10)], ["id"]).write.parquet(
        f"{tmp_path}/t"
    )
    (tmp_path / "t" / "part-corrupt.parquet").write_bytes(b"not a parquet")
    with _pytest.raises(Exception):
        spark.read.parquet(f"{tmp_path}/t").count()
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(f"{tmp_path}/t").count() == 10
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
