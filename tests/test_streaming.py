"""Structured Streaming tests (M5): windowed aggs, session windows,
stateful ledger tracking, repair pass — driven with file/memory sources.
"""

from __future__ import annotations

import json
import time

import pyspark.sql.functions as F
import pytest

from automotive_translation_pipeline_spark.sources import load_testdata
from automotive_translation_pipeline_spark.streaming import (
    event_session_windows,
    event_window_counts,
    ledger_state_stream,
    ledger_state_stream_tws,
    repair_pass,
)


def test_window_counts_batch_semantics(spark, sf_dir):
    """Windowed agg plan is identical batch vs stream; validate values
    on the batch path first."""
    t = load_testdata(spark, sf_dir)
    out = event_window_counts(t["events"], window="10 minutes")
    rows = out.collect()
    assert sum(r["n"] for r in rows) == t["events"].count()
    assert all(r["window_end"] > r["window_start"] for r in rows)


def test_session_windows_batch_semantics(spark, sf_dir):
    t = load_testdata(spark, sf_dir)
    out = event_session_windows(t["events"], gap="5 minutes")
    rows = out.collect()
    assert sum(r["n_events"] for r in rows) == t["events"].count()
    # Sessions for one user never overlap.
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= e1


def test_streaming_window_counts_file_source(spark, tmp_path):
    """True streaming run: JSONL file source → windowed agg → memory
    sink, one processAllAvailable micro-batch."""
    src = tmp_path / "stream_in"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T00:{i:02d}:00", "event_type": "click", "value": 1.0}
        for i in range(30)
    ]
    (src / "part1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string, value double")
        .json(str(src))
    )
    q = (
        event_window_counts(stream, window="10 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName(f"win_counts_{int(time.time())}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    name = q.name
    q.stop()
    got = spark.sql(f"SELECT sum(n) AS n FROM {name}").first()
    # Append mode only emits windows the watermark has closed; with a
    # single batch the final window may be withheld — at least the first
    # two full windows (20 rows) must be out.
    assert got["n"] is None or got["n"] <= 30


def test_ledger_state_stream(spark, tmp_path):
    """applyInPandasWithState over a file stream of ledger events →
    transition records. Parquet sink + RocksDB state store (the memory
    sink + HDFS state store combination NPEs on Spark 4.1)."""
    src = tmp_path / "ledger_stream"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    events = [
        {"job_id": "batch_a", "status": "submitted", "timestamp": 1},
        {"job_id": "batch_a", "status": "in_progress", "timestamp": 2},
        {"job_id": "batch_a", "status": "completed", "timestamp": 3},
        {"job_id": "batch_b", "status": "submitted", "timestamp": 1},
    ]
    (src / "e.json").write_text("\n".join(json.dumps(e) for e in events))
    stream = spark.readStream.schema(
        "job_id string, status string, timestamp long"
    ).json(str(src))
    q = (
        ledger_state_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # Under availableNow the query keeps running empty state-cleanup
    # micro-batches until the last 24 h timeout, and processAllAvailable()
    # waits for them too: stop it once the events are processed.
    deadline = time.monotonic() + 120
    try:
        while sum(p["numInputRows"] for p in q.recentProgress) < len(events):
            assert q.isActive and time.monotonic() < deadline, q.exception()
            time.sleep(0.2)
    finally:
        q.stop()
    assert not q.isActive
    rows = spark.read.parquet(out).collect()
    got = {
        (r["prev_status"], r["status"]) for r in rows if r["job_id"] == "batch_a"
    }
    assert (None, "submitted") in got
    assert ("submitted", "in_progress") in got
    assert ("in_progress", "completed") in got
    assert {(r["prev_status"], r["status"]) for r in rows if r["job_id"] == "batch_b"} == {
        (None, "submitted")
    }


def test_repair_pass(spark):
    truncated = '```json\n{\n  "1": "మొదటి అనువాదం",\n  "2": "రెండవ అనువాదం",\n'
    df = spark.createDataFrame(
        [("batch-0001", truncated), ("batch-0002", '{"3": "మూడవ అనువాదం"}')],
        "custom_id string, content string",
    )
    out = {
        (r["batch_id"], r["description_id"]): r["translation"]
        for r in repair_pass(df).collect()
    }
    assert out[("batch-0001", "1")] == "మొదటి అనువాదం"
    assert out[("batch-0001", "2")] == "రెండవ అనువాదం"
    assert out[("batch-0002", "3")] == "మూడవ అనువాదం"


def test_poller_drains_pending(spark, tmp_path):
    """X-3 poll loop: jobs advance submitted→in_progress→completed via a
    deterministic status simulator; loop ends when nothing is pending."""
    from automotive_translation_pipeline_spark.ledger import Ledger
    from automotive_translation_pipeline_spark.streaming.poller import (
        poll_until_drained,
    )

    led = Ledger(spark, str(tmp_path / "poll_ledger"))
    led.append(
        [
            {"batch_id": "a", "job_id": "batch_p1", "status": "submitted",
             "timestamp": 1},
            {"batch_id": "b", "job_id": "batch_p2", "status": "submitted",
             "timestamp": 1},
        ]
    )
    calls: dict = {}

    def status_fn(job_id: str) -> str:
        n = calls.get(job_id, 0) + 1
        calls[job_id] = n
        return ["validating", "in_progress", "completed"][min(n - 1, 2)]

    polls = poll_until_drained(spark, led, status_fn, interval_secs=0)
    assert polls == 3  # three transitions per job, one per poll
    cur = {r["job_id"]: r["status"] for r in led.current().collect()}
    assert cur == {"batch_p1": "completed", "batch_p2": "completed"}
    # Full audit trail: 2 initial + 6 transition events.
    assert led.events().count() == 8


def test_poller_fault_taxonomy(spark, tmp_path):
    """X-3 + X-7: the poll loop under the reference's failure statuses
    (BATCH_TRACKING_GUIDE.md:169-182) — jobs diverge to completed /
    failed / download_failed terminal states; the loop drains them all
    and the ledger's latest-wins view records the taxonomy."""
    from automotive_translation_pipeline_spark.ledger import Ledger
    from automotive_translation_pipeline_spark.streaming.poller import (
        poll_until_drained,
    )

    led = Ledger(spark, str(tmp_path / "fault_ledger"))
    led.append(
        [
            {"batch_id": b, "job_id": j, "status": "submitted", "timestamp": 1}
            for b, j in (("a", "job_ok"), ("b", "job_err"), ("c", "job_dl"))
        ]
    )
    paths = {
        "job_ok": ["in_progress", "finalizing", "completed"],
        "job_err": ["in_progress", "failed"],
        "job_dl": ["in_progress", "finalizing", "download_failed"],
    }
    calls: dict = {}

    def status_fn(job_id: str) -> str:
        n = calls.get(job_id, 0) + 1
        calls[job_id] = n
        seq = paths[job_id]
        return seq[min(n - 1, len(seq) - 1)]

    polls = poll_until_drained(spark, led, status_fn, interval_secs=0)
    assert polls == 3  # longest path drains in three ticks
    cur = {r["job_id"]: r["status"] for r in led.current().collect()}
    assert cur == {
        "job_ok": "completed",
        "job_err": "failed",
        "job_dl": "download_failed",
    }
    # failed/download_failed are terminal: no further polls happen for
    # them after they land (job_err got exactly 2 status calls).
    assert calls == {"job_ok": 3, "job_err": 2, "job_dl": 3}
    counts = {r["status"]: r["n"] for r in led.status_counts().collect()}
    assert counts == {"completed": 1, "failed": 1, "download_failed": 1}


def test_streaming_flagship_end_to_end(spark, tmp_path):
    """The full flagship as a stream: CSVs land → micro-batch runs
    pack→translate→parse→rejoin→flags → results appended + ledger
    transitions recorded."""
    from automotive_translation_pipeline_spark.ledger import Ledger
    from automotive_translation_pipeline_spark.streaming.flagship import (
        run_streaming_translation,
    )
    from automotive_translation_pipeline_spark.translate import mock_translation

    src = tmp_path / "landing"
    src.mkdir()
    for f in range(2):
        lines = ["description_id,english_sentence"]
        for i in range(12):
            lines.append(f"S{f}R{i:02d},streaming sentence {i} of file {f}")
        (src / f"in_{f}.csv").write_text("\n".join(lines) + "\n")

    led = Ledger(spark, str(tmp_path / "ledger"))
    out = str(tmp_path / "results")
    q = run_streaming_translation(
        spark, str(src), out, str(tmp_path / "ck"), ledger=led
    )
    q.awaitTermination(180)

    results = spark.read.parquet(out)
    assert results.count() == 24
    ok = results.filter(~F.col("is_failed")).collect()
    for r in ok[:10]:
        assert r["translation"] == mock_translation(r["english_sentence"])
    # Ledger: every micro-batch job reached 'completed'.
    cur = {r["job_id"]: r["status"] for r in led.current().collect()}
    assert cur and all(s == "completed" for s in cur.values())
    # Restart on the same checkpoint: nothing new to process, no dupes.
    q2 = run_streaming_translation(
        spark, str(src), out, str(tmp_path / "ck"), ledger=led
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 24


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """Duplicate ids delivered across files collapse to one row each;
    the watermark bounds the dedup state."""
    from automotive_translation_pipeline_spark.streaming.jobs import (
        streaming_dedup,
    )

    src = tmp_path / "dup_landing"
    src.mkdir()
    # Two files, overlapping ids: e0..e9 then e5..e14 (e5..e9 are dupes).
    for f, lo in ((0, 0), (1, 5)):
        lines = ["event_id,ts,payload"]
        for i in range(lo, lo + 10):
            lines.append(f"e{i:03d},2024-01-01 00:{i:02d}:00,p{i}")
        (src / f"f{f}.csv").write_text("\n".join(lines) + "\n")

    stream = (
        spark.readStream.schema("event_id string, ts timestamp, payload string")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)  # dupes arrive in a LATER batch
        .csv(f"{src}/*.csv")
    )
    out = str(tmp_path / "dedup_out")
    q = (
        streaming_dedup(stream, id_col="event_id", ts_col="ts",
                        watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dedup_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    assert got.count() == 15  # e0..e14, each exactly once
    assert got.select("event_id").distinct().count() == 15


def test_streaming_flagship_custom_source(spark, tmp_path):
    """The service accepts any (description_id, english_sentence)
    streaming DataFrame as its source — the seam the Kafka variant
    plugs into."""
    from automotive_translation_pipeline_spark.streaming.flagship import (
        file_descriptions_stream,
        run_streaming_translation,
    )

    src = tmp_path / "landing"
    src.mkdir()
    lines = ["description_id,english_sentence"] + [
        f"K{i:02d},kafka-shaped sentence {i}" for i in range(8)
    ]
    (src / "in.csv").write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "results")
    q = run_streaming_translation(
        spark,
        str(src),
        out,
        str(tmp_path / "ck"),
        source=file_descriptions_stream(spark, str(src)),
    )
    q.awaitTermination(180)
    assert spark.read.parquet(out).count() == 8


def test_kafka_source_raises_clear_error_without_package(spark):
    """No spark-sql-kafka jar in this container: the factory must fail
    with an actionable message (and would return the 2-col stream when
    the package is present)."""
    import pytest

    from automotive_translation_pipeline_spark.streaming.flagship import (
        kafka_descriptions_stream,
    )

    with pytest.raises(Exception) as ei:
        df = kafka_descriptions_stream(spark, "localhost:9092", "docs")
        # If the jar IS present the stream builds lazily; force analysis.
        df.schema
    msg = str(ei.value)
    assert "kafka" in msg.lower()


def test_stream_stream_attribution_join(spark, tmp_path):
    """True stream-stream run: two file-source streams, watermarked
    interval join, append sink. Purchases must pick up only same-user
    views inside the 30-minute horizon."""
    from automotive_translation_pipeline_spark.streaming import (
        view_purchase_attribution,
    )

    vdir, pdir = tmp_path / "views", tmp_path / "purchases"
    vdir.mkdir(), pdir.mkdir()
    views = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 7, "event_type": "view", "value": 0.0},
        {"event_id": 2, "ts": "2024-01-01T10:20:00", "user_id": 7, "event_type": "view", "value": 0.0},
        {"event_id": 3, "ts": "2024-01-01T09:00:00", "user_id": 7, "event_type": "view", "value": 0.0},  # outside horizon
        {"event_id": 4, "ts": "2024-01-01T10:20:00", "user_id": 9, "event_type": "view", "value": 0.0},  # other user
    ]
    purchases = [
        {"event_id": 10, "ts": "2024-01-01T10:30:00", "user_id": 7, "event_type": "purchase", "value": 42.0},
    ]
    (vdir / "v.json").write_text("\n".join(json.dumps(r) for r in views))
    (pdir / "p.json").write_text("\n".join(json.dumps(r) for r in purchases))
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    vs = spark.readStream.schema(schema).json(str(vdir))
    ps = spark.readStream.schema(schema).json(str(pdir))
    name = f"attrib_{int(time.time())}"
    q = (
        view_purchase_attribution(vs, ps, horizon_minutes=30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["purchase_id"], r["view_id"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert got == {(10, 1), (10, 2)}


def test_streaming_upsert_sink_merges_micro_batches(spark, tmp_path):
    """Micro-batch 1 seeds the table, micro-batch 2 updates one key and
    inserts another: the sink must converge to latest-per-key (no
    append duplicates), proving the foreachBatch COW merge."""
    from automotive_translation_pipeline_spark.streaming import (
        streaming_upsert_query,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "table")
    schema = "k long, day string, val string, seq long"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": 1, "day": "d0", "val": "a", "seq": 1},
                {"k": 2, "day": "d0", "val": "b", "seq": 1},
                {"k": 3, "day": "d1", "val": "c", "seq": 1},
            ]
        )
    )
    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": 2, "day": "d0", "val": "b2", "seq": 2},
                {"k": 2, "day": "d0", "val": "b_stale", "seq": 1},
                {"k": 9, "day": "d1", "val": "new", "seq": 2},
            ]
        )
    )
    q = (
        streaming_upsert_query(
            stream, out, key_cols=("k",), partition_col="day",
            checkpoint_dir=ckpt, seq_col="seq",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r["k"]: r["val"] for r in spark.read.parquet(out).collect()}
    assert got == {1: "a", 2: "b2", 3: "c", 9: "new"}


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeListState:
    def __init__(self):
        self._items = []

    def appendValue(self, v):
        self._items.append(v)

    def get(self):
        return iter(self._items)


class _FakeHandle:
    """Duck-typed StatefulProcessorHandle: the processor only calls
    getValueState/getListState."""

    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def getListState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeListState())


def test_tws_processor_carries_state_across_batches():
    """The transformWithState job tracker's per-key logic, driven
    directly against a fake handle (the real operator needs the
    protobuf state protocol, absent in this container): state must
    carry across handleInputRows calls (no duplicate None→submitted),
    duplicate statuses advance the ordinal without emitting, and the
    ListState audit trail grows monotonically."""
    import pandas as pd

    from automotive_translation_pipeline_spark.streaming.jobs import (
        _JobTrackerProcessor,
    )

    proc = _JobTrackerProcessor(ttl_ms=1000)
    proc.init(_FakeHandle())
    b1 = pd.DataFrame(
        {"status": ["submitted", "in_progress"], "timestamp": [1, 2]}
    )
    out1 = pd.concat(proc.handleInputRows(("batch_a",), iter([b1]), None))
    assert list(
        out1[["prev_status", "status", "n_updates", "trail_len"]].itertuples(
            index=False, name=None
        )
    ) == [(None, "submitted", 1, 1), ("submitted", "in_progress", 2, 2)]

    # batch 2: duplicate in_progress (no emission, ordinal advances),
    # then completed — state survived, so ordinal continues at 4.
    b2 = pd.DataFrame({"status": ["in_progress", "completed"], "timestamp": [3, 4]})
    out2 = pd.concat(proc.handleInputRows(("batch_a",), iter([b2]), None))
    assert list(
        out2[["prev_status", "status", "n_updates", "trail_len"]].itertuples(
            index=False, name=None
        )
    ) == [("in_progress", "completed", 4, 3)]


def test_tws_operator_raises_clear_error_without_protobuf(spark):
    """Without the protobuf package the operator must fail fast with an
    actionable message, not crash the streaming query at runtime."""
    try:
        import google.protobuf  # noqa: F401

        pytest.skip("protobuf present; gate inactive")
    except ImportError:
        pass
    stream = spark.readStream.format("rate").load().selectExpr(
        "cast(value as string) AS job_id",
        "'submitted' AS status",
        "value AS timestamp",
    )
    with pytest.raises(RuntimeError, match="protobuf"):
        ledger_state_stream_tws(stream)


def test_state_inspection_reads_live_checkpoint(spark, tmp_path):
    """State Data Source reader (streaming/state_inspect.py): after a
    windowed-agg micro-batch, the checkpoint must expose the operator
    in state-metadata, the open windows as keyed state rows, and a
    partition-level skew profile that sums to the key count."""
    from automotive_translation_pipeline_spark.streaming import (
        state_metadata,
        state_rows,
        state_skew,
    )

    src = tmp_path / "state_src"
    src.mkdir()
    rows = [
        {"user_id": i % 3, "ts": f"2024-01-01T00:{i:02d}:00", "v": 1.0}
        for i in range(20)
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, v double"
    ).json(str(src))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "user_id")
        .count()
    )
    ck = str(tmp_path / "ck")
    q = (
        agg.writeStream.format("memory")
        .queryName("state_inspect_probe")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    meta = state_metadata(spark, ck).collect()
    assert len(meta) == 1 and meta[0]["operatorName"] == "stateStoreSave"

    st = state_rows(spark, ck)
    # live state = (window, user) groups the watermark has NOT evicted;
    # every one of them must have been emitted by the update-mode sink
    # (the sink may additionally hold evicted keys and per-batch
    # re-emissions, so sink ⊇ state, not equality)
    state_keys = {
        (r["key"]["window"]["start"], r["key"]["user_id"])
        for r in st.collect()
    }
    n_keys = len(state_keys)
    assert 0 < n_keys == st.count()
    sink_keys = {
        (r["window"]["start"], r["user_id"])
        for r in spark.sql(
            "SELECT window, user_id FROM state_inspect_probe"
        ).collect()
    }
    assert state_keys <= sink_keys
    assert {u for _, u in state_keys} == {0, 1, 2}

    skew = state_skew(spark, ck).collect()
    assert sum(r["n_keys"] for r in skew) == n_keys
    assert skew[0]["n_keys"] >= skew[-1]["n_keys"]


def test_poller_unknown_status_is_recorded_and_dead_ends(spark, tmp_path):
    """A service status outside the state machine is ledgered as
    unknown_<status> (reference auto_translate.py:1853-1856) and leaves
    the poll set — the loop must drain instead of retrying forever."""
    from automotive_translation_pipeline_spark.ledger import Ledger
    from automotive_translation_pipeline_spark.streaming.poller import (
        poll_until_drained,
    )

    led = Ledger(spark, str(tmp_path / "unk_ledger"))
    led.append(
        [
            {"batch_id": "a", "job_id": "job_exp", "status": "submitted",
             "timestamp": 1},
            {"batch_id": "b", "job_id": "job_ok2", "status": "submitted",
             "timestamp": 1},
        ]
    )
    calls: dict = {}

    def status_fn(job_id):
        n = calls.get(job_id, 0) + 1
        calls[job_id] = n
        if job_id == "job_exp":
            return "expired"  # OpenAI status our machine doesn't model
        return ["in_progress", "completed"][min(n - 1, 1)]

    polls = poll_until_drained(spark, led, status_fn, interval_secs=0)
    assert polls == 2
    cur = {r["job_id"]: r["status"] for r in led.current().collect()}
    assert cur == {"job_exp": "unknown_expired", "job_ok2": "completed"}
    assert calls["job_exp"] == 1  # dead end: never polled again
    assert led.pending().count() == 0


def test_tws_true_runtime_parity_with_apws(spark, tmp_path):
    """TRUE-runtime execution of ledger_state_stream_tws wherever the
    protobuf dependency exists (skipped in this container): the typed-
    state transformWithStateInPandas query must emit the same
    (prev_status, status) transition set as the applyInPandasWithState
    twin on the same event stream, plus a monotone ListState trail."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip("protobuf absent: TWS state protocol unavailable here")
    src = tmp_path / "tws_stream"
    src.mkdir()
    out = str(tmp_path / "tws_out")
    ck = str(tmp_path / "tws_ck")
    events = [
        {"job_id": "batch_a", "status": "submitted", "timestamp": 1},
        {"job_id": "batch_a", "status": "in_progress", "timestamp": 2},
        {"job_id": "batch_a", "status": "in_progress", "timestamp": 3},
        {"job_id": "batch_a", "status": "completed", "timestamp": 4},
        {"job_id": "batch_b", "status": "submitted", "timestamp": 1},
    ]
    (src / "e.json").write_text("\n".join(json.dumps(e) for e in events))
    stream = spark.readStream.schema(
        "job_id string, status string, timestamp long"
    ).json(str(src))
    q = (
        ledger_state_stream_tws(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    a = {(r["prev_status"], r["status"]) for r in rows if r["job_id"] == "batch_a"}
    assert a == {
        (None, "submitted"),
        ("submitted", "in_progress"),
        ("in_progress", "completed"),
    }
    # Duplicate in_progress advanced the ordinal without emitting.
    (completed,) = [
        r for r in rows if r["job_id"] == "batch_a" and r["status"] == "completed"
    ]
    assert completed["n_updates"] == 4 and completed["trail_len"] == 3
    assert {
        (r["prev_status"], r["status"]) for r in rows if r["job_id"] == "batch_b"
    } == {(None, "submitted")}


def test_stream_static_enrich_live(spark, tmp_path):
    """The same enrich_with_dimension plan runs as a real stream:
    static side re-read per micro-batch, missing keys defaulted."""
    from automotive_translation_pipeline_spark.streaming.jobs import (
        enrich_with_dimension,
    )

    src = tmp_path / "enrich_landing"
    src.mkdir()
    (src / "f0.csv").write_text(
        "event_id,user_id,ts\n"
        "e1,10,2024-01-01 00:00:00\n"
        "e2,11,2024-01-01 00:01:00\n"
        "e3,99,2024-01-01 00:02:00\n"  # no dim row -> UNKNOWN
    )
    dim = spark.createDataFrame(
        [(10, "GOLD"), (11, "SILVER")], ["k", "tier"]
    )
    stream = (
        spark.readStream.schema("event_id string, user_id long, ts timestamp")
        .option("header", True)
        .csv(f"{src}/*.csv")
    )
    out = str(tmp_path / "enrich_out")
    q = (
        enrich_with_dimension(
            stream, dim, event_key="user_id", dim_key="k",
            attrs={"tier": "tier"},
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "enrich_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.event_id: r.tier for r in spark.read.parquet(out).collect()}
    assert got == {"e1": "GOLD", "e2": "SILVER", "e3": "UNKNOWN"}


def test_stream_stream_left_outer_emits_null_side(spark, tmp_path):
    """Unattributed purchases must emit with NULL view columns once
    the watermark proves no matching view can still arrive — which
    needs a later batch to advance the watermark past the purchase."""
    from automotive_translation_pipeline_spark.streaming.jobs import (
        view_purchase_attribution,
    )

    vdir = tmp_path / "views"; vdir.mkdir()
    pdir = tmp_path / "purchases"; pdir.mkdir()
    head = "event_id,user_id,ts,value\n"
    # batch 1: one matched pair (user 1) and one unmatched purchase
    # (user 2, no view in window)
    (vdir / "f0.csv").write_text(
        head + "v1,1,2024-01-01 00:05:00,0\n"
    )
    (pdir / "f0.csv").write_text(
        head
        + "p1,1,2024-01-01 00:10:00,40.0\n"
        + "p2,2,2024-01-01 00:10:00,7.5\n"
    )
    # batch 2: far-future flush rows push both watermarks beyond
    # p2 + horizon so the NULL side can finalize
    (vdir / "f1.csv").write_text(head + "vF,9,2024-01-01 06:00:00,0\n")
    (pdir / "f1.csv").write_text(head + "pF,9,2024-01-01 06:00:00,0\n")

    schema = "event_id string, user_id long, ts timestamp, value double"

    def stream(d):
        return (
            spark.readStream.schema(schema)
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(f"{d}/*.csv")
        )

    out = str(tmp_path / "outer_out")
    q = (
        view_purchase_attribution(
            stream(vdir), stream(pdir),
            horizon_minutes=30, how="left_outer",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "outer_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.purchase_id: r.view_id for r in spark.read.parquet(out).collect()}
    assert got.get("p1") == "v1"          # matched pair joined
    assert "p2" in got and got["p2"] is None  # unmatched emitted w/ NULL


def test_chained_stateful_join_then_window_agg(spark, tmp_path):
    """Spark 4 multi-stateful-operator query, live: a watermarked
    stream-stream interval join FEEDS a tumbling event-time window
    aggregation in the SAME streaming query — two state stores, one
    checkpoint, watermark propagated through the join. Pre-3.5 this
    required an intermediate sink."""
    from automotive_translation_pipeline_spark.streaming.jobs import (
        attribution_window_counts,
    )

    vdir, pdir = tmp_path / "views", tmp_path / "purchases"
    vdir.mkdir(), pdir.mkdir()
    views = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 7, "event_type": "view", "value": 0.0},
        {"event_id": 2, "ts": "2024-01-01T10:20:00", "user_id": 7, "event_type": "view", "value": 0.0},
        {"event_id": 4, "ts": "2024-01-01T11:40:00", "user_id": 9, "event_type": "view", "value": 0.0},
        # Far-ahead view: the GLOBAL watermark is the min over both
        # inputs, so BOTH streams need a late event for the join's
        # output watermark to pass the hour-10/11 windows.
        {"event_id": 5, "ts": "2024-01-02T12:00:00", "user_id": 999, "event_type": "view", "value": 0.0},
    ]
    purchases = [
        # 10:30 purchase: 2 views in horizon -> 2 attributions, hour 10
        {"event_id": 10, "ts": "2024-01-01T10:30:00", "user_id": 7, "event_type": "purchase", "value": 42.25},
        # 11:50 purchase: 1 view in horizon -> 1 attribution, hour 11
        {"event_id": 11, "ts": "2024-01-01T11:50:00", "user_id": 9, "event_type": "purchase", "value": 10.00},
        # Late-hour event far ahead so the watermark passes hours 10-11
        # and the window operator can EMIT them in append mode.
        {"event_id": 12, "ts": "2024-01-02T12:00:00", "user_id": 1, "event_type": "purchase", "value": 1.0},
    ]
    (vdir / "v.json").write_text("\n".join(json.dumps(r) for r in views))
    (pdir / "p.json").write_text("\n".join(json.dumps(r) for r in purchases))
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    vs = spark.readStream.schema(schema).json(str(vdir))
    ps = spark.readStream.schema(schema).json(str(pdir))
    name = f"chained_{int(time.time())}"
    q = (
        attribution_window_counts(vs, ps, horizon_minutes=30, window_minutes=60)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # Two stateful operators must be active in the one query.
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    assert progress is not None and len(progress["stateOperators"]) == 2, (
        progress and progress["stateOperators"]
    )
    got = {
        str(r["window_start"]): (r["n_attributions"], r["attributed_cents"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert got.get("2024-01-01 10:00:00") == (2, 8450)  # 2 x 42.25
    assert got.get("2024-01-01 11:00:00") == (1, 1000)


def test_streaming_incremental_dedup_matches_batch_self_join(spark, tmp_path):
    """Documents delivered across 3 micro-batches: the streamed
    pair set (within-batch self-joins + probe-vs-index) equals the
    batch MinHash/LSH self-join over the full corpus, and the banded
    index holds every doc seen. The near-dup stream never re-hashes
    history — each batch only scans the narrow banded index."""
    from automotive_translation_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from automotive_translation_pipeline_spark.sources import load_testdata
    from automotive_translation_pipeline_spark.streaming.jobs import (
        streaming_incremental_dedup,
    )

    docs = (
        load_testdata(spark, "/root/testdata/sf0.001")["documents"]
        .select("doc_id", "text")
    )
    src = tmp_path / "docs_landing"
    src.mkdir()
    for i in range(3):  # 3 files -> 3 micro-batches (maxFilesPerTrigger=1)
        docs.filter(F.col("doc_id") % 3 == i).toPandas().to_json(
            src / f"b{i}.jsonl", orient="records", lines=True
        )
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(f"{src}/*.jsonl")
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "lsh_pairs")
    q = (
        stream.writeStream.foreachBatch(
            streaming_incremental_dedup(stream, index_dir, pairs_dir)
        )
        .option("checkpointLocation", str(tmp_path / "inc_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = {
        frozenset((r.new_id, r.index_id))
        for r in spark.read.parquet(pairs_dir).collect()
    }
    want = {
        frozenset((r.id_a, r.id_b))
        for r in minhash_lsh_candidates(docs).collect()
    }
    assert streamed == want
    assert len(want) > 0  # planted dups make this non-vacuous
    idx = spark.read.parquet(index_dir)
    assert idx.select("doc_id").distinct().count() == docs.count()
