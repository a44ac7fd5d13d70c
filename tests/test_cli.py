"""CLI parity tests: the reference's three entry points
(auto_translate.py main / analyze, batch_auto_translate.py) driven
in-process against the session fixture."""

from __future__ import annotations

import csv
import json
import random

import pytest
from pyspark.sql import functions as F

from automotive_translation_pipeline_spark import cli
from automotive_translation_pipeline_spark.translate import (
    mock_translation,
    render_mock_content,
)


def _write_csv(path, rows):
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(["description_id", "english_sentence"])
        w.writerows(rows)


def test_cli_translate_end_to_end(spark, tmp_path, capsys):
    src = tmp_path / "in.csv"
    _write_csv(
        src,
        [(str(i), f"car part number {i} with housing") for i in range(1, 9)]
        + [("9", "   ")],  # R-7: blank row dropped
    )
    out = tmp_path / "out.csv"
    rc = cli.main(
        ["translate", str(src), "German", str(out)], spark=spark
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "Total rows:      8" in text
    assert "Success rate:" in text
    raw = out.read_bytes()
    assert raw.startswith(b"\xef\xbb\xbf")  # utf-8-sig like the reference
    rows = list(csv.DictReader(raw.decode("utf-8-sig").splitlines()))
    assert len(rows) == 8
    by_id = {r["description_id"]: r for r in rows}
    # mock translation of a surviving row is the reversed sentence
    # (unless its batch hit the truncation-cut mock format)
    ok = [
        r
        for r in rows
        if r["translated_sentence"]
        == mock_translation(r["english_sentence"])
    ]
    assert len(ok) >= 6
    assert "9" not in by_id


def test_cli_translate_reference_style_ids(spark, tmp_path, capsys):
    """``P0001``-style ids, the reference's own format, translate: the
    todo orders rows by their place in the file, not by an id cast."""
    src = tmp_path / "in.csv"
    _write_csv(src, [(f"P{i:04d}", f"wiper blade {i} with clip") for i in (3, 1, 2)])
    out = tmp_path / "out.csv"
    assert cli.main(["translate", str(src), "German", str(out)], spark=spark) == 0
    assert "Total rows:      3" in capsys.readouterr().out
    rows = list(csv.DictReader(out.read_bytes().decode("utf-8-sig").splitlines()))
    assert sorted(r["description_id"] for r in rows) == ["P0001", "P0002", "P0003"]


def _ids_in_seq_order(todo):
    return [r["description_id"] for r in todo.orderBy("seq").collect()]


def test_todo_keeps_file_order(spark, tmp_path):
    """Neither the ids' string order ("100" < "21" < "3" < "8") nor their
    numeric order decides the packing order: the file's does."""
    src = tmp_path / "in.csv"
    ids = ["21", "8", "100", "3"]
    _write_csv(src, [(i, f"mirror cap {i}") for i in ids])
    assert _ids_in_seq_order(cli._todo_from_csv(spark, str(src))) == ids


def test_translate_and_batch_pack_a_file_alike(spark, tmp_path):
    """One CSV packed as ``cli translate`` packs it and as ``cli batch``
    packs it (a folder holding only that file) gives the same rows in
    the same batches."""
    from automotive_translation_pipeline_spark.plans.folder import folder_todo
    from automotive_translation_pipeline_spark.plans.pipeline import _pack

    ind = tmp_path / "csvs"
    ind.mkdir()
    ids = [str(i) for i in random.Random(5).sample(range(1, 400), 60)]
    _write_csv(
        ind / "one.csv", [(i, "door handle trim " * (1 + int(i) % 4)) for i in ids]
    )

    def groups(todo):
        rows = _pack(todo, 60).orderBy("seq").collect()
        by_batch: dict[str, list[str]] = {}
        for r in rows:
            n = r["batch_id"].rsplit("-", 1)[1]
            by_batch.setdefault(n, []).append(r["description_id"])
        return by_batch

    single = groups(cli._todo_from_csv(spark, str(ind / "one.csv")))
    assert len(single) > 1
    assert groups(folder_todo(spark, str(ind))) == single


def test_todo_file_order_survives_split_scans(spark, tmp_path):
    """With 1 KB scan splits each file is read by several tasks, and
    ``seq`` still follows each file's row order, in one file and in a
    folder of files of different sizes."""
    from automotive_translation_pipeline_spark.plans.folder import folder_todo

    ind = tmp_path / "csvs"
    ind.mkdir()
    order = {}
    for stem, n in (("big", 400), ("small", 150)):
        ids = [str(i) for i in random.Random(n).sample(range(1, 10_000), n)]
        _write_csv(ind / f"{stem}.csv", [(i, f"fuel pump relay {i}") for i in ids])
        order[stem] = ids
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        single = cli._todo_from_csv(spark, str(ind / "big.csv"))
        assert single.rdd.getNumPartitions() > 1
        assert _ids_in_seq_order(single) == order["big"]
        folder = folder_todo(spark, str(ind))
        for stem, ids in order.items():
            rows = folder.filter(F.col("source_stem") == stem)
            assert _ids_in_seq_order(rows) == ids
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def _run_translate(spark, tmp_path):
    src = tmp_path / "in.csv"
    _write_csv(
        src, [(str(i), f"brake pad kit {i} with sensor") for i in range(1, 13)]
    )
    cli.cmd_translate(spark, str(src), "German", str(tmp_path / "out.csv"))


def _run_batch(spark, tmp_path):
    ind = tmp_path / "csvs"
    ind.mkdir()
    _write_csv(ind / "alpha.csv", [(str(i), f"alpha pad {i}") for i in range(1, 7)])
    _write_csv(ind / "beta.csv", [(str(i), f"beta pad {i}") for i in range(1, 5)])
    cli.cmd_batch(spark, str(ind), "German", str(tmp_path / "out"))


def _run_stream(spark, tmp_path):
    """One micro-batch of the streaming flagship, run to completion."""
    from automotive_translation_pipeline_spark.streaming.flagship import (
        run_streaming_translation,
    )

    src = tmp_path / "landing"
    src.mkdir()
    _write_csv(src / "in.csv", [(f"S{i}", f"stream pad {i}") for i in range(8)])
    q = run_streaming_translation(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(180)
    assert q.exception() is None
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [0]
    assert spark.read.parquet(str(tmp_path / "out")).count() == 8


def _response_line(custom_id, content):
    return json.dumps({"custom_id": custom_id, "response": {
        "status_code": 200,
        "body": {"choices": [{"message": {"content": content}}]},
    }, "error": None})


def _run_analyze(spark, tmp_path):
    src = tmp_path / "responses.jsonl"
    src.write_text(
        _response_line("b-1", json.dumps({"1": "eins", "2": "zwei"})) + "\n"
        + _response_line("b-2", '```json\n{"3": "drei", "4": "vi') + "\n",
        encoding="utf-8",
    )
    in_csv = tmp_path / "in.csv"
    _write_csv(in_csv, [(str(i), f"pad {i}") for i in range(1, 6)])
    cli.cmd_analyze(spark, str(src), str(in_csv))


def _run_analyze_batch(spark, tmp_path):
    requests = tmp_path / "requests.jsonl"
    payload = json.dumps({"1": "alpha one", "2": "beta two"})
    requests.write_text(json.dumps({
        "custom_id": "b-1", "method": "POST", "url": "/v1/chat/completions",
        "body": {"messages": [{"role": "user", "content": payload}]},
    }) + "\n", encoding="utf-8")
    responses = tmp_path / "responses.jsonl"
    responses.write_text(
        _response_line("b-1", json.dumps({"2": "zwei", "1": "eins"})) + "\n",
        encoding="utf-8",
    )
    assert cli.cmd_analyze_batch(
        spark, str(responses), str(requests), "b-1"
    ) == 0


@pytest.mark.parametrize(
    "run",
    [_run_translate, _run_batch, _run_stream, _run_analyze, _run_analyze_batch],
    ids=["translate", "batch", "stream", "analyze", "analyze_batch"],
)
def test_cli_translate_releases_persisted_frames(spark, tmp_path, run):
    """A translate job, a folder job, a streaming micro-batch and both
    analyze forms each leave no persisted RDD and no stored block
    behind: their staged intermediates are released when the command
    returns, so a long-lived session running many jobs does not
    accumulate them."""
    jsc = spark.sparkContext._jsc

    def resident():
        return (
            set(jsc.getPersistentRDDs().keySet().toArray()),
            {info.id() for info in jsc.sc().getRDDStorageInfo()},
        )

    before = resident()
    run(spark, tmp_path)
    after = resident()
    assert after[0] <= before[0] and after[1] <= before[1]


def test_cli_analyze_taxonomy(spark, tmp_path, capsys):
    payload = {"1": "first sentence here", "2": "second sentence here"}
    clean = json.dumps({k: mock_translation(v) for k, v in payload.items()})
    truncated = render_mock_content(payload, "b-trunc")
    # force the truncated format regardless of the id hash: rebuild it
    body = json.dumps(
        {k: mock_translation(v) for k, v in payload.items()}, indent=2
    )
    truncated = "```json\n" + body[: body.rfind('",') + 2]
    lines = [
        {"custom_id": "b-ok", "response": {"status_code": 200, "body": {
            "choices": [{"message": {"content": clean}}]}}, "error": None},
        {"custom_id": "b-trunc", "response": {"status_code": 200, "body": {
            "choices": [{"message": {"content": truncated}}]}}, "error": None},
        {"custom_id": "b-err", "response": {"status_code": 500, "body": None},
         "error": "server exploded"},
        {"custom_id": "b-empty", "response": {"status_code": 200, "body": {
            "choices": [{"message": {"content": "   "}}]}}, "error": None},
        {"custom_id": "b-junk", "response": {"status_code": 200, "body": {
            "choices": [{"message": {"content": "<<<no structure>>>"}}]}},
         "error": None},
    ]
    src = tmp_path / "responses.jsonl"
    src.write_text("\n".join(json.dumps(ln) for ln in lines) + "\n")
    in_csv = tmp_path / "orig.csv"
    _write_csv(in_csv, [("1", "first sentence here"),
                        ("2", "second sentence here"),
                        ("3", "never answered")])

    rc = cli.main(["analyze", str(src), str(in_csv)], spark=spark)
    assert rc == 0
    text = capsys.readouterr().out
    for bucket in ("parsed_ok", "repaired", "api_error", "empty_content",
                   "unparseable"):
        assert bucket in text, text
    assert "Repaired 1 truncated batch(es)" in text
    assert "Original rows:   3" in text
    assert "Missing ids:     1" in text  # id 3 never parsed
    repaired_file = tmp_path / "responses_repaired.jsonl"
    assert repaired_file.is_file()  # one real JSONL file, not a part-file dir
    lines = repaired_file.read_text(encoding="utf-8").splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert set(rec) == {"custom_id", "content"} and rec["content"]


def test_cli_analyze_batch_drilldown(spark, tmp_path, capsys):
    """analyze --batch <custom_id> (reference debug_specific_batch,
    check_and_process.py:322-374): expected-vs-received drill-down on a
    batch with a missing id, a planted extra, and out-of-order parses."""
    requests = tmp_path / "requests.jsonl"
    payload = {"1": "alpha one", "2": "beta two", "3": "gamma three"}
    requests.write_text(
        json.dumps(
            {
                "custom_id": "b-1",
                "method": "POST",
                "url": "/v1/chat/completions",
                "body": {
                    "messages": [
                        {"role": "system", "content": "translate"},
                        {"role": "user", "content": json.dumps(payload)},
                    ]
                },
            }
        )
        + "\n",
        encoding="utf-8",
    )
    responses = tmp_path / "responses.jsonl"
    # id 3 never answered; id 4 was never requested; 2 before 1.
    content = json.dumps({"2": "zwei", "1": "eins", "4": "vier"})
    responses.write_text(
        json.dumps(
            {
                "custom_id": "b-1",
                "response": {
                    "status_code": 200,
                    "body": {"choices": [{"message": {"content": content}}]},
                },
                "error": None,
            }
        )
        + "\n",
        encoding="utf-8",
    )

    rc = cli.main(
        ["analyze", str(responses), "--batch", "b-1",
         "--requests", str(requests)],
        spark=spark,
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "Expected ids:    3" in text
    assert "Received ids:    3" in text
    assert "- 3: gamma three" in text          # missing, with its sentence
    assert "Extra translations for b-1:\n  - 4" in text  # planted extra
    assert "Order violations: 2" in text       # 2 and 1 swapped

    # unknown custom_id -> error exit, reference-style message, and no
    # cached frame left behind: neither for an id the request file lacks
    # nor for one only the response file lacks.
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    rc = cli.main(
        ["analyze", str(responses), "--batch", "nope",
         "--requests", str(requests)],
        spark=spark,
    )
    assert rc == 1
    assert "not found" in capsys.readouterr().out
    assert set(jsc.getPersistentRDDs().keySet().toArray()) - before == set()
    empty = tmp_path / "empty_responses.jsonl"
    empty.write_text(
        json.dumps({"custom_id": "b-other", "response": None, "error": None})
        + "\n",
        encoding="utf-8",
    )
    rc = cli.main(
        ["analyze", str(empty), "--batch", "b-1", "--requests", str(requests)],
        spark=spark,
    )
    assert rc == 1
    assert f"not found in {empty}" in capsys.readouterr().out
    assert set(jsc.getPersistentRDDs().keySet().toArray()) - before == set()


def test_cli_batch_folder(spark, tmp_path, capsys):
    ind = tmp_path / "csvs"
    ind.mkdir()
    _write_csv(ind / "alpha.csv",
               [(str(i), f"alpha sentence {i} of note") for i in range(1, 6)])
    _write_csv(ind / "beta.csv",
               [(str(i), f"beta sentence {i} of note") for i in range(1, 4)])
    out = tmp_path / "out"
    rc = cli.main(["batch", str(ind), "German", str(out)], spark=spark)
    assert rc == 0
    text = capsys.readouterr().out
    assert "alpha" in text and "beta" in text
    assert "Processed 2 file(s)" in text
    assert (out / "source_stem=alpha").is_dir()
    assert (out / "source_stem=beta").is_dir()


def test_cli_usage(spark, capsys):
    assert cli.main([], spark=spark) == 1
    assert "Usage:" in capsys.readouterr().out
    assert cli.main(["translate", "only-one-arg"], spark=spark) == 1
