"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

import harness as h


def test_median():
    assert h.median([3, 1, 2]) == 2
    assert h.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        h.median([])


def _write_proc(root: Path, pid: int, ppid: int, ticks: tuple, hwm_kb: int | None,
                comm: str = "python3") -> None:
    d = root / str(pid)
    d.mkdir()
    utime, stime, cutime, cstime = ticks
    fields = ["S", ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0,
              utime, stime, cutime, cstime, 20, 0, 1, 0]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, fields)) + "\n")
    status = f"Name:\t{comm}\n"
    if hwm_kb is not None:
        status += f"VmPeak:\t{hwm_kb * 2} kB\nVmHWM:\t{hwm_kb} kB\n"
    (d / "status").write_text(status)


@pytest.fixture
def fake_proc(tmp_path):
    # 10 -> 11 (java) -> 12, 13 (python workers); 20 is unrelated.
    _write_proc(tmp_path, 10, 1, (100, 50, 7, 3), 1000, comm="run.py (x) y")
    _write_proc(tmp_path, 11, 10, (400, 100, 0, 0), 204800, comm="java")
    _write_proc(tmp_path, 12, 11, (30, 20, 0, 0), 51200)
    _write_proc(tmp_path, 13, 11, (10, 0, 0, 0), None)
    _write_proc(tmp_path, 20, 1, (999, 999, 0, 0), 999999)
    (tmp_path / "stat").write_text(
        "cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n"
    )
    return str(tmp_path)


def test_read_stat_parses_names_with_spaces_and_parens(fake_proc):
    assert h.read_stat(10, fake_proc) == (1, 160)


def test_read_stat_on_live_process():
    ppid, ticks = h.read_stat(os.getpid())
    assert ppid == os.getppid() and ticks >= 0


def test_tree_cpu_sums_descendants_only(fake_proc):
    table = h.process_table(fake_proc)
    assert h.descendants(10, table) == {10, 11, 12, 13}
    want = (160 + 500 + 50 + 10) / h.CLK_TCK
    assert h.tree_cpu_seconds(10, fake_proc) == (pytest.approx(want), 0)
    assert h.tree_cpu_seconds(11, fake_proc)[0] == pytest.approx(560 / h.CLK_TCK)


def test_tree_cpu_leaves_out_named_threads(fake_proc):
    tasks = Path(fake_proc) / "11" / "task"
    for tid, name, ut, st in ((11, "java", 5, 5), (40, "C2 CompilerThre", 300, 20),
                              (41, "C1 CompilerThre", 60, 0), (42, "Executor task", 70, 40)):
        (tasks / str(tid)).mkdir(parents=True)
        (tasks / str(tid) / "stat").write_text(
            f"{tid} ({name}) S 10 " + " ".join(["0"] * 9) + f" {ut} {st} 0 0 20 0\n"
        )
    skip = ("C1 CompilerThre", "C2 CompilerThre")
    assert h.thread_ticks(11, skip, fake_proc) == 380
    assert h.thread_ticks(12, skip, fake_proc) == 0  # no task dir
    total, skipped = h.tree_cpu_seconds(10, fake_proc, skip_threads=skip)
    assert total == pytest.approx((160 + 500 + 50 + 10) / h.CLK_TCK)
    assert skipped == pytest.approx(380 / h.CLK_TCK)


def test_peak_rss_sums_vmhwm_below_root(fake_proc):
    assert h.status_kb(12, "VmHWM", fake_proc) == 51200
    assert h.status_kb(12, "VmPeak", fake_proc) == 102400
    assert h.status_kb(13, "VmHWM", fake_proc) == 0  # no such line
    assert h.status_kb(99, "VmHWM", fake_proc) == 0  # gone
    assert h.tree_peak_rss_mb(10, fake_proc) == {11: 200.0, 12: 50.0, 13: 0.0}


def test_steal_share(fake_proc):
    before = h.cpu_steal_ticks(fake_proc)
    assert before == (40, 1000)
    assert h.steal_share(before, (60, 1200)) == pytest.approx(0.1)
    assert h.steal_share(before, before) == 0.0


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "trace": "t"}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "job", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 5.0, 0),  # overlaps a: union 1..5 = 4 s
        _span(3, "c", 9.0, 12.0, 0),  # runs past the parent: 1 s counted
        _span(4, "a.x", 1.5, 2.0, 1),  # grandchild: only a loses it
    ]
    st = h.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)
    assert h.self_time_by_name(spans + [_span(5, "a", 20.0, 21.0)])["a"] == [
        pytest.approx(2.5), pytest.approx(1.0)
    ]


def test_tracer_nests_and_tags_trace():
    tr = h.Tracer()
    tid = tr.new_trace()
    with tr.span("root"):
        with tr.span("leaf") as leaf:
            pass
    assert leaf["parent"] == 0 and leaf["trace"] == tid
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_atomic_write_json_replaces_whole_file(tmp_path):
    p = tmp_path / "r.json"
    h.atomic_write_json(str(p), {"a": 1})
    h.atomic_write_json(str(p), {"a": 2, "ops": [1, 2]})
    assert json.loads(p.read_text()) == {"a": 2, "ops": [1, 2]}
    with pytest.raises(TypeError):
        h.atomic_write_json(str(p), {"bad": object()})
    assert json.loads(p.read_text())["a"] == 2  # old file intact
    assert os.listdir(tmp_path) == ["r.json"]  # no temp file left


def test_rows_hash_is_order_insensitive():
    a = [("1", "x"), ("2", "y")]
    assert h.rows_hash(a) == h.rows_hash(list(reversed(a)))
    assert h.rows_hash(a) != h.rows_hash([("1", "x"), ("2", "z")])


def test_benchmark_json_names_match_the_code():
    import run
    import workloads

    spec = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.per_layer_names()
