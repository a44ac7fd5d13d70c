"""Pure helpers of the benchmark: statistics, /proc sampling, spans and
artifacts. Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- statistics ------------------------------------------------------------


def median(values) -> float:
    """Median of a non-empty sequence (raises ``ValueError`` when empty)."""
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


# --- /proc sampling --------------------------------------------------------


def read_stat(pid: int, proc: str = "/proc") -> tuple[int, int]:
    """``(ppid, cpu_ticks)`` of one process, where ``cpu_ticks`` is user +
    system time of all its threads plus that of its reaped children."""
    with open(f"{proc}/{pid}/stat") as fh:
        text = fh.read()
    # The command name may hold spaces and parentheses: fields start
    # after the last ')'.
    rest = text[text.rindex(")") + 2:].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(v) for v in rest[11:15])
    return ppid, utime + stime + cutime + cstime


def process_table(proc: str = "/proc") -> dict[int, tuple[int, int]]:
    """``pid -> (ppid, cpu_ticks)`` for every process still readable."""
    table = {}
    for name in os.listdir(proc):
        if name.isdigit():
            try:
                table[int(name)] = read_stat(int(name), proc)
            except (OSError, ValueError, IndexError):
                continue  # exited between listdir and open
    return table


def descendants(root: int, table: dict[int, tuple[int, int]]) -> set[int]:
    """``root`` and every process below it in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def thread_ticks(pid: int, prefixes: tuple[str, ...], proc: str = "/proc") -> int:
    """CPU ticks of the threads of ``pid`` whose name starts with one of
    ``prefixes``."""
    total = 0
    try:
        tids = os.listdir(f"{proc}/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"{proc}/{pid}/task/{tid}/stat") as fh:
                text = fh.read()
        except OSError:
            continue
        if text[text.index("(") + 1:text.rindex(")")].startswith(prefixes):
            rest = text[text.rindex(")") + 2:].split()
            total += int(rest[11]) + int(rest[12])
    return total


def tree_cpu_seconds(root: int, proc: str = "/proc",
                     skip_threads: tuple[str, ...] = ()) -> tuple[float, float]:
    """CPU-seconds used so far by ``root`` and all its descendants, and the
    part of it spent by their threads named with a prefix in
    ``skip_threads``."""
    table = process_table(proc)
    pids = descendants(root, table) & table.keys()
    skipped = sum(thread_ticks(p, skip_threads, proc) for p in pids) if skip_threads else 0
    return sum(table[p][1] for p in pids) / CLK_TCK, skipped / CLK_TCK


def status_kb(pid: int, key: str = "VmHWM", proc: str = "/proc") -> int:
    """One ``kB`` field of ``/proc/<pid>/status`` (``VmHWM``: peak resident
    set; ``VmRSS``: resident set now); 0 when the process is gone or has no
    such field."""
    try:
        with open(f"{proc}/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int, proc: str = "/proc") -> dict[int, float]:
    """``VmHWM`` in MiB of each descendant of ``root``, without ``root``
    itself: for a Spark driver program, the JVM and its Python workers."""
    pids = descendants(root, process_table(proc)) - {root}
    return {p: status_kb(p, "VmHWM", proc) / 1024.0 for p in sorted(pids)}


def cpu_steal_ticks(proc: str = "/proc") -> tuple[int, int]:
    """``(steal, total)`` jiffies of all CPUs from ``/proc/stat``."""
    with open(f"{proc}/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice.
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and trace id. Spans nest
    by the order they are opened; ``new_trace`` starts a new trace id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = uuid.uuid4().hex[:16]

    def new_trace(self) -> str:
        self.trace_id = uuid.uuid4().hex[:16]
        return self.trace_id

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        clipped = [(max(a, s), min(b, e)) for a, b in kids.get(sp["id"], [])]
        out[sp["id"]] = (e - s) - _covered([iv for iv in clipped if iv[1] > iv[0]])
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, list[float]]:
    """Span name -> self times of every span with that name."""
    st = self_times(spans)
    out: dict[str, list[float]] = {}
    for sp in spans:
        out.setdefault(sp["name"], []).append(st[sp["id"]])
    return out


# --- artifacts -------------------------------------------------------------


def atomic_write_json(path: str, obj) -> None:
    """Serialize first, then write a temp file beside ``path`` and rename it
    over ``path``: a reader sees the old file or the new one, never a torn
    one, and a failed write leaves no temp file behind."""
    text = json.dumps(obj, indent=1, sort_keys=True)
    tmp = f"{path}.tmp{os.getpid()}"
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def rows_hash(rows) -> str:
    """Order-insensitive SHA-256 of an iterable of row tuples."""
    h = hashlib.sha256()
    for line in sorted("\x1f".join(map(str, r)) for r in rows):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()
