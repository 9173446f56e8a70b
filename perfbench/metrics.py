"""Spark-free measurement helpers: percentiles, line → batch latency
attribution, per-trigger summaries of progress records, the span recorder
and the peak-RSS sampler."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def pct(values, q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation."""
    vals = sorted(values)
    if not vals:
        raise ValueError("no samples")
    if len(vals) == 1:
        return float(vals[0])
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (pos - lo))


def attribute_latency(
    due: list[float], batches: list[tuple[float, int]], cut: float, end: float = float("inf")
):
    """Latency of every line from its due time to the moment its batch's
    progress event arrived.

    ``due`` holds one due time per line in send order (one ordered
    source, so lines reach batches in that order).  ``batches`` holds
    ``(visible_at, numInputRows)`` per micro-batch in batch order, empty
    batches included.  Only lines due in ``[cut, end)`` are sampled, which
    leaves out the warm-up window.  Returns ``(latencies_ms,
    lines_committed)``."""
    out = []
    i = 0
    for visible_at, n in batches:
        if i + n > len(due):
            raise ValueError(f"batches hold {i + n} rows but only {len(due)} were sent")
        for k in range(i, i + n):
            if cut <= due[k] < end:
                out.append((visible_at - due[k]) * 1000.0)
        i += n
    return out, i


def backlog_max(due: list[float], batches: list[tuple[float, int]]) -> int:
    """Largest number of lines due but not yet committed, sampled at each
    batch's progress event."""
    worst, committed, j = 0, 0, 0
    for visible_at, n in batches:
        while j < len(due) and due[j] <= visible_at:
            j += 1
        worst = max(worst, j - committed)
        committed += n
    return worst


def trigger_cpu_ms(events: list[tuple[float, dict]], since: float = float("-inf")) -> list[float]:
    """CPU milliseconds of each data trigger of one query, from the
    process-tree CPU seconds (``cpu_s``) recorded with consecutive progress
    events ``(time, record)``.  The triggers run back to back, so what was
    spent between two events is the later trigger's.  The first event has
    no predecessor and is skipped, and so is every event before ``since``."""
    out = []
    for (_, prev), (t, p) in zip(events, events[1:]):
        if p["numInputRows"] > 0 and t >= since:
            out.append((p["cpu_s"] - prev["cpu_s"]) * 1000.0)
    return out


_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
_ROCKSDB = {
    "state.rocksdb.commit_checkpoint_ms": "rocksdbCommitCheckpointLatency",
    "state.rocksdb.commit_flush_ms": "rocksdbCommitFlushLatency",
    "state.rocksdb.file_sync_ms": "rocksdbCommitFileSyncLatencyMs",
    "state.rocksdb.save_zip_ms": "rocksdbSaveZipFilesLatencyMs",
}


def trigger_layers(progress: list[dict], wall_s: float) -> dict[str, float]:
    """Per-layer metrics from the progress records of data triggers:
    engine phases, the ``applyInPandasWithState`` operator and its RocksDB
    store, and source offset handling.  Phase times are means per data
    trigger; trigger execution has its p50 and p90."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        raise ValueError("no data trigger in the measured window")
    dur = [p["durationMs"] for p in data]
    ops = [p["stateOperators"][0] for p in data]
    exe = [d.get("triggerExecution", 0) for d in dur]
    mean = statistics.fmean
    out = {
        "trigger.execution_ms.p50": pct(exe, 50),
        "trigger.execution_ms.p90": pct(exe, 90),
        "trigger.busy_share": sum(exe) / 1000.0 / wall_s,
        "trigger.planning_ms": mean(d.get("queryPlanning", 0) for d in dur),
        "trigger.wal_commit_ms": mean(d.get("walCommit", 0) for d in dur),
        "trigger.commit_offsets_ms": mean(d.get("commitOffsets", 0) for d in dur),
        "trigger.add_batch_ms": mean(d.get("addBatch", 0) for d in dur),
        "trigger.count": float(len(data)),
        "state.update_ms": mean(o["allUpdatesTimeMs"] for o in ops),
        "state.rows_updated": float(sum(o["numRowsUpdated"] for o in ops)),
        "state.rows_total": float(ops[-1]["numRowsTotal"]),
        "state.memory_bytes": float(ops[-1]["memoryUsedBytes"]),
        "state.commit_ms": mean(o["commitTimeMs"] for o in ops),
        "state.rocksdb.sst_bytes": float(ops[-1]["customMetrics"].get("rocksdbSstFileSize", 0)),
        "state.rocksdb.bytes_written": float(
            sum(o["customMetrics"].get("rocksdbTotalBytesWritten", 0) for o in ops)
        ),
        "source.offset_ms": mean(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur),
    }
    for name, key in _ROCKSDB.items():
        out[name] = mean(o["customMetrics"].get(key, 0) for o in ops)
    return out


class Tracer:
    """In-memory spans (name, start, end, parent) written out at the end.
    Disabled, every call is a no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        start = time.monotonic()
        try:
            yield
        finally:
            self.add(name, start, time.monotonic(), parent, **attrs)

    def add_trigger(self, progress: dict, visible_at: float) -> None:
        """One trigger span ending at its progress event, with its
        ``durationMs`` phases as children laid out in execution order."""
        if not self.enabled:
            return
        dur = progress["durationMs"]
        start = visible_at - dur.get("triggerExecution", 0) / 1000.0
        sid = self.add(
            "trigger", start, visible_at, batch=progress["batchId"], rows=progress["numInputRows"]
        )
        t = start
        for phase in _PHASES:
            ms = dur.get(phase, 0)
            self.add(f"trigger.{phase}", t, t + ms / 1000.0, sid)
            t += ms / 1000.0

    def self_times(self) -> dict[str, float]:
        """Summed self time (s) per span name: duration minus the part its
        children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_time_s": self.self_times()}, fh)


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_stats(root_pid: int, exclude: set[int]) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root_pid``
    and its descendants, minus the subtrees rooted at ``exclude``."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # raced a process exit
    parent = {pid: int(f[1]) for pid, f in stats.items()}
    out = {}
    for pid, fields in stats.items():
        p = pid
        while p and p != root_pid and p not in exclude:
            p = parent.get(p, 0)
        if p == root_pid and pid not in exclude:
            out[pid] = fields
    return out


def tree_cpu_s(root_pid: int, exclude: set[int]) -> float:
    """CPU seconds (user + system) spent so far by ``root_pid``'s process
    tree, minus the subtrees rooted at ``exclude``: each live process's own
    time plus that of the children it has reaped.  The kernel books time
    the hypervisor gave to another guest as steal, not to the process, so
    this figure holds still while a shared host's steal comes and goes."""
    ticks = 0
    for fields in tree_stats(root_pid, exclude).values():
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks * _TICK_S


def _tree_pss_kb(root_pid: int, exclude: set[int]) -> int:
    """Summed proportional set size of ``root_pid``'s process tree, minus
    the subtrees rooted at ``exclude``.  PSS rather than RSS: pages a
    forked Python worker shares with its daemon count once, not once per
    worker alive at the sampling instant."""
    total = 0
    for pid in tree_stats(root_pid, exclude):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the driver process tree's memory.  The
    peak is the highest level held over two consecutive samples, so a
    single sample caught mid-fork or mid-exit does not set it."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.cpu_s = 0.0  # CPU the sampling thread has used, for callers to discount
        self._last_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.sample(root)
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def sample(self, root: int | None = None) -> None:
        kb = _tree_pss_kb(root or os.getpid(), self.exclude)
        self.peak_kb = max(self.peak_kb, min(kb, self._last_kb))
        self._last_kb = kb

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; peak memory in MB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak_kb / 1024.0
