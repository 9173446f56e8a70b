"""Tests for the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random

import pytest

import gen
import run
from metrics import Tracer, attribute_latency, backlog_max, pct, tree_cpu_s, trigger_cpu_ms, trigger_layers

HERE = os.path.dirname(os.path.abspath(__file__))


def _event(fid: str, ts_s: int, tag: str = "x") -> tuple:
    return (fid, ts_s, "1.00000", "2.00000", "IAD", "TPA", tag, 30000)


# ------------------------------------------------------------ generator


def test_live_schedule_is_deterministic_for_a_seed():
    a = gen.live_schedule(7, 100.0, 50, 5.0)
    assert a == gen.live_schedule(7, 100.0, 50, 5.0)
    assert a != gen.live_schedule(8, 100.0, 50, 5.0)
    offs = [o for o, _ in a]
    assert offs == sorted(offs) and 0 < offs[0] and offs[-1] < 5.0
    assert 350 < len(a) < 650  # ~rate × seconds


def test_history_is_deterministic_for_a_seed():
    a = list(gen.history_files(3, 40, 3, 500))
    assert a == list(gen.history_files(3, 40, 3, 500))
    assert a != list(gen.history_files(4, 40, 3, 500))
    assert [len(f) for f in a] == [500, 500, 500]
    lines = [gen.to_line(ev) for f in a for ev in f]
    assert lines == [gen.to_line(ev) for f in gen.history_files(3, 40, 3, 500) for ev in f]


def test_live_event_times_strictly_increase_per_flight():
    last: dict[str, int] = {}
    for _, ev in gen.live_schedule(1, 200.0, 20, 3.0):
        assert ev[1] > last.get(ev[0], -1)
        last[ev[0]] = ev[1]


def test_history_mixes_resends_and_out_of_order_reports():
    events = [ev for f in gen.history_files(5, 100, 4, 2500) for ev in f]
    seen: set = set()
    newest: dict[str, int] = {}
    resends = late = 0
    for ev in events:
        if (ev[0], ev[1]) in seen:
            resends += 1
        elif ev[1] < newest.get(ev[0], -1):
            late += 1
            assert ev[1] % 2 == 1  # out-of-order reports sit on odd seconds
        seen.add((ev[0], ev[1]))
        newest[ev[0]] = max(newest.get(ev[0], -1), ev[1])
    assert 0.03 < resends / len(events) < 0.08
    assert 0.02 < late / len(events) < 0.07


def test_equal_flight_and_time_means_identical_line():
    lines: dict[tuple, str] = {}
    for f in gen.history_files(9, 30, 3, 1000):
        for ev in f:
            line = gen.to_line(ev)
            assert lines.setdefault((ev[0], ev[1]), line) == line


def test_format_time_uses_twelve_hour_clock():
    assert gen.format_time(gen.BASE_EPOCH_S) == "3/16/2012 12:00:00 AM"
    assert gen.format_time(gen.BASE_EPOCH_S + 13 * 3600 + 5 * 60 + 7) == "3/16/2012 01:05:07 PM"
    assert gen.format_time(gen.BASE_EPOCH_S + 12 * 3600) == "3/16/2012 12:00:00 PM"


# ------------------------------------------------------- reference fold


def test_reference_fold_dedups_equal_timestamps_state_winning():
    fold = gen.ReferenceFold()
    fold.add(_event("A", 100, "first"))
    fold.add(_event("A", 100, "second"))  # same ts: the stored row wins
    row = fold.view()["A"]
    assert row[1] == 1 and row[8] == "first"


def test_reference_fold_keeps_newest_ten_and_purges_older_arrivals():
    fold = gen.ReferenceFold()
    for t in range(100, 130, 2):  # 15 reports
        fold.add(_event("A", t))
    fold.add(_event("A", 101))  # older than all 10 retained: purged on arrival
    row = fold.view()["A"]
    assert row[1] == 10
    assert row[2] == 128_000 and row[3] == 110_000


def test_reference_fold_out_of_order_inside_track_evicts_oldest():
    fold = gen.ReferenceFold()
    for t in range(100, 120, 2):  # 10 reports: 100..118
        fold.add(_event("A", t))
    fold.add(_event("A", 111, "late"))  # inside the track
    row = fold.view()["A"]
    assert row[1] == 10
    assert row[3] == 102_000  # 100 evicted
    assert row[2] == 118_000 and row[8] == "x"  # latest values unchanged


def test_reference_fold_is_independent_of_batching_and_arrival_order():
    events = [ev for f in gen.history_files(11, 25, 2, 1500) for ev in f]
    sequential = gen.ReferenceFold()
    for ev in events:
        sequential.add(ev)
    shuffled = list(events)
    random.Random(0).shuffle(shuffled)
    other = gen.ReferenceFold()
    for ev in shuffled:
        other.add(ev)
    assert sequential.view() == other.view()
    # brute force: newest 10 distinct timestamps per flight
    by_flight: dict[str, dict[int, tuple]] = {}
    for ev in events:
        by_flight.setdefault(ev[0], {}).setdefault(ev[1], ev)
    for fid, row in sequential.view().items():
        kept = sorted(by_flight[fid])[-10:]
        assert row[1] == len(kept) and row[2] == kept[-1] * 1000 and row[3] == kept[0] * 1000
        assert row[4] == float(by_flight[fid][kept[-1]][2])


def test_compare_views_reports_missing_extra_and_unequal_rows():
    expected = {"A": ("A", 1, 1000), "B": ("B", 2, 2000), "C": ("C", 1, 500)}
    rows = [("A", 1, 1000), ("B", 3, 2000), ("D", 1, 1)]
    assert gen.compare_views(expected, rows) == ["B", "C", "D"]
    assert gen.compare_views(expected, list(expected.values())) == []


# -------------------------------------------------- latency attribution


def test_latency_attribution_maps_lines_to_batches_in_order():
    due = [0.0, 0.1, 0.2, 0.3, 0.4, 1.2]
    batches = [(1.0, 3), (1.5, 0), (2.0, 2), (3.0, 1)]  # one empty batch
    lat, committed = attribute_latency(due, batches, cut=0.0)
    assert committed == 6
    assert lat == pytest.approx([1000, 900, 800, 1700, 1600, 1800])


def test_latency_attribution_skips_the_warm_up_window():
    due = [0.0, 0.1, 0.2, 0.3, 0.4, 1.2]
    batches = [(1.0, 3), (1.5, 0), (2.0, 2), (3.0, 1)]
    lat, committed = attribute_latency(due, batches, cut=0.25)
    assert committed == 6
    assert lat == pytest.approx([1700, 1600, 1800])


def test_latency_attribution_samples_only_the_measured_window():
    due = [0.0, 0.1, 0.2, 0.3, 0.4, 1.2]
    batches = [(1.0, 3), (2.0, 2), (3.0, 1)]
    lat, committed = attribute_latency(due, batches, cut=0.1, end=0.35)
    assert committed == 6
    assert lat == pytest.approx([900, 800, 1700])


def test_latency_attribution_counts_an_uncommitted_tail():
    lat, committed = attribute_latency([0.0, 0.5, 0.9], [(1.0, 2)], cut=0.0)
    assert committed == 2 and lat == pytest.approx([1000, 500])


def test_latency_attribution_rejects_more_rows_than_sent():
    with pytest.raises(ValueError):
        attribute_latency([0.0], [(1.0, 2)], cut=0.0)


def test_backlog_is_due_minus_committed_at_each_batch():
    due = [0.0, 0.1, 0.2, 1.1, 1.2, 1.3, 1.4]
    assert backlog_max(due, [(1.0, 3), (2.0, 4)]) == 4


def test_percentiles_interpolate():
    assert pct([1, 2, 3, 4], 50) == 2.5
    assert pct([5], 90) == 5
    assert pct(range(11), 90) == pytest.approx(9.0)


def _progress(batch: int, rows: int, exe: int, update: int) -> dict:
    return {
        "batchId": batch,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": exe, "addBatch": exe - 10, "queryPlanning": 4,
                       "walCommit": 3, "commitOffsets": 2, "latestOffset": 1, "getBatch": 0},
        "stateOperators": [{"allUpdatesTimeMs": update, "numRowsUpdated": rows, "numRowsTotal": 50,
                            "memoryUsedBytes": 1000 + batch, "commitTimeMs": 7,
                            "customMetrics": {"rocksdbSstFileSize": 10, "rocksdbTotalBytesWritten": 5}}],
    }


def test_trigger_layers_ignore_empty_triggers():
    recs = [_progress(0, 10, 100, 40), _progress(1, 0, 5, 0), _progress(2, 30, 300, 80)]
    out = trigger_layers(recs, wall_s=2.0)
    assert out["trigger.count"] == 2
    assert out["trigger.execution_ms.p50"] == 200
    assert out["trigger.busy_share"] == pytest.approx(0.2)
    assert out["state.rows_updated"] == 40
    assert out["state.memory_bytes"] == 1002
    assert out["state.rocksdb.bytes_written"] == 10


def test_trigger_cpu_is_the_cpu_spent_since_the_previous_progress_event():
    def ev(t: float, rows: int, cpu_s: float) -> tuple:
        return (t, {"numInputRows": rows, "cpu_s": cpu_s})

    events = [ev(1.0, 5, 10.0), ev(2.0, 0, 10.5), ev(3.0, 7, 14.5), ev(4.0, 3, 18.0)]
    # the first event has no predecessor; the empty trigger is not a sample
    assert trigger_cpu_ms(events) == pytest.approx([4000, 3500])
    assert trigger_cpu_ms(events, since=3.5) == pytest.approx([3500])


def test_tree_cpu_counts_children_unless_excluded():
    import subprocess
    import sys
    import time

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        time.sleep(1.0)  # the child has burnt its 0.3 s and sleeps
        mine = tree_cpu_s(os.getpid(), {child.pid})
        total = tree_cpu_s(os.getpid(), set())
        assert 0.25 <= total - mine <= 1.0
    finally:
        child.kill()
        child.wait()


def test_tracer_self_time_subtracts_children():
    tr = Tracer(True)
    root = tr.add("trigger", 0.0, 1.0)
    tr.add("trigger.addBatch", 0.1, 0.7, root)
    assert tr.self_times() == pytest.approx({"trigger": 0.4, "trigger.addBatch": 0.6})
    off = Tracer(False)
    assert off.add("x", 0.0, 1.0) is None and off.spans == []


# --------------------------------------------------------- the contract


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_peak_memory_ignores_a_single_sample_spike(monkeypatch):
    import metrics

    levels = iter([100, 120, 900, 130, 125, 50])
    monkeypatch.setattr(metrics, "_tree_pss_kb", lambda root, exclude: next(levels))
    sampler = metrics.RssSampler()
    for _ in range(6):
        sampler.sample(1)
    assert sampler.peak_kb == 130
