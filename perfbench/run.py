"""Flight-track benchmark for the paper's streaming pipeline.

Drives the public entry points ``flight_socket_pipeline`` (with
``socket_flight_source`` and ``file_flight_source``) and
``ParquetSnapshotSink.query`` on one of two workloads, checks the final
snapshot view against a pure-Python reference fold, and prints one JSON
result line last:

    python3 perfbench/run.py --workload live_flights --seed 1 --seconds 12 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the spans under ``.perfbench_out/``).  See
``perfbench/README.md`` for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

T_PROCESS = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from metrics import (  # noqa: E402
    RssSampler,
    Tracer,
    attribute_latency,
    backlog_max,
    pct,
    tree_cpu_s,
    tree_stats,
    trigger_cpu_ms,
    trigger_layers,
)

WORKLOADS = ("live_flights", "backfill_resume")

# live_flights: open loop over one TCP connection
LIVE_RATE = 100.0  # lines/s: per-trigger fixed cost dominates the 1 s trigger on a 4-core host
LIVE_FLIGHTS = 100  # so each flight reports about once a second
WARMUP_S = 2.0  # lines due in the first seconds are not sampled
DRAIN_TIMEOUT_S = 60.0

# backfill_resume: closed loop over a stored history
HIST_FLIGHTS = 300
LINES_PER_FILE = 6000
SEGMENT_FILES = 3  # files between two restarts; odd, so p50 and p90 fall inside a file, not between two
SEGMENT_S = 4.0  # one timed segment per SEGMENT_S of --seconds: 3 at --seconds 12
MIN_SEGMENTS = 2

# set-up warm-up file stream (one file from scratch, one after an untimed
# restart), restarted for live_flights' resume samples
WARM_FLIGHTS = 100
WARM_LINES = 200
LIVE_RESUMES = 3

QUERIES = (
    "select * from Flights",
    "select flightId, track_count from Flights",
    "select flightId, latest_ts_ms, latest_longitude, latest_latitude, latest_altitude from Flights",
    "select flightId, track_count, latest_ts_ms from Flights where track_count >= 10",
)
# rotations of QUERIES over the final view: untimed ones first, while the
# per-file read code compiles (a warm-up on a smaller view leaves it half
# done), then timed ones
READ_WARM_ROUNDS = 2
READ_ROUNDS = 5
# The driver JVM compiles with C1 only.  A run lasts about a minute, far
# short of C2's steady state: with tiered compilation the triggers and
# view reads were still speeding up through the timed window (by ~30 %),
# while C2's compiler threads took CPU from the 4-core workload, so the
# figures measured how far the JIT had got.  C1 code settles within the
# set-up warm-up.  C1-only mode shrinks the default code cache to 48 MB,
# which Spark overflows within a minute (the sweeper then flushes methods
# and C1 recompiles them), so the cache gets tiered mode's 240 MB.
JVM_OPTS = "-Xms1g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
RUN_DEADLINE_S = 160.0  # leaves time to shut down inside the 180 s a run may take


class BenchError(RuntimeError):
    pass


@dataclass
class Replay:
    """One run of a file-source pipeline until it committed its batches."""

    t_call: float  # flight_socket_pipeline called
    t_ret: float  # ... and returned
    cpu_call: float  # process-tree CPU seconds at the call
    batches: list  # (progress event time, progress record) per data batch
    sink: object


def _nproc() -> int:
    """CPUs this process may run on (``env -u OMP_NUM_THREADS nproc``)."""
    return len(os.sched_getaffinity(0))


def _wait(pred, timeout: float, what: str, poll: float = 0.01) -> None:
    deadline = time.monotonic() + timeout
    while not pred():
        if time.monotonic() > deadline:
            raise BenchError(f"timed out after {timeout:.0f} s waiting for {what}")
        time.sleep(poll)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: set[int], timeout: float = 10.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 5.0
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def _stale_run_dirs(parent: str) -> list[str]:
    """Run roots left by killed runs: their owning pid is gone."""
    out = []
    for d in glob.glob(os.path.join(parent, "run-*")):
        try:
            pid = int(os.path.basename(d).split("-")[1])
        except (IndexError, ValueError):
            continue
        if not os.path.exists(f"/proc/{pid}"):
            out.append(d)
    return out


class Bench:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.rss = RssSampler()
        parent = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(parent, exist_ok=True)
        for d in _stale_run_dirs(parent):
            shutil.rmtree(d, ignore_errors=True)
        # every checkpoint, snapshot log, staging dir and scratch file of
        # this run lives here and is removed at exit
        self.tmp = os.path.join(parent, f"run-{os.getpid()}")
        os.makedirs(self.tmp)
        self.spark = None
        self.listener = None
        self.gen_proc = None
        self.layers: dict[str, float] = {}
        self.gen_late_ms = 0.0  # longest wait for a history file
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.deadline = T_PROCESS + RUN_DEADLINE_S

    # ----------------------------------------------------------- plumbing
    def _check(self, ok: bool, n: int, what: str) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.failures.append(what)

    def _cpu(self) -> float:
        """CPU seconds spent so far by this process, the JVM and the Python
        workers; not by the generator, nor by the memory sampler's thread."""
        return tree_cpu_s(os.getpid(), self.rss.exclude) - self.rss.cpu_s

    def _wait_progress(self, pred, what: str) -> None:
        """Block until ``pred()`` holds, re-checking at each progress event."""
        with self.listener.cond:
            if not self.listener.cond.wait_for(pred, self._remaining()):
                raise BenchError(f"timed out waiting for {what}")

    def _remaining(self) -> float:
        left = self.deadline - time.monotonic()
        if left <= 0:
            raise BenchError("run deadline exceeded")
        return left

    def _start_gen(self, argv: list[str]) -> None:
        self.gen_proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), *argv],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.rss.exclude.add(self.gen_proc.pid)

    def _gen_line(self, prefix: str, timeout: float) -> str:
        """Next line of the generator's stdout; it must start with ``prefix``."""
        box: list[str] = []
        t = threading.Thread(target=lambda: box.append(self.gen_proc.stdout.readline()), daemon=True)
        t.start()
        t.join(min(timeout, self._remaining()))
        if not box or not box[0].startswith(prefix):
            raise BenchError(f"generator did not report {prefix!r} (got {box!r})")
        return box[0].strip()

    def _gen_send(self, cmd: str) -> None:
        self.gen_proc.stdin.write(cmd + "\n")
        self.gen_proc.stdin.flush()

    def _session(self):
        n = _nproc()
        env = {
            "SPARK_GRAFT_CPUS": str(n),
            # a small, pre-touched heap (JVM_OPTS) keeps the JVM's share of
            # peak RSS from depending on when G1 chose to grow the heap
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "SPARK_LOCAL_DIRS": os.path.join(self.tmp, "spark-local"),
            "TMPDIR": os.path.join(self.tmp, "py-tmp"),
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYTHONWARNINGS": "ignore::FutureWarning",
        }
        os.environ.update(env)
        for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
            os.makedirs(env[k], exist_ok=True)
        java_tmp = os.path.join(self.tmp, "java-tmp")
        os.makedirs(java_tmp)
        from stateful_spark_streaming_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            streaming=True,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp} {JVM_OPTS}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.listener = _progress_listener(self._cpu)
        spark.streams.addListener(self.listener)
        self.spark = spark
        self.meta["nproc"] = n
        self.meta["master"] = f"local[{n}]"
        self.meta["shuffle_partitions"] = n
        self.meta["pyspark"] = spark.version
        self.meta["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        return spark

    def close(self) -> None:
        """Stop every stream, the session, its JVM and the generator, wait
        for each of them and for every process they started (the Python
        worker daemon and its workers) to end, and remove the run's
        directory."""
        # listed now: once the JVM is gone its children are re-parented
        started = set(tree_stats(os.getpid(), set())) - {os.getpid()}
        try:
            if self.spark is not None:
                for q in self.spark.streams.active:
                    try:
                        q.stop()
                    except Exception as exc:  # keep shutting down
                        print(f"perfbench: stop failed: {exc!r}", file=sys.stderr)
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                self.spark.stop()
                proc = getattr(gateway, "proc", None)
                if gateway is not None:
                    gateway.shutdown()
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()  # the JVM exits on EOF
                    try:
                        proc.wait(timeout=20)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=10)
        finally:
            if self.gen_proc is not None and self.gen_proc.poll() is None:
                self.gen_proc.terminate()
                try:
                    self.gen_proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    self.gen_proc.kill()
                    self.gen_proc.wait(timeout=10)
            _wait_gone(started)
            self.rss.stop()
            shutil.rmtree(self.tmp, ignore_errors=True)

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        self.rss.start()
        a = self.args
        self.live_span = WARMUP_S + a.seconds
        # a fixed amount of history per --seconds, so every run of a seed
        # replays, restarts and reads the same thing
        self.segments = max(MIN_SEGMENTS, round(a.seconds / SEGMENT_S))
        if a.workload == "backfill_resume":
            self._start_gen(
                [
                    "history", "--seed", str(a.seed), "--flights", str(HIST_FLIGHTS),
                    "--files", str(SEGMENT_FILES * (1 + self.segments)),
                    "--lines-per-file", str(LINES_PER_FILE),
                    "--segment", str(SEGMENT_FILES), "--out", os.path.join(self.tmp, "gen"),
                ]
            )
        else:
            os.makedirs(os.path.join(self.tmp, "gen"))
            self._start_gen(
                [
                    "live", "--seed", str(a.seed), "--flights", str(LIVE_FLIGHTS),
                    "--rate", str(LIVE_RATE), "--seconds", str(self.live_span),
                    "--out", os.path.join(self.tmp, "gen"),
                ]
            )
        t = time.monotonic()
        with self.tracer.span("session.start"):
            self._session()
        self.layers["session.start_s"] = time.monotonic() - t

        # warm-up: the first trigger of a session pays Python-worker start,
        # codegen and compilation, and the first restart compiles the
        # recovery path; that belongs to set-up, not to a workload
        t = time.monotonic()
        with self.tracer.span("session.warmup"):
            if a.workload == "backfill_resume":
                # the history's first segment: one file from scratch, then
                # the rest after a restart
                self.backfill = {
                    "staging": os.path.join(self.tmp, "gen", "staging"),
                    "src": os.path.join(self.tmp, "backfill", "src"),
                    "ckpt": os.path.join(self.tmp, "backfill", "ckpt"),
                    "done": 0,
                    "rows": 0,
                    "mtime": time.time() - 3600,
                }
                os.makedirs(self.backfill["src"])
                self._backfill_segment(self._replay, 1)
                self._backfill_segment(self._replay, SEGMENT_FILES - 1)
            else:
                self.warm = {
                    "src": os.path.join(self.tmp, "warm", "src"),
                    "ckpt": os.path.join(self.tmp, "warm", "ckpt"),
                    "files": list(
                        gen.history_files(a.seed, WARM_FLIGHTS, 2 + LIVE_RESUMES, WARM_LINES)
                    ),
                    "used": 0,
                    "mtime": time.time() - 3600,
                }
                self._land_warm()
                self._replay(self._warm_pipeline, 1)
                self._land_warm()
                self._replay(self._warm_pipeline, 1)
        self.layers["session.warmup_s"] = time.monotonic() - t
        if a.workload == "live_flights":
            self.port = int(self._gen_line("port", 60).split()[1])
        self.setup_wall_s = time.monotonic() - T_PROCESS
        self.setup_cpu_s = self._cpu()

    def _land_warm(self) -> None:
        os.makedirs(self.warm["src"], exist_ok=True)
        i = self.warm["used"]
        path = os.path.join(self.warm["src"], f"{i:04d}.csv")
        with open(path, "w") as fh:
            fh.write("\n".join(gen.to_line(ev) for ev in self.warm["files"][i]) + "\n")
        self.warm["mtime"] += 10
        os.utime(path, (self.warm["mtime"], self.warm["mtime"]))
        self.warm["used"] += 1

    # ---------------------------------------------------------- listener
    def _runs(self, run_id: str) -> list[tuple[float, dict]]:
        with self.listener.cond:
            return [(t, p) for t, p in self.listener.events if p["runId"] == run_id]

    def _data_batches(self, run_id: str) -> list[tuple[float, dict]]:
        return [(t, p) for t, p in self._runs(run_id) if p["numInputRows"] > 0]

    def _check_stopped(self, query) -> None:
        exc = query.exception()
        self._check(exc is None, 1, f"query {query.runId} terminated with {exc!r}"[:300])

    # ------------------------------------------------------------- reads
    def _read(self, sink, sql: str, samples: list) -> None:
        c0 = self._cpu()
        t0 = time.monotonic()
        try:
            df = sink.query(sql)
            t1 = time.monotonic()
            df.collect()
        except Exception as exc:  # a failed reader query is a counted failure
            self._check(False, 1, f"reader query raised: {exc!r}"[:300])
            return
        t2 = time.monotonic()
        c2 = self._cpu()
        self.attempted += 1
        samples.append((t1 - t0, t2 - t1, c2 - c0))
        self.tracer.add("sink.query", t0, t1, sql=sql)
        self.tracer.add("sink.collect", t1, t2, sql=sql)

    def _view_reads(self, sink) -> list:
        """``READ_WARM_ROUNDS`` untimed, then ``READ_ROUNDS`` timed
        rotations of ``QUERIES`` over the sink's view."""
        for _ in range(READ_WARM_ROUNDS):
            for sql in QUERIES:
                self._read(sink, sql, [])
        samples: list = []
        for _ in range(READ_ROUNDS):
            for sql in QUERIES:
                self._read(sink, sql, samples)
        return samples

    def _check_view(self, sink, expected: dict, what: str) -> None:
        rows = sink.query("select " + ", ".join(gen.VIEW_COLUMNS) + " from Flights").collect()
        bad = gen.compare_views(expected, rows)
        self.attempted += len(expected) + sum(1 for r in rows if r[0] not in expected)
        if bad:
            self.failed += len(bad)
            self.failures.append(f"{what}: {len(bad)} flight rows differ from the reference, e.g. {bad[:3]}")

    # ---------------------------------------------------------- workloads
    def run_live(self) -> dict:
        from stateful_spark_streaming_spark.streaming.pipeline import (
            flight_socket_pipeline,
            socket_flight_source,
        )

        spark, a = self.spark, self.args
        self._warm_resumes()
        ckpt = os.path.join(self.tmp, "live", "ckpt")
        t = time.monotonic()
        h = flight_socket_pipeline(spark, socket_flight_source(spark, "localhost", self.port), ckpt)
        self.tracer.add("pipeline.start", t, time.monotonic())
        run_id = str(h.query.runId)
        self._gen_line("connected", 60)
        t0 = time.monotonic() + 0.05
        self._gen_send(f"go {t0!r}")
        cut = t0 + WARMUP_S
        committed = lambda: sum(p["numInputRows"] for _, p in self._runs(run_id))  # noqa: E731
        self._gen_line("sent", self._remaining())
        with open(os.path.join(self.tmp, "gen", "gen.json")) as fh:
            g = json.load(fh)
        sent = g["lines_sent"]
        with self.listener.cond:
            if not self.listener.cond.wait_for(lambda: committed() >= sent, DRAIN_TIMEOUT_S):
                print("perfbench: the live backlog did not drain", file=sys.stderr)
        t = time.monotonic()
        h.stop()
        self.tracer.add("pipeline.stop", t, time.monotonic())
        self._check_stopped(h.query)
        self._gen_send("close")

        runs = self._runs(run_id)
        for vis, p in runs:
            self.tracer.add_trigger(p, vis)
        batches = [(vis, p["numInputRows"]) for vis, p in runs]
        due = [t0 + o for o in g["due_offsets_s"]]
        lat, n_committed = attribute_latency(due, batches, cut)
        self._check(n_committed == sent, sent, f"{sent - n_committed} of {sent} lines never committed")
        window = [p for vis, p in runs if vis >= cut]
        busy_s = sum(p["durationMs"]["triggerExecution"] for p in window if p["numInputRows"]) / 1000.0
        rows = sum(p["numInputRows"] for p in window)
        cpu_ms = trigger_cpu_ms(runs, cut)
        samples = self._view_reads(h.sink)
        self._check_view(h.sink, {r[0]: tuple(r) for r in g["expected"]}, "live view")

        if a.trace:
            self.layers.update(trigger_layers(window, runs[-1][0] - cut))
            self.layers["source.backlog_rows"] = float(backlog_max(due, batches))
            self.layers["gen.late_ms_max"] = g["late_ms_max"]
            self.layers["gen.lines_sent"] = float(sent)
            self.sink_log_dir = h.sink.log_dir
        events = lambda: [ev for _, ev in gen.live_schedule(a.seed, LIVE_RATE, LIVE_FLIGHTS, self.live_span)]  # noqa: E731
        return {
            "lat_ms": lat, "reads": samples, "rows_per_s": rows / busy_s, "trigger_cpu_ms": cpu_ms, "events": events
        }

    def _warm_resumes(self) -> None:
        """Resume samples for live_flights: the socket source cannot
        be replayed (Spark refuses to restart it from a checkpoint), so
        restart the set-up stream's file-source checkpoint instead, one new
        file per restart."""
        for _ in range(LIVE_RESUMES):
            self._land_warm()
            sink = self._restart(self._warm_pipeline, 1).sink
        fold = gen.ReferenceFold()
        for events in self.warm["files"][: self.warm["used"]]:
            for ev in events:
                fold.add(ev)
        self._check_view(sink, fold.view(), "resumed warm-up view")

    def _warm_pipeline(self):
        from stateful_spark_streaming_spark.streaming.pipeline import (
            file_flight_source,
            flight_socket_pipeline,
        )

        src = file_flight_source(self.spark, self.warm["src"])
        return flight_socket_pipeline(self.spark, src, self.warm["ckpt"], trigger_seconds=0)

    def _replay(self, start, n_batches: int) -> Replay:
        """Start a file-source pipeline, wait for ``n_batches`` data
        batches, stop it."""
        cpu_call = self._cpu()
        t_call = time.monotonic()
        h = start()
        t_ret = time.monotonic()
        run_id = str(h.query.runId)
        self._wait_progress(lambda: len(self._data_batches(run_id)) >= n_batches, "replayed batches")
        h.stop()
        self._check_stopped(h.query)
        return Replay(t_call, t_ret, cpu_call, self._data_batches(run_id), h.sink)

    def _restart(self, start, n_batches: int) -> Replay:
        """``_replay`` on an existing checkpoint, recorded as a restart."""
        r = self._replay(start, n_batches)
        first, p = r.batches[0]
        self.restarts.append((r.t_ret - r.t_call, first - r.t_ret))
        self.resumes.append((first - r.t_call, p["cpu_s"] - r.cpu_call))
        sid = self.tracer.add("restart", r.t_call, first)
        self.tracer.add("restart.start", r.t_call, r.t_ret, sid)
        return r

    def _backfill_pipeline(self):
        from stateful_spark_streaming_spark.streaming.pipeline import (
            file_flight_source,
            flight_socket_pipeline,
        )

        src = file_flight_source(self.spark, self.backfill["src"])
        return flight_socket_pipeline(self.spark, src, self.backfill["ckpt"], trigger_seconds=0)

    def _backfill_segment(self, replay, n_files: int = SEGMENT_FILES) -> Replay:
        """Land the next ``n_files`` history files in the source directory
        and replay them with ``replay`` (``_replay`` untimed, ``_restart``
        timed as a restart)."""
        b = self.backfill
        names = [os.path.join(b["staging"], f"{b['done'] + i:04d}.csv") for i in range(n_files)]
        t_need = time.monotonic()
        _wait(lambda: all(os.path.exists(n) for n in names), self._remaining(), "history files")
        self.gen_late_ms = max(self.gen_late_ms, (time.monotonic() - t_need) * 1000.0)
        for n in names:
            dst = os.path.join(b["src"], os.path.basename(n))
            os.replace(n, dst)
            b["mtime"] += 10
            os.utime(dst, (b["mtime"], b["mtime"]))
        b["done"] += n_files
        r = replay(self._backfill_pipeline, n_files)
        b["rows"] += sum(p["numInputRows"] for _, p in r.batches)
        return r

    def run_backfill(self) -> dict:
        a, b = self.args, self.backfill
        lat: list[float] = []
        cpu_ms: list[float] = []
        wall = 0.0
        rows = 0
        window: list[dict] = []
        all_batches: list[tuple[float, int]] = []
        arrivals: list[float] = []
        self.gen_late_ms = 0.0  # the set-up segment waited for the generator to start
        sink = None
        for _ in range(self.segments):
            r = self._backfill_segment(self._restart)
            sink = r.sink
            wall += r.batches[-1][0] - r.t_call
            cpu_ms.extend(trigger_cpu_ms(r.batches))
            for vis, p in r.batches:
                self.tracer.add_trigger(p, vis)
                lat.extend([(vis - r.t_call) * 1000.0] * p["numInputRows"])
                rows += p["numInputRows"]
                all_batches.append((vis, p["numInputRows"]))
                window.append(p)
            arrivals.extend([r.t_call] * (SEGMENT_FILES * LINES_PER_FILE))
        written = b["done"] * LINES_PER_FILE
        lost = written - b["rows"]
        self._check(lost == 0, written, f"{lost} of {written} history lines never committed")
        samples = self._view_reads(sink)
        with open(os.path.join(self.tmp, "gen", "expected", f"{b['done']:04d}.json")) as fh:
            expected = {r[0]: tuple(r) for r in json.load(fh)}
        self._check_view(sink, expected, "backfill view")
        if a.trace:
            self.layers.update(trigger_layers(window, wall))
            self.layers["source.backlog_rows"] = float(backlog_max(arrivals, all_batches))
            self.layers["gen.late_ms_max"] = self.gen_late_ms
            self.layers["gen.lines_sent"] = float(written)
            self.sink_log_dir = sink.log_dir
        events = lambda: [  # noqa: E731
            ev for f in gen.history_files(a.seed, HIST_FLIGHTS, b["done"], LINES_PER_FILE) for ev in f
        ]
        return {
            "lat_ms": lat, "reads": samples, "rows_per_s": rows / wall, "trigger_cpu_ms": cpu_ms, "events": events
        }

    # ---------------------------------------------------------- baselines
    def _baselines(self, events: list[tuple]) -> None:
        """Traced runs only: the same lines through the single-threaded
        reference fold, the batch parser and the batch twin of the fold."""
        from pyspark.sql import functions as F

        from stateful_spark_streaming_spark.operators.tracks import build_tracks, track_counts
        from stateful_spark_streaming_spark.sources.flights import parse_flight_lines

        t = time.monotonic()
        fold = gen.ReferenceFold()
        for ev in events:
            fold.add(ev)
        fold.view()
        self.layers["ref_fold.rows_per_s"] = len(events) / (time.monotonic() - t)

        path = os.path.join(self.tmp, "baseline_lines.csv")
        with open(path, "w") as fh:
            fh.write("\n".join(gen.to_line(ev) for ev in events) + "\n")
        raw = self.spark.read.text(path)
        raw.write.format("noop").mode("overwrite").save()  # list + read once, untimed
        with self.tracer.span("baseline.parse"):
            t = time.monotonic()
            parse_flight_lines(raw).write.format("noop").mode("overwrite").save()
            self.layers["parse.rows_per_s"] = len(events) / (time.monotonic() - t)
        with self.tracer.span("baseline.batch_twin"):
            t = time.monotonic()
            parsed = parse_flight_lines(raw)
            keyed = parsed.withColumn(
                "arrival", F.xxhash64(*[F.col(c) for c in parsed.columns if c != "geometry"])
            )
            tracks = build_tracks(keyed, "flightId", "ts", "arrival")
            track_counts(tracks, "flightId").write.format("noop").mode("overwrite").save()
            self.layers["tracks.batch_twin_s"] = time.monotonic() - t

    # ---------------------------------------------------------------- run
    def run(self) -> dict:
        from bench import _foreign_spark_jvms

        foreign = _foreign_spark_jvms()
        self.meta = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "solo": not foreign,
            "foreign_spark_jvms": foreign,
            "loadavg": list(os.getloadavg()),
        }
        if foreign:
            print(
                f"perfbench: {len(foreign)} foreign Spark JVM(s) live {foreign}; "
                "timings are not comparable",
                file=sys.stderr,
            )
            if os.environ.get("SPARK_GRAFT_REQUIRE_SOLO") == "1":
                raise BenchError("SPARK_GRAFT_REQUIRE_SOLO=1 and the run is not solo")
        self.restarts: list[tuple[float, float]] = []
        self.resumes: list[tuple[float, float]] = []  # (wall s, CPU s) per timed restart
        self.setup()
        if self.args.workload == "backfill_resume":
            r = self.run_backfill()
        else:
            r = self.run_live()
        peak_rss_mb = self.rss.stop()
        reads = r["reads"]
        read_ms = [(q + c) * 1000.0 for q, c, _ in reads]
        read_cpu_ms = [cpu * 1000.0 for _, _, cpu in reads]
        e2e = {
            "setup_s": self.setup_cpu_s,
            "peak_rss_mb": peak_rss_mb,
            "trigger_cpu_ms_p50": pct(r["trigger_cpu_ms"], 50),
            "view_query_cpu_ms_p50": pct(read_cpu_ms, 50),
            "resume_cpu_s": statistics.median(c for _, c in self.resumes),
        }
        # wall-clock figures: what a user waits, reported with every run
        # but not gated (see README, "Why CPU time")
        self.meta["wall"] = {
            "setup_s": self.setup_wall_s,
            "event_to_view_p50_ms": pct(r["lat_ms"], 50),
            "event_to_view_p90_ms": pct(r["lat_ms"], 90),
            "view_query_p50_ms": pct(read_ms, 50),
            "view_query_p90_ms": pct(read_ms, 90),
            "backfill_rows_per_s": r["rows_per_s"],
            "resume_s": statistics.median(w for w, _ in self.resumes),
        }
        self.meta["samples"] = {
            "event_to_view": len(r["lat_ms"]),
            "trigger_cpu_ms": [round(c) for c in r["trigger_cpu_ms"]],
            "view_query_cpu_ms": [round(c) for c in read_cpu_ms],
            "resume_cpu_s": [round(c, 2) for _, c in self.resumes],
        }
        if not self.args.trace:
            return {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

        # traced run: the end-to-end figures go on a side line, for the
        # tracing-overhead comparison
        print("perfbench-e2e " + json.dumps({**e2e, "wall": self.meta["wall"]}), flush=True)
        self._baselines(r["events"]())
        files = glob.glob(os.path.join(self.sink_log_dir, "*.parquet"))
        self.layers["sink.log_files"] = float(len(files))
        self.layers["sink.log_bytes"] = float(sum(os.path.getsize(f) for f in files))
        self.layers["sink.register_ms"] = pct([q * 1000.0 for q, _, _ in reads], 50)
        self.layers["sink.read_exec_ms"] = pct([c * 1000.0 for _, c, _ in reads], 50)
        self.layers["restart.start_ms"] = pct([s * 1000.0 for s, _ in self.restarts], 50)
        self.layers["restart.first_trigger_ms"] = pct([f * 1000.0 for _, f in self.restarts], 50)
        self.tracer.write(
            os.path.join(ROOT, ".perfbench_out", f"trace-{self.args.workload}-seed{self.args.seed}.json")
        )
        return {k: {"value": float(self.layers[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}


# end-to-end metrics of an untraced run, with their units (BENCHMARK.json
# lists the same); README.md, "End-to-end metrics", defines each
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "trigger_cpu_ms_p50": "ms",
    "view_query_cpu_ms_p50": "ms",
    "resume_cpu_s": "s",
}

# per-layer metrics of a traced run, with their units (BENCHMARK.json lists the same)
PER_LAYER_UNITS = {
    "trigger.execution_ms.p50": "ms",
    "trigger.execution_ms.p90": "ms",
    "trigger.busy_share": "ratio",
    "trigger.planning_ms": "ms",
    "trigger.wal_commit_ms": "ms",
    "trigger.commit_offsets_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "trigger.count": "count",
    "state.update_ms": "ms",
    "state.rows_updated": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.rocksdb.commit_checkpoint_ms": "ms",
    "state.rocksdb.commit_flush_ms": "ms",
    "state.rocksdb.file_sync_ms": "ms",
    "state.rocksdb.save_zip_ms": "ms",
    "state.rocksdb.sst_bytes": "bytes",
    "state.rocksdb.bytes_written": "bytes",
    "source.offset_ms": "ms",
    "source.backlog_rows": "count",
    "parse.rows_per_s": "rows/s",
    "sink.log_files": "count",
    "sink.log_bytes": "bytes",
    "sink.register_ms": "ms",
    "sink.read_exec_ms": "ms",
    "restart.start_ms": "ms",
    "restart.first_trigger_ms": "ms",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "ref_fold.rows_per_s": "rows/s",
    "tracks.batch_twin_s": "s",
    "gen.late_ms_max": "ms",
    "gen.lines_sent": "count",
}


def _progress_listener(cpu):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Every progress record with its arrival time on the driver and,
        as ``cpu_s``, the process-tree CPU seconds ``cpu()`` read then."""

        def __init__(self):
            self.cond = threading.Condition(threading.RLock())
            self.events: list[tuple[float, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t = time.monotonic()
            c = cpu()
            p = json.loads(event.progress.json)
            p["cpu_s"] = c
            with self.cond:
                self.events.append((t, p))
                self.cond.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Flight-track streaming benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import bench  # noqa: F401
        import stateful_spark_streaming_spark.streaming.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is not importable here: {exc}", file=sys.stderr)
        return 2

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    b = Bench(args)
    try:
        metrics = b.run()
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        b.close()
    for f in b.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"perfbench": b.meta}), flush=True)
    result = {"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
