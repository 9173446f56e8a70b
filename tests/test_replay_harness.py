"""The availableNow replay harness contract (``pipeline._replay``).

- per-stream confs reach the stream but never stay on the caller's
  session while it runs;
- concurrent runners on one session do not inherit each other's confs;
- checkpoints the harness makes are removed after the run, and the
  per-process scratch root is removed at interpreter exit.
"""

from __future__ import annotations

import datetime
import glob
import os
import subprocess
import sys
import threading

from stateful_spark_streaming_spark.streaming import pipeline as P
from tests.conftest import land_batches

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
T0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
SHUFFLE_CONF = "spark.sql.shuffle.partitions"


def _ev(eid, minute, uid, etype):
    return (eid, T0 + datetime.timedelta(minutes=minute), uid, etype, 1.0, "{}")


def _dedup_feed(spark, tmp_path, name):
    return land_batches(
        spark,
        tmp_path,
        name,
        [
            [_ev(0, 0, 1, "a"), _ev(1, 0, 1, "b"), _ev(2, 0, 2, "a")],
            [_ev(3, 5, 1, "a"), _ev(4, 5, 3, "c")],
        ],
        EVENT_COLS,
    )


def test_state_partitions_reach_stream_not_caller_session(
    spark, tmp_path, progress
):
    """While the replay runs, the caller's session keeps its own
    shuffle-partition count; the stream's state operator still runs
    with the runner's ``state_partitions``."""
    session_sp = spark.conf.get(SHUFFLE_CONF)
    state_partitions = int(session_sp) - 1
    seen: list[str] = []
    progress.on_progress = lambda _p: seen.append(spark.conf.get(SHUFFLE_CONF))

    out = P.run_streaming_dedup(
        spark,
        _dedup_feed(spark, tmp_path, "ev"),
        checkpoint_dir=str(tmp_path / "ck"),
        state_partitions=state_partitions,
        max_files_per_trigger=1,
    )
    run = progress.last()
    assert len(run) == 2 and len(seen) == 2
    assert seen == [session_sp, session_sp], (
        "the runner's state_partitions sat on the caller's session during "
        "the replay"
    )
    assert {op["numShufflePartitions"] for p in run for op in p["stateOperators"]} == {
        state_partitions
    }
    assert out.count() == 4


def _pairs_left_feed(spark, tmp_path, name):
    # see test_replay_floor.test_left_outer_event_pairs_keeps_no_data_batch:
    # user 9's unmatched click is released only by the no-data batch
    return land_batches(
        spark,
        tmp_path,
        name,
        [
            [_ev(20, 0, 1, "click"), _ev(21, 3, 1, "purchase"),
             _ev(22, 0, 9, "click")],
            [_ev(23, 30, 8, "purchase"), _ev(24, 45, 8, "click")],
        ],
        EVENT_COLS,
    )


def _pair_rows(df):
    # repr key: null-matched rows carry None, which does not order with ints
    return sorted(((r.user_id, r.id_a, r.id_b) for r in df.collect()), key=repr)


def test_concurrent_inner_and_left_outer_pairs_match_sequential(spark, tmp_path):
    """The inner join skips the no-data batch, the left-outer join needs
    it.  Run both at once on one session: neither may see the other's
    conf, so each returns exactly its sequential rows."""
    src = _pairs_left_feed(spark, tmp_path, "feed")

    def run(how, tag):
        fn = (
            P.run_streaming_event_pairs_left
            if how == "left_outer"
            else P.run_streaming_event_pairs
        )
        return _pair_rows(
            fn(
                spark, src, checkpoint_dir=str(tmp_path / f"ck_{how}_{tag}"),
                max_files_per_trigger=1,
            )
        )

    want = {how: run(how, "seq") for how in ("inner", "left_outer")}
    assert (9, 22, None) in want["left_outer"]

    got: dict[str, list] = {}
    errors: list[BaseException] = []

    def worker(how):
        try:
            got[how] = run(how, "par")
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [
        threading.Thread(target=worker, args=(how,))
        for how in ("inner", "left_outer")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads), "a runner thread hung"
    assert not errors, errors
    assert got == want


def test_default_checkpoints_are_removed(spark, tmp_path, monkeypatch):
    """Two runs without a checkpoint_dir leave no checkpoint behind; the
    outputs the returned frames read stay readable."""
    made: list[str] = []
    real = P._scratch

    def spy(prefix):
        d = real(prefix)
        made.append(d)
        return d

    monkeypatch.setattr(P, "_scratch", spy)
    src = _dedup_feed(spark, tmp_path, "ev")
    outs = [P.run_streaming_dedup(spark, src) for _ in range(2)]

    ckpts = [d for d in made if os.path.basename(d).startswith("sss_ckpt_")]
    assert len(ckpts) == 2
    assert not any(os.path.exists(d) for d in ckpts)
    assert [o.count() for o in outs] == [4, 4]


_EXIT_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from stateful_spark_streaming_spark.session import get_spark
from stateful_spark_streaming_spark.streaming import pipeline as P
spark = get_spark("scratch-exit", master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
print(P.run_streaming_dedup(spark, sys.argv[2]).count())
print(P._scratch_root, flush=True)
spark.stop()
"""


def test_scratch_root_removed_at_exit(spark, tmp_path):
    """A process that ran one replay leaves nothing of its scratch root
    behind once it exits."""
    src = _dedup_feed(spark, tmp_path, "ev")
    tmp = tmp_path / "proc_tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    r = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT, REPO, src],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    count, root = r.stdout.split()[-2:]
    assert count == "4"
    assert root.startswith(str(tmp))
    assert not os.path.exists(root)
    assert glob.glob(str(tmp / "sss_*")) == []
