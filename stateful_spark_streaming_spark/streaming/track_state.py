"""Keyed stateful track maintenance — Structured Streaming form.

The reference's core (SURVEY §2.3): ``mapWithState`` folds each arriving
feature into a per-key FeatureState holding a chronologically sorted,
timestamp-deduplicated, count-bounded TreeSet (StreamWithStates.scala:58-81;
FeatureTrack.scala:17-138; FeatureTrackPurger.scala:7-12).

Spark-first realization: ``applyInPandasWithState`` over ``groupBy(key)``,
fed only key, epoch-ms event time, arrival id and value columns
(``_fold_input``).  Each track is parallel arrays in the state store
(RocksDB-backed at scale), merged with a key's new rows by a plain-list
fold.  Semantics implemented exactly:

- T1 keyed update: fold new rows into per-key state
- T2 init: first record creates an empty track (cap = max_per_track)
- T3 temporal dedup: a row whose event time equals one already in the track
  is dropped; within a batch, first arrival (lowest arrival id) wins
- T4 bounded retention: keep the max_per_track most-recent by event time
- T5 snapshot emit: each invoked key emits its full current track summary
  every trigger; the all-keys view is maintained by the sink
  (pipeline.ParquetSnapshotSink)
- T7 (upgrade): optional processing-time TTL — the reference *claims* a
  30-minute session timeout in comments but never implements it
  (StreamWithStates.scala:63); here it is real and off by default.

The emitted row per key matches the batch operator
``operators.tracks.track_snapshot`` exactly, so the DuckDB oracle for the
batch query doubles as the oracle for a single-batch (availableNow) stream.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


@dataclass
class TrackStateConfig:
    key: str = "user_id"
    ts: str = "ts"  # event-time column (TimestampType)
    arrival: str = "event_id"  # deterministic arrival tiebreak (monotonic id)
    value_cols: tuple[str, ...] = ("event_type", "value")
    value_types: tuple[str, ...] = ("string", "double")  # spark simpleString types
    max_per_track: int = 10
    key_type: str = "long"
    # T7: None = reference parity (no timeout); float so tests can use a
    # seconds-scale TTL (the reference claims 30 min, i.e. ttl_minutes=30)
    ttl_minutes: float | None = None

    def output_schema(self) -> StructType:
        fields = [
            StructField(self.key, _SIMPLE[self.key_type], False),
            StructField("track_count", LongType()),
            StructField("latest_ts_ms", LongType()),
            StructField("oldest_ts_ms", LongType()),
        ]
        for c, t in zip(self.value_cols, self.value_types):
            fields.append(StructField(f"latest_{c}", _SIMPLE[t]))
        return StructType(fields)

    def state_schema(self) -> StructType:
        fields = [
            StructField("ts_ms", ArrayType(LongType())),
            StructField("arrival", ArrayType(LongType())),
        ]
        for c, t in zip(self.value_cols, self.value_types):
            fields.append(StructField(f"v_{c}", ArrayType(_SIMPLE[t])))
        return StructType(fields)


_SIMPLE = {"string": StringType(), "double": DoubleType(), "long": LongType()}


def _fold_core(cfg: TrackStateConfig, ts_ms, arrival, vals, new: pd.DataFrame):
    """The pure per-key fold (T2/T3/T4): merge ``new`` rows (ts as epoch-ms
    ints, see ``_fold_input``) into the sorted, ts-deduped, count-bounded
    track arrays.  No Spark: the closure below calls it once per key and
    trigger, tests call it directly.  Plain lists: sort
    ``(ts, is_new, arrival, idx)``, keep the first row per ts, then the
    last ``max_per_track``.  Stored rows sort with is_new=0 so they win
    equal-ts contests (TreeSet add-reject) whatever the arrival id:
    xxhash64 ids span all of int64, so no sentinel id could.  Returns
    Python scalars, never numpy ones."""
    if not len(new):
        return ts_ms, arrival, vals
    n_old = len(ts_ms)
    all_ts = ts_ms + new[cfg.ts].tolist()
    all_arr = arrival + new[cfg.arrival].tolist()
    all_vals = [v + new[c].tolist() for v, c in zip(vals, cfg.value_cols)]
    order = sorted(
        zip(all_ts, [0] * n_old + [1] * len(new), all_arr, range(len(all_ts)))
    )
    # T3: the first row per ts (state first, then lowest arrival id)
    keep = [r[3] for i, r in enumerate(order) if not i or r[0] != order[i - 1][0]]
    # T4: purge oldest beyond cap — keep the max_per_track newest
    if cfg.max_per_track:
        keep = keep[-cfg.max_per_track:]
    return (
        [all_ts[i] for i in keep],
        [all_arr[i] for i in keep],
        [[col[i] for i in keep] for col in all_vals],
    )


def _snapshot_row(cfg: TrackStateConfig, key_val, ts_ms, vals) -> pd.DataFrame:
    """T5: one full snapshot row for this key (batch-operator-identical)."""
    out = {
        cfg.key: [key_val],
        "track_count": [len(ts_ms)],
        "latest_ts_ms": [ts_ms[-1] if ts_ms else None],
        "oldest_ts_ms": [ts_ms[0] if ts_ms else None],
    }
    for i, c in enumerate(cfg.value_cols):
        out[f"latest_{c}"] = [vals[i][-1] if vals[i] else None]
    return pd.DataFrame(out)


def _make_fold(cfg: TrackStateConfig):
    """Build the per-key fold closure (the StateSpec.function equivalent,
    StreamWithStates.scala:64-71)."""
    n_vals = len(cfg.value_cols)

    def fold(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            st = state.get
            ts_ms = list(st[0])
            arrival = list(st[1])
            vals = [list(st[2 + i]) for i in range(n_vals)]
        else:  # T2: first record for this key → empty track
            ts_ms, arrival, vals = [], [], [[] for _ in range(n_vals)]

        batches = [p for p in pdf_iter if len(p)] or [pd.DataFrame()]
        new = batches[0] if len(batches) == 1 else pd.concat(batches, ignore_index=True)
        ts_ms, arrival, vals = _fold_core(cfg, ts_ms, arrival, vals, new)

        state.update((ts_ms, arrival, *vals))
        if cfg.ttl_minutes is not None:
            state.setTimeoutDuration(int(cfg.ttl_minutes * 60 * 1000))

        yield _snapshot_row(cfg, key[0], ts_ms, vals)

    return fold


def _fold_input(keyed: DataFrame, cfg: TrackStateConfig) -> DataFrame:
    """The fold's input columns only: key, ts as epoch ms (null → 0, floored
    like numpy's ``datetime64[ms]`` cast), arrival and the value columns."""
    ts_ms = F.coalesce(F.unix_millis(F.col(cfg.ts)), F.lit(0))
    return keyed.select(cfg.key, ts_ms.alias(cfg.ts), cfg.arrival, *cfg.value_cols)


def track_state_stream(keyed: DataFrame, cfg: TrackStateConfig) -> DataFrame:
    """Wire the fold into the stream: ``groupBy(key).applyInPandasWithState``.

    The shuffle on ``key`` is the same exchange the reference's mapWithState
    implies; state lives in the state store (RocksDB at scale), checkpointed
    with source offsets — restart-safe, which the reference's DStream
    checkpointing famously is not (README.md:24-108)."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if cfg.ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return _fold_input(keyed, cfg).groupBy(cfg.key).applyInPandasWithState(
        _make_fold(cfg),
        outputStructType=cfg.output_schema(),
        stateStructType=cfg.state_schema(),
        outputMode="update",
        timeoutConf=timeout,
    )
