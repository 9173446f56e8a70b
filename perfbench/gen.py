"""Seeded flight-line generator and the pure-Python reference fold.

Every event is a pure function of ``(flight, event second)``: two lines
with the same flight and timestamp are byte-identical.  A duplicate is
therefore an exact resend, and the expected view does not depend on how
the pipeline breaks ties between equal timestamps.

Normal reports sit on even seconds, strictly increasing per flight.  The
backfill history adds exact resends of recent lines (T3 timestamp dedup)
and out-of-order reports on odd seconds older than the flight's newest one
(T4 last-N purge).

Run as a program it is the generator process the benchmark starts:

    python3 perfbench/gen.py live --seed 1 --rate 100 --flights 100 \
        --seconds 17 --out DIR
    python3 perfbench/gen.py history --seed 1 --flights 300 --files 40 \
        --lines-per-file 6000 --segment 3 --out DIR
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import random
import socket
import sys
import time

BASE_EPOCH_S = 1331856000  # 2012-03-16 00:00:00 UTC, the FlightSim day
TRACK_CAP = 10  # FLIGHT_TRACK_CONFIG.max_per_track
AIRPORTS = ("IAD", "TPA", "LAX", "SFO", "ORD", "ATL", "DFW", "DEN", "SEA", "BOS", "JFK", "MIA")
AIRCRAFT = ("B733", "B738", "A320", "A321", "E190", "CRJ9", "B772", "A333")
VIEW_COLUMNS = (
    "flightId",
    "track_count",
    "latest_ts_ms",
    "oldest_ts_ms",
    "latest_longitude",
    "latest_latitude",
    "latest_origin",
    "latest_destination",
    "latest_aircraft",
    "latest_altitude",
)


def format_time(ts_s: int) -> str:
    """Epoch seconds → the reference's ``M/d/yyyy hh:mm:ss a`` (UTC)."""
    t = time.gmtime(ts_s)
    hour12 = t.tm_hour % 12 or 12
    ampm = "AM" if t.tm_hour < 12 else "PM"
    return f"{t.tm_mon}/{t.tm_mday}/{t.tm_year} {hour12:02d}:{t.tm_min:02d}:{t.tm_sec:02d} {ampm}"


class Flight:
    """One flight's deterministic trajectory."""

    def __init__(self, rng: random.Random, idx: int):
        self.fid = f"FL{idx:05d}"
        self.origin, self.destination = rng.sample(AIRPORTS, 2)
        self.aircraft = rng.choice(AIRCRAFT)
        self.lon0 = rng.uniform(-120.0, -70.0)
        self.lat0 = rng.uniform(25.0, 48.0)
        self.dlon = rng.uniform(-0.004, 0.004)
        self.dlat = rng.uniform(-0.004, 0.004)
        self.t0 = BASE_EPOCH_S + 2 * rng.randrange(0, 3600)  # even second
        self.reports = 0  # normal reports emitted so far

    def event(self, ts_s: int) -> tuple:
        """The flight's report at event second ``ts_s``: a pure function of
        (flight, ts_s), so resends are exact."""
        step = ts_s - self.t0
        lon = f"{self.lon0 + self.dlon * step:.5f}"
        lat = f"{self.lat0 + self.dlat * step:.5f}"
        alt = 30000 + (step * 37) % 5000
        return (self.fid, ts_s, lon, lat, self.origin, self.destination, self.aircraft, alt)

    def next_event(self) -> tuple:
        ev = self.event(self.t0 + 2 * self.reports)
        self.reports += 1
        return ev

    def late_event(self, rng: random.Random) -> tuple | None:
        """An out-of-order report on an odd second, older than the newest
        report; sometimes older than the whole retained track (purged on
        arrival), sometimes inside it (evicts the oldest)."""
        if self.reports < 2:
            return None
        j = rng.randrange(max(0, self.reports - TRACK_CAP - 2), self.reports - 1)
        return self.event(self.t0 + 2 * j + 1)


def to_line(ev: tuple) -> str:
    fid, ts_s, lon, lat, origin, dest, aircraft, alt = ev
    return f'"{fid}","{format_time(ts_s)}",{lon},{lat},"{origin}","{dest}","{aircraft}",{alt}'


def live_schedule(seed: int, rate: float, n_flights: int, seconds: float) -> list[tuple[float, tuple]]:
    """Open-loop schedule: ``(due offset s, event)`` with seeded exponential
    gaps at ``rate`` lines/s.  Flights report round-robin in a seeded order,
    so each flight reports about every ``n_flights / rate`` seconds with
    strictly increasing event times."""
    rng = random.Random(f"live-{seed}")
    flights = [Flight(rng, i) for i in range(n_flights)]
    rng.shuffle(flights)
    out, t, i = [], 0.0, 0
    while True:
        t += rng.expovariate(rate)
        if t >= seconds:
            return out
        out.append((t, flights[i % n_flights].next_event()))
        i += 1


def history_files(
    seed: int,
    n_flights: int,
    n_files: int,
    lines_per_file: int,
    resend_share: float = 0.05,
    late_share: float = 0.05,
):
    """Yield the stored history one file (a list of events) at a time."""
    rng = random.Random(f"history-{seed}")
    flights = [Flight(rng, i) for i in range(n_flights)]
    order = list(flights)
    rng.shuffle(order)
    recent: collections.deque = collections.deque(maxlen=4 * n_flights)
    k = 0
    for _ in range(n_files):
        events = []
        while len(events) < lines_per_file:
            r = rng.random()
            ev = None
            if r < resend_share and recent:
                ev = recent[rng.randrange(len(recent))]
            elif r < resend_share + late_share:
                ev = flights[rng.randrange(n_flights)].late_event(rng)
            if ev is None:
                ev = order[k % n_flights].next_event()
                k += 1
            recent.append(ev)
            events.append(ev)
        yield events


class ReferenceFold:
    """Single-threaded fold of the paper's track semantics: sort by event
    time, drop equal timestamps with the stored row winning, keep the
    newest ``cap``, report the latest values.  Folding line by line equals
    any micro-batching of the same lines because equal (flight, ts) lines
    are identical."""

    def __init__(self, cap: int = TRACK_CAP):
        self.cap = cap
        self.tracks: dict[str, dict[int, tuple]] = {}

    def add(self, ev: tuple) -> None:
        track = self.tracks.setdefault(ev[0], {})
        ts = ev[1]
        if ts in track:
            return  # T3: the stored row wins
        if len(track) >= self.cap and ts < min(track):
            return  # T4: older than the whole retained track
        track[ts] = ev
        if len(track) > self.cap:
            del track[min(track)]

    def view(self) -> dict[str, tuple]:
        """flightId → expected snapshot row, in ``VIEW_COLUMNS`` order."""
        out = {}
        for fid, track in self.tracks.items():
            newest = track[max(track)]
            _, ts_s, lon, lat, origin, dest, aircraft, alt = newest
            out[fid] = (
                fid,
                len(track),
                ts_s * 1000,
                min(track) * 1000,
                float(lon),
                float(lat),
                origin,
                dest,
                aircraft,
                alt,
            )
        return out


def compare_views(expected: dict[str, tuple], rows) -> list[str]:
    """Flight ids whose view row differs from the reference (missing,
    extra or unequal)."""
    got = {}
    for r in rows:
        r = tuple(r)
        got[r[0]] = r
    bad = [fid for fid, row in expected.items() if got.get(fid) != row]
    bad += [fid for fid in got if fid not in expected]
    return sorted(bad)


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _serve_live(args) -> None:
    """Send the schedule over one accepted TCP connection, open loop."""
    sched = live_schedule(args.seed, args.rate, args.flights, args.seconds)
    offs = [o for o, _ in sched]
    data = [(to_line(ev) + "\n").encode() for _, ev in sched]
    srv = socket.create_server(("localhost", 0))
    srv.settimeout(120)
    print(f"port {srv.getsockname()[1]}", flush=True)
    conn, _ = srv.accept()
    print("connected", flush=True)
    cmd = sys.stdin.readline().split()  # "go <t0 on CLOCK_MONOTONIC>"
    t0 = float(cmd[1])
    late_max = 0.0
    i, n = 0, len(data)
    while i < n:
        now = time.monotonic()
        due = t0 + offs[i]
        if due > now:
            time.sleep(min(due - now, 0.05))
            continue
        j = i
        while j < n and t0 + offs[j] <= now:
            j += 1
        conn.sendall(b"".join(data[i:j]))
        late_max = max(late_max, time.monotonic() - due)
        i = j
    fold = ReferenceFold()
    for _, ev in sched:
        fold.add(ev)
    _write_json(
        os.path.join(args.out, "gen.json"),
        {
            "lines_sent": n,
            "late_ms_max": late_max * 1000.0,
            "due_offsets_s": offs,
            "expected": list(fold.view().values()),
        },
    )
    print(f"sent {n}", flush=True)
    sys.stdin.readline()  # "close": keep the connection up until told
    conn.close()
    srv.close()


def _write_history(args) -> None:
    """Write the stored history as files under ``<out>/staging`` and the
    expected view after every ``segment`` files under ``<out>/expected``."""
    staging = os.path.join(args.out, "staging")
    expected = os.path.join(args.out, "expected")
    os.makedirs(staging, exist_ok=True)
    os.makedirs(expected, exist_ok=True)
    fold = ReferenceFold()
    files = history_files(args.seed, args.flights, args.files, args.lines_per_file)
    for i, events in enumerate(files):
        path = os.path.join(staging, f"{i:04d}.csv")
        with open(path + ".tmp", "w") as fh:
            fh.write("\n".join(to_line(ev) for ev in events) + "\n")
        os.replace(path + ".tmp", path)
        for ev in events:
            fold.add(ev)
        if (i + 1) % args.segment == 0:
            _write_json(os.path.join(expected, f"{i + 1:04d}.json"), list(fold.view().values()))
    print("done", flush=True)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    live = sub.add_parser("live")
    live.add_argument("--rate", type=float, required=True)
    live.add_argument("--seconds", type=float, required=True)
    hist = sub.add_parser("history")
    hist.add_argument("--files", type=int, required=True)
    hist.add_argument("--lines-per-file", type=int, required=True)
    hist.add_argument("--segment", type=int, required=True)
    for p in (live, hist):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--flights", type=int, required=True)
        p.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    if args.mode == "live":
        _serve_live(args)
    else:
        _write_history(args)


if __name__ == "__main__":
    main()
