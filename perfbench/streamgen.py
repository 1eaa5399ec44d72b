"""Browser-event generator for the stream workload.

Events follow the reference's browser stream: ``"id","user","action","ts"``
CSV lines, with users drawn with skew from a fixed list of names and actions
drawn uniformly. An event's content depends only on the seed and its index;
its timestamp is the epoch millisecond it is due.

Run as a script, it is the live-phase load generator: a separate process
that writes one file per interval on a fixed schedule, however slow the
engine is. Each file holds the events due in its interval, is written under
a hidden name and renamed into the landing directory, so the engine never
sees a partial file. At the end it writes a JSON report of when each file
landed against when it was due.

    python3 streamgen.py --landing DIR --report FILE --seed N \\
        --start EPOCH_S --rate EVENTS_PER_S --seconds S --interval S \\
        --first-id K
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

ACTIONS = ["Login", "ViewVideo", "ViewLink", "ViewReview", "Logout"]
N_USERS = 2000
SKEW = 1.1


class EventSource:
    """Deterministic event contents for one seed."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        self.users = [f"user{i:04d}" for i in range(N_USERS)]
        self._weights = [1.0 / (i + 1) ** SKEW for i in range(N_USERS)]

    def take(self, n: int) -> list[tuple[str, str]]:
        users = self._rng.choices(self.users, self._weights, k=n)
        return [(u, self._rng.choice(ACTIONS)) for u in users]


def write_file(path: str, first_id: int, rows: list[tuple[str, str, int]],
               rng: random.Random) -> None:
    """Write ``rows`` of (user, action, ts_ms) shuffled within the file,
    atomically: the file appears under ``path`` complete or not at all."""
    lines = [f'"{first_id + i}","{u}","{a}","{ts}"' for i, (u, a, ts) in enumerate(rows)]
    rng.shuffle(lines)
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def write_block(directory: str, prefix: str, source: EventSource, seed: int,
                n_events: int, n_files: int, ts0_ms: int, step_ms: int,
                first_id: int) -> None:
    """Pre-write ``n_events`` events, ``step_ms`` apart from ``ts0_ms``,
    split in time order over ``n_files`` files."""
    os.makedirs(directory, exist_ok=True)
    rng = random.Random(seed * 7919 + len(prefix))
    per = -(-n_events // n_files)
    events = source.take(n_events)
    for f in range(n_files):
        lo, hi = f * per, min(n_events, (f + 1) * per)
        rows = [(u, a, ts0_ms + i * step_ms) for i, (u, a) in
                enumerate(events[lo:hi], start=lo)]
        if rows:
            write_file(os.path.join(directory, f"{prefix}-{f:05d}.csv"),
                       first_id + lo, rows, rng)


def run_live(landing: str, report: str, seed: int, start_s: float, rate: float,
             seconds: float, interval_s: float, first_id: int) -> None:
    """Open-loop schedule: file ``j`` holds the events due in
    ``[start + j*interval, start + (j+1)*interval)`` and is due at the end
    of that interval."""
    source = EventSource(seed)
    source.take(first_id)  # continue the seed's event sequence
    rng = random.Random(seed * 104729)
    files = []
    n_files = int(round(seconds / interval_s))
    next_event = 0
    for j in range(n_files):
        due_s = start_s + (j + 1) * interval_s
        last = int((due_s - start_s) * rate)
        contents = source.take(last - next_event)
        rows = [(u, a, int((start_s + (next_event + i) / rate) * 1000))
                for i, (u, a) in enumerate(contents)]
        delay = due_s - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"live-{j:05d}.csv"
        if rows:
            write_file(os.path.join(landing, name), first_id + next_event, rows, rng)
        written = time.time()
        files.append({"name": name, "due_s": due_s, "written_s": written,
                      "ts": [r[2] for r in rows]})
        next_event = last
    with open(report + ".tmp", "w") as fh:
        json.dump({"files": files, "events": next_event}, fh)
    os.replace(report + ".tmp", report)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--landing", required=True)
    p.add_argument("--report", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--interval", type=float, required=True)
    p.add_argument("--first-id", type=int, required=True)
    a = p.parse_args()
    run_live(a.landing, a.report, a.seed, a.start, a.rate, a.seconds,
             a.interval, a.first_id)


if __name__ == "__main__":
    main()
