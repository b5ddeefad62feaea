"""Open-loop load generator for live_socket, run as its own process.

    python3 -m perfbench.loadgen --sink-port P --seed N --seconds S

It connects to the engine's result socket (``SocketBroadcastServer``)
first, then listens for the engine's ``socket_stream`` to connect. Once
a ``go`` line arrives on stdin (the query has finished its first, empty
trigger), it pushes hanoi-7 values as ``7\\n`` lines on a wall-clock schedule
(steady → spike → steady) that does not slow down when the engine does.
A second thread reads the result lines and stamps each one's arrival.
Two threads, two connections. When every sent row is reflected in the
results, or the drain deadline passes, it prints one JSON object and
exits. All times are seconds from the schedule's start on this process's
monotonic clock.
"""

from __future__ import annotations

import argparse
import json
import random
import socket
import sys
import threading
import time
from dataclasses import dataclass

HEIGHT = 7
#: low enough that a trigger's fixed overhead, not its rows, sets its
#: length: at twice these rates a slowed host grew the rows per trigger,
#: which lengthened the trigger again, and result latency spread widely
BASE_RATE = 1_000
SPIKE_RATE = 3_000
#: the reference's batch deadline, used as the result latency limit
LATENCY_LIMIT_S = 5.0
#: how long results are read after the last row is sent
DRAIN_S = 2 * LATENCY_LIMIT_S
START_DELAY_S = 0.2


@dataclass
class Schedule:
    offsets: list[float]  # send time of each 10 ms bucket, seconds
    counts: list[int]  # rows in each bucket
    spike_start: float
    spike_end: float

    @property
    def total(self) -> int:
        return sum(self.counts)


def make_schedule(seed: int, seconds: int) -> Schedule:
    """The rate plan, rendered by the engine's plan arithmetic into 10 ms
    buckets. The seed picks when the spike starts."""
    from spark_streaming_testbed_spark.plans import parse_plan

    seconds = max(3, int(seconds))
    spike = max(1, seconds // 5)
    lead = max(1, (seconds - spike) // 2 + random.Random(seed).randint(-1, 1))
    tail = max(1, seconds - spike - lead)
    plan = parse_plan({"sequence": [
        {"type": "fixed", "value": HEIGHT, "rate": BASE_RATE, "duration": lead},
        {"type": "fixed", "value": HEIGHT, "rate": SPIKE_RATE, "duration": spike},
        {"type": "fixed", "value": HEIGHT, "rate": BASE_RATE, "duration": tail},
    ]})
    offsets, counts = [], []
    for second in range(lead + spike + tail):
        for dat in plan.values_for(second):
            if dat.values:
                offsets.append(dat.time_ms / 1000.0)
                counts.append(len(dat.values))
    return Schedule(offsets, counts, float(lead), float(lead + spike))


class ResultReader(threading.Thread):
    """Reads TSV result lines (window_start, value, cnt, ...) and stamps
    their arrival; stops once the results reflect ``total`` rows or at
    ``deadline``."""

    def __init__(self, conn: socket.socket, t0: float, total: int) -> None:
        super().__init__(daemon=True)
        self.conn, self.t0, self.total = conn, t0, total
        self.deadline = float("inf")
        self.results: list[tuple[float, str, int]] = []

    def run(self) -> None:
        latest: dict[str, int] = {}
        buf = b""
        self.conn.settimeout(0.2)
        while time.monotonic() < self.deadline:
            try:
                chunk = self.conn.recv(65536)
            except TimeoutError:
                continue
            if not chunk:
                break
            now = time.monotonic() - self.t0
            buf += chunk
            *lines, buf = buf.split(b"\n")
            for line in lines:
                fields = line.decode().split("\t")
                window, cnt = fields[0], int(fields[2])
                latest[window] = cnt
                self.results.append((now, window, cnt))
            if sum(latest.values()) >= self.total:
                break


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sink-port", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args(argv)
    sched = make_schedule(args.seed, int(args.seconds))

    sink = socket.create_connection(("127.0.0.1", args.sink_port))
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as srv:
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
        srv.settimeout(120)
        print(json.dumps({"port": srv.getsockname()[1]}), flush=True)
        data, _ = srv.accept()
    try:
        if sys.stdin.readline().strip() != "go":
            raise SystemExit("no go signal on stdin")
        t0 = time.monotonic() + START_DELAY_S
        reader = ResultReader(sink, t0, sched.total)
        reader.start()
        late_max = 0.0
        for offset, n in zip(sched.offsets, sched.counts):
            due = t0 + offset
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            late_max = max(late_max, time.monotonic() - due)
            data.sendall(f"{HEIGHT}\n".encode() * n)
        reader.deadline = t0 + sched.offsets[-1] + DRAIN_S
        reader.join(timeout=DRAIN_S + 5)
    finally:
        data.close()
        sink.close()
    print(json.dumps({
        "late_max_s": late_max,
        "sent": sched.total,
        "results": reader.results,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
