"""Open- and closed-loop request generators (no Spark dependency)."""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass


@dataclass
class Sent:
    """One request as the generator saw it. Times are ``time.monotonic``."""

    index: int
    due: float
    start: float = 0.0
    done: float = 0.0
    ok: bool = False
    error: str = ""

    @property
    def latency(self) -> float:
        """From when the request was due, not from when it was sent."""
        return self.done - self.due

    @property
    def late(self) -> float:
        return self.start - self.due


@dataclass
class OpenLoopResult:
    sent: list[Sent]
    in_flight_max: int


def _run_one(fn: Callable[[int], bool], rec: Sent) -> None:
    rec.start = time.monotonic()
    try:
        rec.ok = bool(fn(rec.index))
    except Exception as e:  # noqa: BLE001 - a failed request is a counted outcome
        rec.ok, rec.error = False, f"{type(e).__name__}: {e}"
    rec.done = time.monotonic()


def open_loop(fn: Callable[[int], bool], n: int, rate: float, senders: int) -> OpenLoopResult:
    """Issue requests ``0..n-1`` at ``rate`` per second on a fixed
    schedule, whatever the system's speed, through at most ``senders``
    concurrent threads. A request that finds every sender busy waits in
    the queue; that wait counts in its latency because latency runs
    from the due time."""
    t0 = time.monotonic()
    sent = [Sent(i, t0 + i / rate) for i in range(n)]
    lock = threading.Lock()
    in_flight = 0
    peak = 0

    def task(rec: Sent) -> None:
        nonlocal in_flight
        try:
            _run_one(fn, rec)
        finally:
            with lock:
                in_flight -= 1

    with ThreadPoolExecutor(max_workers=senders, thread_name_prefix="sender") as pool:
        futures = []
        for rec in sent:
            delay = rec.due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            with lock:
                in_flight += 1
                peak = max(peak, in_flight)
            futures.append(pool.submit(task, rec))
        for f in futures:
            f.result()
    return OpenLoopResult(sent, peak)


def closed_loop(fn: Callable[[int], bool], n: int, clients: int) -> tuple[float, list[Sent]]:
    """Run requests ``0..n-1`` with ``clients`` callers that each send
    the next request only after their previous one completed. Returns
    (wall seconds, records); a record's due time is its send time."""
    lock = threading.Lock()
    nxt = iter(range(n))
    out: list[Sent] = []

    def client() -> None:
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            rec = Sent(i, time.monotonic())
            _run_one(fn, rec)
            with lock:
                out.append(rec)

    t0 = time.monotonic()
    with ThreadPoolExecutor(max_workers=clients, thread_name_prefix="client") as pool:
        for f in [pool.submit(client) for _ in range(clients)]:
            f.result()
    return time.monotonic() - t0, sorted(out, key=lambda r: r.index)
