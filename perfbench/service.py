"""The refresh-and-lookup service under load.

Every workload runs the service the package ships --
``streaming.refresh.DiskUsageHandler`` over a generated inventory --
and one open-loop client thread that looks addresses up while the
workload's timed work runs beside it.  ``refresh_wide_serve`` times
back-to-back ``execute_job()`` calls; ``query_mix`` times registry
queries (see :mod:`querymix`).

Only public entry points are used: ``DiskUsageHandler`` (constructor,
``execute_job``, ``get_disk_usage``, ``last_refresh_metrics``) and
``NotFoundError``.
"""

from __future__ import annotations

import threading
import time

import numpy as np

# A lookup answered later than this after it was due counts as late;
# a wrong answer counts as late too.
LATE_LIMIT_MS = 100.0
PRESENT_FRAC = 0.9  # share of lookups for an address the snapshot holds
ADDRESS_POOL = 1 << 16  # lookups cycle through this many seeded addresses
ABSENT_PROBES = 64  # absent addresses each snapshot check asks for


class LookupClient:
    """Open-loop lookups at a fixed rate, issued only inside windows
    the workload opens around its timed work.

    Lookup ``k`` of a window is due at ``window_start + k / rate`` and
    is timed from that due time, so a stall that delays it also counts
    against the lookups queued behind it.  About ``PRESENT_FRAC`` of
    the lookups ask for an address the expected aggregate holds (the
    answer must equal it); the rest ask for absent addresses (the
    answer must be ``NotFoundError``).
    """

    def __init__(self, handler, expected: dict, rate: float, seed: int):
        from go_mailio_diskusage_handler_spark.streaming.refresh import NotFoundError

        self._not_found = NotFoundError
        self.handler = handler
        self.expected = expected
        self.rate = rate
        rng = np.random.default_rng(seed)
        present = list(expected)
        picks = rng.integers(0, len(present), ADDRESS_POOL)
        absent = rng.random(ADDRESS_POOL) >= PRESENT_FRAC
        self._addresses = [f"absent{i}@mail.example" if absent[i] else present[picks[i]]
                           for i in range(ADDRESS_POOL)]
        self.windows: list[list[float]] = []  # latency_ms of each window
        self.generator_late_ms: list[float] = []
        self.hits = self.misses = self.wrong = 0
        self._next = 0
        # The open window as [start, end] (end is inf while open), or
        # None once the client has finished the lookups due inside it.
        self._window: list[float] | None = None
        self._stopping = False
        self._cv = threading.Condition()
        self._thread = threading.Thread(target=self._run, name="lookup-client",
                                        daemon=True)

    def start(self) -> None:
        self._thread.start()

    def open(self) -> None:
        with self._cv:
            self.windows.append([])
            self._window = [time.perf_counter(), float("inf")]
            self._cv.notify_all()

    def close(self) -> None:
        """Close the window and wait until the client has finished the
        lookups that were due inside it."""
        with self._cv:
            self._window[1] = time.perf_counter()
            while self._window is not None:
                self._cv.wait()

    def stop(self) -> None:
        with self._cv:
            self._stopping = True
            self._cv.notify_all()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("lookup client did not stop")

    def _run(self) -> None:
        while True:
            with self._cv:
                while self._window is None and not self._stopping:
                    self._cv.wait()
                if self._stopping:
                    return
                window = self._window
            k = 0
            while True:
                due = window[0] + k / self.rate
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                if due >= window[1]:
                    break
                self._lookup(due)
                k += 1
            with self._cv:
                self._window = None
                self._cv.notify_all()

    def _lookup(self, due: float) -> None:
        addr = self._addresses[self._next % len(self._addresses)]
        self._next += 1
        sent = time.perf_counter()
        try:
            got = self.handler.get_disk_usage(addr)
            answer = (got.address, got.size_bytes, got.number_files)
        except self._not_found:
            answer = None
        done = time.perf_counter()
        want = self.expected.get(addr)
        if answer != (None if want is None else (addr, *want)):
            self.wrong += 1
            done = float("inf")  # a wrong answer never meets the latency limit
        elif want is None:
            self.misses += 1
        else:
            self.hits += 1
        self.windows[-1].append((done - due) * 1e3)
        self.generator_late_ms.append((sent - due) * 1e3)

    @property
    def latency_ms(self) -> list[float]:
        return [x for w in self.windows for x in w]

    @property
    def count(self) -> int:
        return sum(map(len, self.windows))

    def window_median(self, q: float) -> float:
        """Median over windows of each window's ``q`` percentile."""
        return float(np.median([percentile(w, q) for w in self.windows if w]))


def snapshot_errors(handler, expected: dict, meta: dict) -> list[str]:
    """Compare the published snapshot with the expected aggregate:
    every expected address answers exactly, absent addresses raise
    ``NotFoundError``, and the refresh's observed row counters equal
    the generated ones."""
    from go_mailio_diskusage_handler_spark.streaming.refresh import NotFoundError

    errors = []
    for addr, (size, files) in expected.items():
        try:
            got = handler.get_disk_usage(addr)
        except NotFoundError:
            errors.append(f"{addr}: missing")
            continue
        if (got.size_bytes, got.number_files) != (size, files):
            errors.append(f"{addr}: {got.size_bytes, got.number_files} != {size, files}")
        if len(errors) > 5:
            break
    for i in range(ABSENT_PROBES):
        try:
            handler.get_disk_usage(f"absent{i}@mail.example")
            errors.append(f"absent{i}: answered")
        except NotFoundError:
            pass
    m = handler.last_refresh_metrics or {}
    for key in ("total_rows", "malformed_keys", "null_size_rows"):
        if m.get(key) != meta[key]:
            errors.append(f"{key}: {m.get(key)} != {meta[key]}")
    return errors


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); inf stays inf."""
    if not values:
        return float("nan")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(q / 100 * len(s))) - 1))]
