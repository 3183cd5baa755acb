"""Host-side measurements: calibration probes and sampled RSS."""

from __future__ import annotations

import os
import threading
import time

CALIB_LOOP = 400_000


def calib_cpu_s() -> float:
    """A fixed pure-Python loop; its wall tracks the host's CPU speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIB_LOOP):
        acc += i * i % 7
    return time.perf_counter() - t0


def calib_spark_s(spark, reps: int = 3) -> float:
    """A fixed tiny Spark job, run ``reps`` times after one untimed run
    that pays its codegen; the median wall tracks scheduler and JVM
    speed."""
    walls = []
    for _ in range(reps + 1):
        t0 = time.perf_counter()
        spark.range(0, 200_000, numPartitions=4).selectExpr("sum(id * 3 % 7)").collect()
        walls.append(time.perf_counter() - t0)
    return sorted(walls[1:])[reps // 2]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # field 4 is the ppid; the comm field may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            args = f.read().split(b"\0")
        return f"{pid}:" + " ".join(a.decode(errors="replace") for a in args[:3])[:80]
    except OSError:
        return str(pid)


class RssSampler:
    """Samples the summed resident set of ``pid`` and every descendant
    (driver JVM, Python workers, load generator) every ``interval``
    seconds on a daemon thread; ``stop`` returns the largest sum in MB.
    A sampled sum, unlike one read of per-process high-water marks at
    the end, counts worker processes that exited earlier and never
    adds peaks that did not coincide."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}  # process → MB in the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            sample = {p: _rss_kb(p) for p in descendants(self.pid)}
            if sum(sample.values()) > self.peak_kb:
                self.peak_kb = sum(sample.values())
                self.at_peak = {_comm(p): kb // 1024 for p, kb in sample.items() if kb}
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0
