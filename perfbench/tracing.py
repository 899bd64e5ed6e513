"""Measurement helpers that sit outside the program under test.

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them out once, when the run ends.
* ``Py4jCounter`` counts the commands this process sends to the JVM by
  wrapping ``send_command`` on the gateway client instance.
* ``instrument_cost_s`` times the two instruments that run inside the
  timed ops, to give the tracing overhead.
* ``StatusStore`` reads Spark's in-process status store (jobs and stages)
  as JSON, a few py4j round trips per read.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Op:
    """One timed operation. Times ``t0``/``t1`` and ``build`` are epoch
    seconds; ``layers`` holds the op's per-layer counters, most of them
    filled only in traced runs."""

    name: str
    seconds: float = 0.0
    ok: bool = True
    rows: int = 0
    t0: float = 0.0
    t1: float = 0.0
    build: tuple[float, float] | None = None
    layers: dict[str, float] = field(default_factory=lambda: defaultdict(float))


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s, c in zip(self.spans, child):
            out[s["name"]] += s["end"] - s["start"] - c
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Py4jCounter:
    """Counts py4j commands while ``active``, from every thread."""

    def __init__(self, gateway_client) -> None:
        self._client = gateway_client
        self._send = gateway_client.send_command
        self._lock = threading.Lock()
        self.calls = 0
        self.active = False
        gateway_client.send_command = self._counting_send

    def _counting_send(self, *args, **kwargs):
        if self.active:
            with self._lock:
                self.calls += 1
        return self._send(*args, **kwargs)


def instrument_cost_s(calls: int, spans: int) -> float:
    """Seconds that counting ``calls`` py4j commands and recording ``spans``
    spans add to the timed ops, from timing both instruments against a
    no-op command on this machine."""

    class NoopClient:
        def send_command(self, *args, **kwargs):
            return None

    def per_call(fn, n: int = 100_000) -> float:
        best = float("inf")
        for _ in range(3):
            start = time.perf_counter()
            for _ in range(n):
                fn()
            best = min(best, (time.perf_counter() - start) / n)
        return best

    client = NoopClient()
    plain = per_call(client.send_command)
    Py4jCounter(client).active = True
    counted = per_call(client.send_command)
    tracer = Tracer("instrument-cost", True)

    def one_span():
        with tracer.span("span"):
            pass

    return max(counted - plain, 0.0) * calls + per_call(one_span, 20_000) * spans


class StatusStore:
    """Jobs and stages from ``SparkContext``'s status store."""

    def __init__(self, sc) -> None:
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._bus.waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(seq))


def job_window(jobs: list[dict], t0_ms: float, t1_ms: float) -> list[dict]:
    """Jobs submitted in ``[t0_ms, t1_ms)``."""
    return [
        j for j in jobs
        if j.get("submissionTime") is not None and t0_ms <= j["submissionTime"] < t1_ms
    ]


def idle_seconds(jobs: list[dict], t0_ms: float, t1_ms: float) -> float:
    """Part of ``[t0_ms, t1_ms]`` during which none of ``jobs`` ran."""
    spans = sorted(
        (max(j["submissionTime"], t0_ms), min(j.get("completionTime") or t1_ms, t1_ms))
        for j in jobs if j.get("submissionTime") is not None
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return max(0.0, (t1_ms - t0_ms) - busy) / 1000.0


STAGE_SUMS = {
    "spark.tasks": "numTasks",
    "spark.failed_tasks": "numFailedTasks",
    "spark.executor_run_ms": "executorRunTime",
    "spark.input_bytes": "inputBytes",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
}


def stage_totals(stages: list[dict], stage_ids: set[int]) -> dict[str, float]:
    """Sums over the attempts of ``stage_ids`` that ran (skipped stages
    carry no tasks)."""
    picked = [s for s in stages if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    out = {name: float(sum(s.get(key, 0) for s in picked)) for name, key in STAGE_SUMS.items()}
    out["spark.stages"] = float(len(picked))
    out["spark.spill_bytes"] = float(
        sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in picked)
    )
    return out


def spark_counters(store: StatusStore, op: Op) -> dict[str, float]:
    """Status-store counters for the jobs submitted during ``op``; with a
    build window, also the jobs it fired and its job-free seconds."""
    store.drain()
    jobs = job_window(store.jobs(), op.t0 * 1000, op.t1 * 1000)
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    out = stage_totals(store.stages() if stage_ids else [], stage_ids)
    out["spark.jobs"] = float(len(jobs))
    if op.build is not None:
        b0, b1 = op.build[0] * 1000, op.build[1] * 1000
        out["plans.build_jobs"] = float(len(job_window(jobs, b0, b1)))
        out["plans.build_driver_s"] = idle_seconds(jobs, b0, b1)
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def flush_writes(path: str) -> None:
    """Write every file under ``path`` to disk, so an op does not pay for
    the writeback of what earlier ops and checks left in the page cache."""
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                fd = os.open(os.path.join(base, name), os.O_RDONLY)
            except OSError:  # removed meanwhile by the JVM or a cleanup
                continue
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
