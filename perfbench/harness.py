"""Session lifetime, /proc sampling and spans for the benchmark runner."""

from __future__ import annotations

import gc
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------------
# /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, found through each process's ppid."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """User+system CPU seconds of ``pid`` and its live descendants,
    including children they have already reaped."""
    total = 0
    for p in [pid, *descendants(pid)]:
        fields = _stat_fields(p)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use after full collections, in MiB. Python's
    collection first releases JVM objects the driver no longer holds; the
    pause lets Spark's cleaner drop the blocks of RDDs the first JVM
    collection found unreachable before the second one."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


# ----------------------------------------------------------------------
# Spark sessions


@dataclass
class Session:
    spark: object
    jvm_pid: int
    get_spark_s: float


def start_session(app_name: str) -> Session:
    """Launch a fresh JVM and build the program's session on it."""
    from pyspark import SparkContext

    from llm_map_reduce_summarizer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name)
    dt = time.perf_counter() - t0
    return Session(spark, SparkContext._gateway.proc.pid, dt)


def stop_session(session: Session) -> None:
    """Stop Spark, then close the gateway JVM's stdin, on which it exits,
    and wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    session.spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


# ----------------------------------------------------------------------
# Spans


class Tracer:
    """Spans (name, start, end, parent) kept in memory. Entering a span
    tags the Spark jobs it runs with ``<workload>:<name>``."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _tag(self) -> None:
        name = self.spans[self._stack[-1]]["name"] if self._stack else None
        self.sc.setJobDescription(f"{self.workload}:{name}" if name else None)

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag()

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, index: int) -> float:
        """Span duration minus the time its (sequential) children cover."""
        s = self.spans[index]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == index)
        return s["end"] - s["start"] - kids

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [{"name": s["name"],
                "parent": None if s["parent"] is None
                else self.spans[s["parent"]]["name"],
                "start_s": s["start"] - t0, "end_s": s["end"] - t0,
                "self_s": self.self_time(i)} for i, s in enumerate(self.spans)]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1)


def closed_loop(run_pass, seconds: float, cpu_pid: int,
                min_passes: int) -> list[tuple[float, float, object]]:
    """One client running passes back to back for ``seconds`` and at
    least ``min_passes`` passes. Returns (wall_s, cpu_s, result) per
    pass; a pass that raises is returned with the exception as its
    result."""
    out = []
    t_start = time.perf_counter()
    while len(out) < min_passes or time.perf_counter() - t_start < seconds:
        c0 = tree_cpu_s(cpu_pid)
        t0 = time.perf_counter()
        try:
            res = run_pass()
        except Exception as exc:  # noqa: BLE001 - counted as a failed pass
            res = exc
        wall = time.perf_counter() - t0
        out.append((wall, tree_cpu_s(cpu_pid) - c0, res))
    return out
