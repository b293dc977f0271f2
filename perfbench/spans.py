"""Spans, Spark job-group counters, op accounting and RSS sampling.

Everything here is benchmark-side instrumentation: the engine is
called unchanged, and each call into one of its layers is wrapped in a
span.  A traced span runs its Spark jobs under its own job group, so
the counters Spark's status store keeps per stage can be attributed to
exactly that call.
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
import uuid
from contextlib import contextmanager

# per-op counters; every one is summed over an op's calls
COUNTERS = (
    "s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "rows_out",
)

# peak RSS is sampled this often
RSS_INTERVAL_S = 0.2


def counter_unit(name: str) -> str:
    """The unit of an ``<op>.<counter>`` metric, from its name."""
    if name.endswith(".s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


class OpLedger:
    """Attempted/failed count per op.  A failure is recorded with the op
    name and its cause, and never stops the caller: the remaining ops
    and iterations keep running."""

    def __init__(self):
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.errors: list[dict] = []

    @contextmanager
    def guard(self, name: str):
        """Counts one attempt of ``name``; an exception inside the block
        is recorded against it and suppressed."""
        self.attempted[name] = self.attempted.get(name, 0) + 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 - isolation boundary
            self.fail(name, f"{type(e).__name__}: {e}", traceback.format_exc())

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """An output check is an op of its own: False counts as failed."""
        self.attempted[name] = self.attempted.get(name, 0) + 1
        if not ok:
            self.fail(name, f"check failed: {detail}")
        return ok

    def fail(self, name: str, cause: str, tb: str = "") -> None:
        self.failed[name] = self.failed.get(name, 0) + 1
        if len(self.errors) < 50:
            self.errors.append({"op": name, "cause": cause[:500], "traceback": tb[-2000:]})

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())


class Tracer:
    """Records one span per layer call: name, start, end, parent and run
    id.  When enabled, the span's Spark jobs run under a job group of
    their own and the span carries that group's stage counters.  Spans
    stay in memory until ``dump``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        """Yields the span dict; the caller may set ``rows_out`` or
        other fields on it.  With tracing off it is a plain dict that is
        thrown away."""
        if not self.enabled:
            yield {}
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id,
            "id": self._seq,
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": f"bench-{self.run_id}-{self._seq}",
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            rec.update(self._group_counters(rec["group"]))
            self.spans.append(rec)

    def _group_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        store = jsc.statusStore()
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        out = dict.fromkeys(COUNTERS[1:-1], 0)
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in sorted(stage_ids):
            it = store.stageData(sid, False, no_status, False, no_quantiles).iterator()
            while it.hasNext():
                sd = it.next()
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def op_totals(self, names, iterations: int) -> dict[str, tuple[float, str]]:
        """``<op>.<counter>`` per traced iteration, with its unit, for
        every op in ``names`` (0 for an op this workload never calls)."""
        out = {}
        n = max(iterations, 1)
        for op in names:
            sp = [s for s in self.spans if s["name"] == op]
            for c in COUNTERS:
                if c == "s":
                    v = sum(s["end"] - s["start"] for s in sp)
                else:
                    v = sum(s.get(c, 0) for s in sp)
                key = f"{op}.{c}"
                out[key] = (v / n, counter_unit(key))
        return out

    def self_time_coverage(self, root: str) -> float:
        """Median share of a root span's duration covered by its direct
        child spans (the top-level op calls of one iteration)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        shares = []
        for r in (s for s in self.spans if s["name"] == root):
            covered = sum(c["end"] - c["start"] for c in kids.get(r["id"], []))
            shares.append(covered / max(r["end"] - r["start"], 1e-9))
        shares.sort()
        return shares[len(shares) // 2] if shares else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class RssSampler:
    """Peak summed RSS of a process (the driver JVM) and of its Python
    descendants (the pyspark daemon and its workers), sampled on a
    thread.  Other descendants are skipped: while the JVM spawns a
    helper command (Hadoop runs ``chmod`` for each file it writes), the
    child shares the JVM's address space until it execs and would read
    as a second copy of the JVM."""

    def __init__(self):
        self.peak_kb = 0
        self.peak_root_kb = 0  # the root process alone
        self._root: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, root_pid: int) -> None:
        self._root = root_pid
        self._thread.start()

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            root_kb, total_kb = self._tree_rss_kb()
            self.peak_root_kb = max(self.peak_root_kb, root_kb)
            self.peak_kb = max(self.peak_kb, total_kb)
            self._stop.wait(RSS_INTERVAL_S)

    def _tree_rss_kb(self) -> tuple[int, int]:
        """(root RSS, summed RSS of root and Python descendants) in kB."""
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        python: set[int] = set()
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/status") as f:
                    ppid = kb = 0
                    for line in f:
                        if line.startswith("Name:") and line.split()[1].startswith("python"):
                            python.add(int(d))
                        elif line.startswith("PPid:"):
                            ppid = int(line.split()[1])
                        elif line.startswith("VmRSS:"):
                            kb = int(line.split()[1])
            except OSError:
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(d))
            rss[int(d)] = kb
        total, todo = rss.get(self._root, 0), list(children.get(self._root, []))
        while todo:
            p = todo.pop()
            if p in python:
                total += rss.get(p, 0)
            todo.extend(children.get(p, []))
        return rss.get(self._root, 0), total
