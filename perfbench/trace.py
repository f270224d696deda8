"""Span tracing for the traced benchmark run.

The engine source is not instrumented. Instead :func:`install` replaces
each traced public function with a wrapper at every place a caller looks
it up: the defining module, every loaded ``delta_lake_spark`` module that
bound the same function object at import (``from .dedup import
minhash_lsh_pairs``), and the class for methods. :func:`uninstall` puts
the originals back, so untraced and traced blocks run the same code.

Spark work is attributed through the job group: opening a span sets the
thread's ``spark.jobGroup.id`` local property to the span's id, so every
job Spark submits while the span is innermost carries it. After each
operation :meth:`Tracer.harvest_spark` waits for the listener bus to
deliver its events, then reads the finished jobs and their stages from
the status store, which is populated with the UI disabled.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        out.append((s.end - s.start) - covered(children.get(i, []), s.start, s.end))
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder plus per-span counters and Spark metrics."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = -1
        # span name -> counter name -> value
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        # span index -> Spark metric -> value
        self.spark: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.job_intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
        self._harvested: set[int] = set()
        self.peak_persisted = 0

    # ---------- spans ----------

    def open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self.stack.append(idx)
        self._set_group(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    def _set_group(self, idx: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None if idx is None else f"pb{idx}")

    def count(self, span_name: str, key: str, value: float = 1.0) -> None:
        self.counts[span_name][key] += value

    def wrap(self, fn: Callable, name: str, on_result: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.stack:  # outside any operation: the benchmark's own checks
                return fn(*args, **kwargs)
            idx = self.open(name)
            try:
                result = fn(*args, **kwargs)
            except BaseException as exc:
                self.count(name, "errors")
                self.count(name, type(exc).__name__)
                raise
            finally:
                self.close(idx)
            if on_result is not None:
                on_result(self, result, args, kwargs)
            return result

        return traced

    # ---------- Spark status store ----------

    def harvest_spark(self) -> None:
        """Attribute every job finished since the last harvest to the span
        whose id it carries as job group, and record its interval.

        The status store is filled from the listener bus, which delivers
        job and stage end events after the action has returned, so the
        bus is drained first; a job still without a completion time is
        left for the next harvest."""
        if self.sc is None:
            return
        sc = self.sc._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        jobs = store.jobsList(None)
        epoch_offset = time.time() - time.perf_counter()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            done = job.completionTime()
            if jid in self._harvested or not done.isDefined():
                continue
            self._harvested.add(jid)
            group = job.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith("pb"):
                continue
            idx = int(str(group.get())[2:])
            m = self.spark[idx]
            m["jobs"] += 1
            sub = job.submissionTime()
            if sub.isDefined():
                self.job_intervals[self.spans[idx].op].append(
                    (sub.get().getTime() / 1e3 - epoch_offset, done.get().getTime() / 1e3 - epoch_offset)
                )
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                stage = store.lastStageAttempt(stage_ids.apply(k))
                if str(stage.status()) == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += stage.numCompleteTasks()
                m["executor_run_s"] += stage.executorRunTime() / 1e3
                m["shuffle_read_bytes"] += stage.shuffleReadBytes()
                m["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                m["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()

    def persisted_bytes(self) -> int:
        """Memory plus disk bytes of every cached RDD right now."""
        if self.sc is None:
            return 0
        return sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}) + "\n")


# ---------- installing wrappers ----------


def _replace_everywhere(original: Callable, wrapper: Callable) -> list[tuple[Any, str, Any]]:
    """Rebind ``original`` to ``wrapper`` in every loaded engine module
    that holds it. Returns (namespace, attribute, old value) for undo."""
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == "delta_lake_spark" or mod_name.startswith("delta_lake_spark.")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)
                undo.append((mod, attr, value))
    return undo


def install(tracer: Tracer, targets: list[tuple[str, str, str, Callable | None]]) -> list:
    """Wrap each ``(module, qualified attribute, span name, on_result)``.
    A qualified attribute ``Class.method`` wraps the class attribute."""
    import importlib

    undo = []
    for module, qualname, span, hook in targets:
        mod = importlib.import_module(module)
        owner_name, _, attr = qualname.rpartition(".")
        owner = getattr(mod, owner_name) if owner_name else mod
        original = getattr(owner, attr)
        wrapper = tracer.wrap(original, span, hook)
        if owner_name:
            setattr(owner, attr, wrapper)
            undo.append((owner, attr, original))
        else:
            undo.extend(_replace_everywhere(original, wrapper))
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)
