"""Spans around calls into the library's layers, and the Spark work
each span caused.

A span records name, parent, start and end. While a span is open its
Spark jobs carry the span's job group, so the event log ties every job,
stage and task to the innermost span open when the job ran (Spark is
lazy: a plan built in one span but executed in a later one counts
toward the later one).

Library-internal calls (checkpoint helpers, the spectral init, the
cascade, the embedder's methods) are wrapped by patching each name
where its caller looks it up; calls the workloads make themselves are
wrapped at the call site with :meth:`Tracer.span`. Spans are recorded
only while ``active`` is set, so the same process can alternate traced
and untraced runs.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


# (module, attribute, span name): library functions patched where the
# library itself calls them
_PATCHED_FUNCTIONS = [
    ("graphem_rapids_spark.checkpoint", "eager_checkpoint", "checkpoint.eager_checkpoint"),
    ("graphem_rapids_spark.checkpoint", "lazy_checkpoint", "checkpoint.lazy_checkpoint"),
    ("graphem_rapids_spark.checkpoint", "checkpoint_count", "checkpoint.checkpoint_count"),
    ("graphem_rapids_spark.checkpoint", "eager_materialize", "checkpoint.eager_materialize"),
    ("graphem_rapids_spark.embedding.laplacian", "laplacian_embedding", "laplacian.init"),
    ("graphem_rapids_spark.influence", "independent_cascade", "influence.independent_cascade"),
]
_PATCHED_METHODS = [
    ("graphem_rapids_spark.embedding.embedder", "GraphEmbedderSpark", "__init__", "embedder.ctor"),
    ("graphem_rapids_spark.embedding.embedder", "GraphEmbedderSpark", "update_positions", "embedder.update_positions"),
]


class Tracer:
    def __init__(self, spark, event_dir: Path | None, cores: int):
        self.sc = spark.sparkContext
        self.event_dir = event_dir
        self.cores = cores
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self._log_offset = 0

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, time.time()))
        self._stack.append(idx)
        self.sc.setJobGroup(f"perfbench-{idx}", name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-{top}", self.spans[top].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- patching ---------------------------------------------------------
    def install(self) -> None:
        """Wrap each listed function in every loaded module of the
        library that bound it by name, and each listed method on its
        class."""
        import importlib

        mods = [m for n, m in list(sys.modules.items()) if n.startswith("graphem_rapids_spark") and m]
        for mod_name, attr, span_name in _PATCHED_FUNCTIONS:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(span_name, original)
            for m in mods:
                for k, v in list(vars(m).items()):
                    if v is original:
                        self._undo.append((m, k, v))
                        setattr(m, k, wrapped)
        for mod_name, cls_name, meth, span_name in _PATCHED_METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            original = cls.__dict__[meth]
            self._undo.append((cls, meth, original))
            setattr(cls, meth, self.wrap(span_name, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo = []

    # -- Spark work per span ----------------------------------------------
    def _drain_listener_bus(self) -> None:
        bus = self.sc._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty(30_000)
        except Exception:  # older signature without a timeout
            bus.waitUntilEmpty()

    def _read_events(self) -> list[dict]:
        self._drain_listener_bus()
        logs = sorted(self.event_dir.iterdir()) if self.event_dir else []
        if not logs:
            return []
        with open(logs[-1], "rb") as f:
            f.seek(self._log_offset)
            data = f.read()
        end = data.rfind(b"\n") + 1  # a partly flushed last line waits
        self._log_offset += end
        return [json.loads(line) for line in data[:end].splitlines() if line]

    def collect_run(self, root: int) -> dict:
        """Attribute the Spark work logged since the last call to the
        spans of the run rooted at span ``root``. Returns the run's span
        ids and ``work(span_ids)``, the Spark work of a set of spans."""
        events = self._read_events()
        job_span: dict[int, int] = {}
        stage_job: dict[int, int] = {}
        stages_run: set[int] = set()
        tasks: list[tuple[int, float, float, dict]] = []
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if group.startswith("perfbench-"):
                    idx = int(group.rsplit("-", 1)[1])
                elif self.spans[root].start <= ev.get("Submission Time", 0) / 1000.0 <= self.spans[root].end:
                    idx = root  # ungrouped job inside the run window
                else:
                    continue  # work outside the traced run (warm-up, checks)
                job_span[ev["Job ID"]] = idx
                self.spans[idx].jobs.append(ev["Job ID"])
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                stages_run.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                tasks.append(
                    (
                        ev["Stage ID"],
                        info.get("Launch Time", 0) / 1000.0,
                        info.get("Finish Time", 0) / 1000.0,
                        ev.get("Task Metrics") or {},
                    )
                )
        run_ids = self.subtree(root)
        span_of_stage = {s: job_span[j] for s, j in stage_job.items() if j in job_span}

        def work(span_ids: set[int]) -> dict:
            mine = [t for t in tasks if span_of_stage.get(t[0]) in span_ids]
            jobs = sum(len(self.spans[i].jobs) for i in span_ids)
            stages = len({t[0] for t in mine} & stages_run)
            intervals = [(t[1], t[2]) for t in mine]
            wall = sum(self.spans[i].wall for i in span_ids if self.spans[i].parent not in span_ids)
            windows = [
                (self.spans[i].start, self.spans[i].end)
                for i in span_ids
                if self.spans[i].parent not in span_ids
            ]
            busy_union = sum(_covered(intervals, lo, hi) for lo, hi in windows)
            run_time = sum(t[3].get("Executor Run Time", 0) for t in mine) / 1000.0
            return {
                "wall": wall,
                "jobs": jobs,
                "stages": stages,
                "tasks": len(mine),
                "shuffle_write_mb": sum(
                    (t[3].get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    for t in mine
                )
                / MB,
                "spill_mb": sum(
                    t[3].get("Memory Bytes Spilled", 0) + t[3].get("Disk Bytes Spilled", 0)
                    for t in mine
                )
                / MB,
                "gc_s": sum(t[3].get("JVM GC Time", 0) for t in mine) / 1000.0,
                "busy_s": run_time,
                "idle_s": max(0.0, wall - busy_union),
            }

        return {"run_ids": run_ids, "work": work}

    def subtree(self, root: int) -> set[int]:
        ids = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in ids:
                ids.add(i)
        return ids

    def named(self, ids: set[int], name: str, outermost: bool = False) -> list[int]:
        """Spans in ``ids`` called ``name`` (or starting with it when it
        ends in '.'); ``outermost`` drops those nested in a match."""
        hit = [
            i
            for i in sorted(ids)
            if (self.spans[i].name.startswith(name) if name.endswith(".") else self.spans[i].name == name)
        ]
        if outermost:
            hs = set(hit)
            hit = [i for i in hit if not self._has_ancestor_in(i, hs)]
        return hit

    def _has_ancestor_in(self, i: int, ids: set[int]) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if p in ids:
                return True
            p = self.spans[p].parent
        return False

    def span_table(self, ids: set[int], work) -> list[dict]:
        """Per span name: calls, inclusive wall, self wall and the Spark
        work of the spans' subtrees."""
        by_name: dict[str, list[int]] = {}
        for i in sorted(ids):
            by_name.setdefault(self.spans[i].name, []).append(i)
        rows = []
        for name, members in by_name.items():
            subtree: set[int] = set()
            for i in members:
                subtree |= self.subtree(i)
            outer = [i for i in members if not self._has_ancestor_in(i, set(members))]
            incl = sum(self.spans[i].wall for i in outer)
            child = sum(
                self.spans[c].wall
                for c in subtree
                if self.spans[c].parent in set(members) and self.spans[c].name != name
            )
            w = work(subtree)
            rows.append(
                {"span": name, "calls": len(members), "incl_s": incl, "self_s": incl - child, **{
                    k: w[k] for k in ("jobs", "stages", "tasks", "shuffle_write_mb", "gc_s", "idle_s")
                }}
            )
        return rows


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
