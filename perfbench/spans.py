"""Spans around calls into the engine's layers, taken from the benchmark's
own files.

A :class:`Tracer` patches public functions of the engine's modules with
wrappers that record a span (name, layer, start, end, parent) per call.
Spans stay in memory; the run writes them out when it ends.  A layer's
self time is the time its spans cover minus the part their child spans
cover.  The Spark engine beneath the layers is measured separately, from
Spark's own event log (:func:`fold_event_log`).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "vertica_hadoop_integration__spark"


class Tracer:
    """Records spans when ``enabled``; otherwise every hook is a plain
    pass-through, so untraced runs pay one flag test per wrapped call."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str, str, float, float, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, layer, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, lay, start, _, par = self.spans[idx]
            self.spans[idx] = (n, lay, start, time.perf_counter(), par)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    # -- patching ----------------------------------------------------------
    def _wrapper(self, fn, name: str, layer: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        return traced

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        ``make(original)``, traced or not; :meth:`restore` undoes it."""
        fn = getattr(owner, attr)
        self._undo.append((owner, attr, fn))
        setattr(owner, attr, make(fn))

    def wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper."""
        self.patch(owner, attr, lambda fn: self._wrapper(fn, name, layer, after))

    def wrap_everywhere(self, module, attr: str, name: str, layer: str, after=None) -> None:
        """Wrap a function in its defining module and in every engine
        module that imported it by name (``from .x import f``)."""
        fn = getattr(module, attr)
        wrapped = self._wrapper(fn, name, layer, after)
        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and getattr(mod, "__name__", "").startswith(PACKAGE)
                and getattr(mod, attr, None) is fn
            ):
                self._undo.append((mod, attr, fn))
                setattr(mod, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # -- summaries ---------------------------------------------------------
    def busy(self, name: str) -> tuple[int, float]:
        """(calls, summed wall seconds) of the spans named ``name``."""
        durations = [e - s for n, _, s, e, _ in self.spans if n == name]
        return len(durations), sum(durations)

    def busy_within(self, names: tuple[str, ...], windows: list[tuple[float, float]]) -> float:
        """Summed wall seconds of the spans named in ``names`` that start
        inside one of the (start, end) ``windows``."""
        return sum(
            e - s
            for n, _, s, e, _ in self.spans
            if n in names and any(lo <= s < hi for lo, hi in windows)
        )

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time covered by child spans.
        Calls run on one thread, so children never overlap each other."""
        child = [0.0] * len(self.spans)
        for _, _, s, e, parent in self.spans:
            if parent >= 0:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (_, layer, s, e, _) in enumerate(self.spans):
            out[layer] += (e - s) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": n, "layer": lay, "start": s, "end": e, "parent": p}
                        for n, lay, s, e, p in self.spans
                    ],
                    "counts": dict(self.counts),
                },
                f,
            )


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping Spark's marker and
    checksum files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "tasks_per_job",
    "executor_run_s",
    "executor_cpu_s",
    "deserialize_s",
    "gc_s",
    "cpu_share",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Fold Spark's JSON event log into per-job-group totals.

    Jobs carry the group the benchmark set with ``setJobGroup``; every
    ``TaskEnd`` and ``StageCompleted`` is attributed to the group of the
    job that submitted its stage.  Jobs outside any group are left out."""
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    events: list[dict] = []
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    files = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if not n.startswith(("appstatus", ".")):
                idx = int(n.split("_")[1]) if n.startswith("events_") else 0
                files.append((root, idx, n))
    for root, _, n in sorted(files):
        with open(os.path.join(root, n)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                acc[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group:
                acc[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if not group or not m:
                continue
            a = acc[group]
            a["tasks"] += 1
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            a["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
    return {g: dict(v) for g, v in acc.items()}


def spark_totals(groups: dict[str, dict[str, float]], prefix: str = "") -> dict[str, float]:
    """Sum the folded groups whose name starts with ``prefix``; derive
    tasks per job and the executor CPU share of executor run time."""
    tot = {f: 0.0 for f in SPARK_FIELDS}
    for g, vals in groups.items():
        if g.startswith(prefix):
            for k, v in vals.items():
                tot[k] += v
    tot["tasks_per_job"] = tot["tasks"] / tot["jobs"] if tot["jobs"] else 0.0
    tot["cpu_share"] = (
        tot["executor_cpu_s"] / tot["executor_run_s"] if tot["executor_run_s"] else 0.0
    )
    return tot
