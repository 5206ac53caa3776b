"""Span tracing for the traced benchmark run.

The tracer wraps public functions of ``sparksimjoin`` from outside (the
library is not edited): each call becomes a span (name, start, end,
parent, run id) and runs under its own Spark job group, so the event
log can attribute jobs, executor time, shuffle, spill and failed tasks
to the span that started them. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# (module, attribute) of the wrapped public functions, by layer
WRAPPED = [
    ("sparksimjoin.joins.core", "prepare_sides"),
    ("sparksimjoin.joins.core", "string_dedup_maps"),
    ("sparksimjoin.joins.core", "dup_factor"),
    ("sparksimjoin.joins.core", "prefix_meeting_estimate"),
    ("sparksimjoin.joins.core", "dense_band_pair_stats"),
    ("sparksimjoin.joins.core", "prefix_explode"),
    ("sparksimjoin.joins.core", "candidate_pairs"),
    ("sparksimjoin.joins.core", "verify_pairs"),
    ("sparksimjoin.clustering", "connected_components"),
]
# every module that may hold its own reference to a wrapped function
_IMPORTERS = [
    "sparksimjoin.joins.set_sim", "sparksimjoin.joins.tfidf", "sparksimjoin.joins.weighted",
    "sparksimjoin.joins.edit_distance", "sparksimjoin.joins.jaro", "sparksimjoin.dedup",
    "sparksimjoin.pipeline", "sparksimjoin.incremental",
]


class Tracer:
    """Spans of one run, in memory, plus the wrapping that records them."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self.run_id}:{sid}", "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]] if self._stack else None
            self._set_group(parent and parent["group"], parent and parent["name"])

    def _set_group(self, group, desc):
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", desc)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                # connected_components reports its rounds through the
                # CCStats the pipeline passes in
                stats = kwargs.get("stats")
                if stats is not None and hasattr(stats, "rounds"):
                    rec["cc_rounds"] = stats.rounds
                return out
        return traced

    def install(self) -> None:
        """Wrap every function in WRAPPED wherever a module refers to it,
        plus CheckpointManager.get_or_compute (one span per stage)."""
        import importlib

        for mod in {m for m, _ in WRAPPED} | set(_IMPORTERS):
            importlib.import_module(mod)
        for mod_name, attr in WRAPPED:
            orig = getattr(sys.modules[mod_name], attr)
            traced = self._wrap(orig, f"{mod_name.removeprefix('sparksimjoin.')}.{attr}")
            for name, mod in list(sys.modules.items()):
                if name.startswith("sparksimjoin") and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, traced)
                    self._undo.append((mod, attr, orig))
        from sparksimjoin.checkpoint import CheckpointManager

        orig_goc = CheckpointManager.get_or_compute
        tracer = self

        def get_or_compute(mgr, name, fn, *args, **kwargs):
            with tracer.span(f"checkpoint.{name}"):
                return orig_goc(mgr, name, fn, *args, **kwargs)

        CheckpointManager.get_or_compute = get_or_compute
        self._undo.append((CheckpointManager, "get_or_compute", orig_goc))

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)

    # ------------------------------------------------------------ analysis
    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]].append(s["id"])
        return out

    def subtree(self, sid: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s, []))
        return out

    def self_time(self, sid: int, kids: dict[int, list[int]]) -> float:
        s = self.spans[sid]
        return (s["end"] - s["start"]) - sum(
            self.spans[c]["end"] - self.spans[c]["start"] for c in kids.get(sid, []))

    def attach(self, group_metrics: dict[str, dict]) -> None:
        """Copy the event-log totals of each span's own job group onto it."""
        for s in self.spans:
            s.update(group_metrics.get(s["group"], {}))

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=0))


_TASK_KEYS = ("executor_run_s", "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "failed_tasks")


def parse_eventlog(path: Path) -> dict[str, dict]:
    """Per job group: jobs, executor run/CPU seconds, shuffle read/write
    MB, spilled MB and failed tasks, from an uncompressed event log (the
    TaskMetrics fields scripts/profile_scaling.py reads)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(("jobs", *_TASK_KEYS), 0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                a = out[group]
                m = ev.get("Task Metrics") or {}
                a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_mb"] += (sr.get("Local Bytes Read", 0)
                                         + sr.get("Remote Bytes Read", 0)) / 1e6
                a["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    / 1e6)
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    a["failed_tasks"] += 1
    return dict(out)


def subtree_totals(tracer: Tracer, sid: int, kids) -> dict[str, float]:
    """Event-log totals summed over a span and all its descendants."""
    tot = dict.fromkeys(("jobs", *_TASK_KEYS), 0.0)
    for s in tracer.subtree(sid, kids):
        for k in tot:
            tot[k] += tracer.spans[s].get(k, 0)
    return tot
