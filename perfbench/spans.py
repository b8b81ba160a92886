"""Span recorder, in-place wrappers and event-log parsing.

A span records its name, layer, start, end, parent span and run id. Spans
live in memory and are written to one JSON-lines file when the run ends.
Spans are opened only by the benchmark's own code: around calls into the
package's public functions, and around the eager ``SnapshotCatalog``
methods, which the traced run wraps in place.

Self time of a span is its duration minus the part of it that its child
spans cover. A layer's self time is the length of the union of its spans'
self intervals, so commits that run concurrently in the crawl's thread
pool are not counted twice and no layer can exceed the wall time.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.maxima: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads that have no open span of
        # their own (the crawl's commit pool): the innermost span open on
        # the thread that created the tracer
        self._ambient: list[int] = []
        self._main = threading.get_ident()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, *, job_tag: bool = False,
             spark=None, **attrs):
        """Open a span. ``job_tag`` labels every Spark job the body starts
        with the span id, so engine counters can be attributed exactly."""
        sid = next(self._ids)
        stack = self._stack()
        ambient = self._ambient[-1:]  # a slice: safe against a racing pop
        parent = stack[-1] if stack else (ambient[0] if ambient else None)
        rec = {"id": sid, "parent": parent, "run": self.run_id,
               "name": name, "layer": layer, "attrs": dict(attrs),
               "start_unix": time.time(), "start": time.perf_counter()}
        stack.append(sid)
        on_main = threading.get_ident() == self._main
        if on_main:
            self._ambient.append(sid)
        if job_tag:
            spark.sparkContext.setJobDescription(f"perfbench-span:{sid}")
        try:
            yield rec
        finally:
            if job_tag:
                spark.sparkContext.setJobDescription(None)
            rec["end"] = time.perf_counter()
            rec["end_unix"] = time.time()
            stack.pop()
            if on_main:
                self._ambient.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def peak(self, key: str, value: float) -> None:
        with self._lock:
            self.maxima[key] = max(self.maxima[key], value)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec, sort_keys=True) + "\n")


# ---------------------------------------------------------------------------
# self time
# ---------------------------------------------------------------------------
def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _subtract(span: tuple[float, float],
              cover: list[tuple[float, float]]) -> list[tuple[float, float]]:
    s, e = span
    out = []
    for cs, ce in cover:
        if ce <= s or cs >= e:
            continue
        if cs > s:
            out.append((s, cs))
        s = max(s, ce)
    if s < e:
        out.append((s, e))
    return out


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    children: dict[int, list[dict]] = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]].append(sp)
    per_layer: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        cover = _union([(c["start"], c["end"]) for c in children[sp["id"]]])
        per_layer[sp["layer"]].extend(
            _subtract((sp["start"], sp["end"]), cover))
    return {layer: sum(e - s for s, e in _union(iv))
            for layer, iv in per_layer.items()}


# ---------------------------------------------------------------------------
# the eager layers, wrapped in place: SnapshotCatalog methods and rounds
# ---------------------------------------------------------------------------
_CATALOG_METHODS = ("merge_not_matched", "commit", "append", "read")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


@contextmanager
def wrap_program(tracer: Tracer):
    """Record a span around every ``CrawlJob.run_round`` call and every
    SnapshotCatalog write and read, plus the bytes each write commits and
    the longest fragment chain seen. Restores the originals on exit."""
    from chrono_scraper_spark.plans.catalog import SnapshotCatalog
    from chrono_scraper_spark.plans.crawl import CrawlJob

    def catalog_method(name, orig):
        op = "merge" if name == "merge_not_matched" else name

        def wrapper(self, table, *args, **kwargs):
            with tracer.span(f"catalog.{op}:{table}", "catalog",
                             table=table):
                out = orig(self, table, *args, **kwargs)
            if name == "read":
                return out
            tracer.add(f"catalog.{op}_calls", 1)
            frags = out.get("fragments") or []
            if frags:
                tracer.add("catalog.bytes_written",
                           dir_bytes(os.path.join(self.root, frags[-1])))
            tracer.peak("catalog.fragments_max", len(frags))
            return out

        return wrapper

    def run_round(orig):
        def wrapper(self, round_idx, *args, **kwargs):
            with tracer.span(f"crawl.round:{round_idx}", "crawl") as sp:
                out = orig(self, round_idx, *args, **kwargs)
            sp["attrs"]["counters"] = out
            return out

        return wrapper

    originals = [(SnapshotCatalog, name, getattr(SnapshotCatalog, name))
                 for name in _CATALOG_METHODS]
    originals.append((CrawlJob, "run_round", CrawlJob.run_round))
    for cls, name, orig in originals:
        setattr(cls, name, run_round(orig) if name == "run_round"
                else catalog_method(name, orig))
    try:
        yield
    finally:
        for cls, name, orig in originals:
            setattr(cls, name, orig)


# ---------------------------------------------------------------------------
# Spark event log: engine counters per tagged span, jobs per time window
# ---------------------------------------------------------------------------
def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the application's log. Spark writes it as a
    directory of rolled ``events_<n>_<app>`` files."""
    files = []
    for dirpath, _dirs, names in os.walk(log_dir):
        for name in names:
            if name.startswith("events_"):
                files.append((int(name.split("_")[1]),
                              os.path.join(dirpath, name)))
            elif not name.startswith((".", "appstatus")):
                files.append((0, os.path.join(dirpath, name)))
    events = []
    for _n, path in sorted(files):
        with open(path) as f:
            for line in f:
                events.append(json.loads(line))
    return events


def engine_counters(events: list[dict]) -> tuple[dict, list[float]]:
    """Per tagged span id: executor CPU s, shuffle write MB, spill MB, GC s
    and the task durations; plus the submission time (unix s) of every job
    (tagged or not)."""
    stage_span: dict[int, int] = {}
    job_times: list[float] = []
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        job_times.append(ev.get("Submission Time", 0) / 1000.0)
        desc = (ev.get("Properties") or {}).get("spark.job.description", "")
        if desc.startswith("perfbench-span:"):
            sid = int(desc.split(":", 1)[1])
            for st in ev.get("Stage IDs", []):
                stage_span[st] = sid
    per_span: dict[int, dict] = defaultdict(lambda: {
        "cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "gc_s": 0.0, "task_s": []})
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = stage_span.get(ev.get("Stage ID"))
        if sid is None:
            continue
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        acc = per_span[sid]
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / 1e6
        acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)) / 1e6
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        if info.get("Finish Time") and info.get("Launch Time"):
            acc["task_s"].append(
                (info["Finish Time"] - info["Launch Time"]) / 1000.0)
    return dict(per_span), job_times
