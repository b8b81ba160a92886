"""Per-layer metrics of a traced run, computed once Spark has stopped (the
event log is complete only then).

Every traced run prints every metric in ``PER_LAYER``; a layer the
workload does not exercise reads 0 (``streaming`` in ``crawl_bulk``, and
each traced run times only its share of the headline ``queries``).
"""

from __future__ import annotations

import os
import statistics

import spans
from headline import HEADLINE_QUERIES
from replay import LAYERS as STAGED_LAYERS

CRAWL_PHASES = ("discover_dedup_decide", "schedule_order", "fetch_extract",
                "commit_tables", "commit_frontier", "commit_filtered_log")
ENGINE = (("executor_cpu_s", "s"), ("shuffle_write_mb", "MB"),
          ("spill_mb", "MB"), ("gc_s", "s"), ("task_skew", "ratio"))
SELF_LAYERS = ("crawl", "catalog", "sources", "dedup", "filters",
               "politeness", "extraction", "index", "streaming", "queries")

PER_LAYER: list[tuple[str, str, str]] = [
    *[(f"crawl.{p}_s", "s", "lower") for p in CRAWL_PHASES],
    ("crawl.rounds", "count", "lower"),
    ("crawl.jobs_per_round", "count", "lower"),
    ("sources.discover_s", "s", "lower"),
    ("sources.discovered_rows", "count", "higher"),
    ("filters.decide_s", "s", "lower"),
    ("filters.pending_ratio", "ratio", "higher"),
    ("dedup.seen_antijoin_s", "s", "lower"),
    ("dedup.removed_ratio", "ratio", "higher"),
    ("dedup.digest_collapse_ratio", "ratio", "higher"),
    ("politeness.schedule_s", "s", "lower"),
    ("politeness.global_order_s", "s", "lower"),
    ("politeness.scheduled_ratio", "ratio", "higher"),
    ("extraction.busy_s", "s", "lower"),
    ("extraction.pages_per_s", "pages/s", "higher"),
    ("extraction.completed_ratio", "ratio", "higher"),
    ("index.build_s", "s", "lower"),
    ("index.postings", "count", "higher"),
    ("index.search_plan_ms", "ms", "lower"),
    ("index.search_exec_ms", "ms", "lower"),
    ("catalog.merge_s", "s", "lower"),
    ("catalog.commit_s", "s", "lower"),
    ("catalog.append_s", "s", "lower"),
    ("catalog.merge_calls", "count", "lower"),
    ("catalog.bytes_written", "B", "lower"),
    ("catalog.fragments_max", "count", "lower"),
    ("catalog.read_ms", "ms", "lower"),
    ("streaming.round_s", "s", "lower"),
    *[(f"queries.{q}_ms", "ms", "lower") for q in HEADLINE_QUERIES],
    ("queries.pass_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    *[(f"{layer}.{m}", unit, "lower")
      for layer in STAGED_LAYERS for m, unit in ENGINE],
    *[(f"selftime.{layer}_s", "s", "lower") for layer in SELF_LAYERS],
    ("trace.untraced_s", "s", "lower"),
    ("trace.traced_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _union_s(sps: list[dict]) -> float:
    return sum(e - s for s, e in spans._union([(sp["start"], sp["end"])
                                                for sp in sps]))


def per_layer(ctx) -> dict:
    """Compute every PER_LAYER metric, write the span file, and check that
    no layer's self time exceeds the traced run's wall time."""
    tr, info = ctx.recorder, ctx.trace_info
    sps = tr.spans
    tr.write(os.path.join(ctx.out_dir,
                          f"spans-{ctx.workload}-{ctx.seed}.jsonl"))
    by_name: dict[str, list[dict]] = {}
    for sp in sps:
        by_name.setdefault(sp["name"], []).append(sp)

    def total(name: str) -> float:
        return sum(_dur(sp) for sp in by_name.get(name, []))

    n = info["replay"]
    v: dict[str, float] = {}
    rounds = [sp for sp in sps if sp["name"].startswith("crawl.round:")]
    for p in CRAWL_PHASES:
        v[f"crawl.{p}_s"] = sum(sp["attrs"]["counters"].get("timings", {})
                                .get(p, 0.0) for sp in rounds)
    v["crawl.rounds"] = len(rounds)

    per_span, job_times = spans.engine_counters(
        spans.read_event_log(ctx.event_log_dir))
    jobs = sum(1 for t in job_times for sp in rounds
               if sp["start_unix"] <= t <= sp["end_unix"])
    v["crawl.jobs_per_round"] = jobs / max(1, len(rounds))

    v["sources.discover_s"] = total("sources.discover")
    v["sources.discovered_rows"] = n["discovered"]
    v["filters.decide_s"] = total("filters.decide")
    v["filters.pending_ratio"] = n["pending"] / max(1, n["decided"])
    v["dedup.seen_antijoin_s"] = total("dedup.seen_antijoin")
    v["dedup.removed_ratio"] = (n["probed"] - n["new"]) / max(1, n["probed"])
    v["dedup.digest_collapse_ratio"] = (
        (n["discovered"] - n["collapsed"]) / max(1, n["discovered"]))
    v["politeness.schedule_s"] = total("politeness.schedule")
    v["politeness.global_order_s"] = total("politeness.global_order")
    v["politeness.scheduled_ratio"] = n["scheduled"] / max(1, n["pending"])
    busy = total("extraction.fetch_extract")
    v["extraction.busy_s"] = busy
    v["extraction.pages_per_s"] = n["extracted"] / busy if busy else 0.0
    v["extraction.completed_ratio"] = n["completed"] / max(1, n["extracted"])
    v["index.build_s"] = total("index.build")
    v["index.postings"] = n["postings"]
    v["index.search_plan_ms"] = statistics.median(info.get("plan_ms") or [0])
    v["index.search_exec_ms"] = statistics.median(info.get("exec_ms") or [0])

    for op in ("merge", "commit", "append"):
        v[f"catalog.{op}_s"] = _union_s(
            [sp for sp in sps if sp["name"].startswith(f"catalog.{op}:")])
    v["catalog.merge_calls"] = tr.counts.get("catalog.merge_calls", 0)
    v["catalog.bytes_written"] = tr.counts.get("catalog.bytes_written", 0)
    v["catalog.fragments_max"] = tr.maxima.get("catalog.fragments_max", 0)
    v["catalog.read_ms"] = 1e3 * sum(
        _dur(sp) for sp in sps if sp["name"].startswith("catalog.read:"))

    stream_rounds = [_dur(sp) for sp in by_name.get("streaming.round", [])]
    v["streaming.round_s"] = (statistics.median(stream_rounds)
                              if stream_rounds else 0.0)
    q_ms = info.get("queries_ms", {})
    for q in HEADLINE_QUERIES:
        v[f"queries.{q}_ms"] = q_ms.get(q, 0.0)
    v["queries.pass_s"] = sum(q_ms.values()) / 1e3
    v["session.start_s"] = ctx.session_start_s

    layer_of = {sp["id"]: sp["layer"] for sp in sps}
    for layer in STAGED_LAYERS:
        mine = [c for sid, c in per_span.items() if layer_of.get(sid) == layer]
        tasks = [t for c in mine for t in c["task_s"]]
        v[f"{layer}.executor_cpu_s"] = sum(c["cpu_s"] for c in mine)
        v[f"{layer}.shuffle_write_mb"] = sum(c["shuffle_write_mb"]
                                             for c in mine)
        v[f"{layer}.spill_mb"] = sum(c["spill_mb"] for c in mine)
        v[f"{layer}.gc_s"] = sum(c["gc_s"] for c in mine)
        med = statistics.median(tasks) if tasks else 0.0
        v[f"{layer}.task_skew"] = max(tasks) / med if med > 0 else 0.0

    self_s = spans.layer_self_seconds(sps)
    for layer in SELF_LAYERS:
        v[f"selftime.{layer}_s"] = self_s.get(layer, 0.0)
        ctx.ops.check(self_s.get(layer, 0.0) <= info["wall_s"],
                      f"self time of {layer} exceeds the wall time")
    v["trace.untraced_s"] = info["untraced_s"]
    v["trace.traced_s"] = info["traced_s"]
    v["trace.overhead_s"] = info["traced_s"] - info["untraced_s"]
    return {name: {"value": float(v[name]), "unit": unit}
            for name, unit, _better in PER_LAYER}
