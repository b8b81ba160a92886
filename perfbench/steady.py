"""Steadiness and comparison tooling for the benchmark.

Repeat a workload over several seeds and print each metric's median,
quartiles and spread (quartile distance over median)::

    python3 perfbench/steady.py repeat --workload crawl_bulk --seeds 1-10 \\
        --out .bench_out/parent-crawl_bulk.jsonl

Compare a parent set of runs with a change set, one row per workload and
metric::

    python3 perfbench/steady.py compare .bench_out/parent-*.jsonl \\
        --change .bench_out/change-*.jsonl

Take the two sets close together in time, alternating between the parent
and the change checkout one seed at a time: on a shared virtual machine two
sets of the same code taken a quarter of an hour apart differed by up to
15 % in their medians.

A change wins a metric only when it beats the parent in at least 9 of every
10 seed-paired runs and the medians differ by more than the parent's
quartile distance. It regresses a metric when its median is worse than the
parent's by more than the metric's bound in BENCHMARK.json. A metric whose
parent spread exceeds its bound is reported as unresolved rather than
unchanged, unless every change run beats every parent run.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _benchmark() -> dict:
    with open("BENCHMARK.json") as f:
        return json.load(f)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def repeat(args) -> int:
    bench = _benchmark()
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds", str(seconds),
                                  "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=args.timeout)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        stats = json.loads(lines[-2].removeprefix("# stats "))
        run = {"workload": args.workload, "seed": seed, **result,
               "stats": stats}
        runs.append(run)
        print(f"seed {seed}: " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in sorted(
                result["metrics"].items()))
            + f", steal_share={stats.get('steal_share', 0):.3f}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(run) + "\n")
    _print_spreads(bench, runs)
    return 0


def _print_spreads(bench: dict, runs: list[dict]) -> None:
    print(f"\n{'metric':24} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name in sorted(runs[0]["metrics"]):
        xs = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = quartiles(xs)
        print(f"{name:24} {q2:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread(xs):8.3f} {bounds.get(name, float('nan')):6.2f}")


def _load(paths: list[str]) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    run = json.loads(line)
                    by_workload.setdefault(run["workload"], []).append(run)
    for runs in by_workload.values():
        runs.sort(key=lambda r: r["seed"])
    return by_workload


def verdict(parent: list[float], change: list[float], better: str,
            bound: float) -> str:
    sign = 1.0 if better == "higher" else -1.0
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    if wins >= 0.9 * len(pairs) and abs(c_med - p_med) > (p_q3 - p_q1):
        return f"better ({wins}/{len(pairs)} pairs)"
    if sign * (c_med - p_med) < -bound * abs(p_med):
        return f"worse than bound ({wins}/{len(pairs)} pairs won)"
    all_better = (min(change) > max(parent) if better == "higher"
                  else max(change) < min(parent))
    if spread(parent) > bound and not all_better:
        return "unresolved (parent spread above bound)"
    return f"within bound ({wins}/{len(pairs)} pairs won)"


def compare(args) -> int:
    bench = _benchmark()
    spec = {m["name"]: m for m in bench["end_to_end"]}
    parent, change = _load(args.parent), _load(args.change)
    worse = False
    print(f"{'workload':14} {'metric':24} {'parent med [q1,q3]':>30} "
          f"{'change med [q1,q3]':>30}  verdict")
    for wl in sorted(set(parent) & set(change)):
        for name, m in spec.items():
            p = [r["metrics"][name]["value"] for r in parent[wl]]
            c = [r["metrics"][name]["value"] for r in change[wl]]
            v = verdict(p, c, m["better"], m["bound"])
            worse |= v.startswith("worse")
            pq, cq = quartiles(p), quartiles(c)
            p_str = f"{pq[1]:.4g} [{pq[0]:.4g},{pq[2]:.4g}]"
            c_str = f"{cq[1]:.4g} [{cq[0]:.4g},{cq[2]:.4g}]"
            print(f"{wl:14} {name:24} {p_str:>30} {c_str:>30}  {v}")
    return 1 if worse else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("repeat", help="run one workload over several seeds")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    r.add_argument("--seconds", type=int, default=None)
    r.add_argument("--timeout", type=int, default=900)
    r.add_argument("--out", help="append each run's result here (JSONL)")
    c = sub.add_parser("compare", help="compare parent and change runs")
    c.add_argument("parent", nargs="+", help="JSONL files of parent runs")
    c.add_argument("--change", nargs="+", required=True,
                   help="JSONL files of change runs")
    args = ap.parse_args(argv)
    if not os.path.isfile("BENCHMARK.json"):
        print("run from the repository root (BENCHMARK.json not found)",
              file=sys.stderr)
        return 2
    return repeat(args) if args.cmd == "repeat" else compare(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
