"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures and prints every
end-to-end metric; ``--trace 1`` runs the same workload once untraced and
once with spans around every layer call, and prints the per-layer metrics
(see perfbench/README.md). Either way the run checks the program's outputs;
a failed check is counted in ``failed`` and makes the exit code 1. Exit
code 2 means the program under test is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_bulk", "crawl_rounds")


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "chrono_scraper_spark",
                                       "__init__.py")):
        print(f"perfbench: no chrono_scraper_spark package under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    # the benchmark's own modules and the package under test, for this
    # process and for the Python workers Spark starts
    for p in (HERE, root):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                        .split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    import harness
    import workloads

    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    ctx = None
    try:
        ctx = harness.Context.start(
            root=root, work=work, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), out_dir=out_dir, workload=args.workload,
            t_process_start=t_start)
        result = workloads.run(args.workload, ctx)
        ctx.close()
        if ctx.recorder is not None:
            import summary

            result["metrics"] = summary.per_layer(ctx)
            result.update(correct=ctx.ops.failed == 0,
                          attempted=max(1, ctx.ops.attempted),
                          failed=ctx.ops.failed)
            result["stats"]["failures"] = ctx.ops.failures
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx is not None:
            ctx.close()
        shutil.rmtree(work, ignore_errors=True)
    stats = result.pop("stats")
    print("# stats " + json.dumps(stats, sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
