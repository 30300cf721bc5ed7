"""logunify-spark benchmark.

    python3 perfbench/run.py --workload unify_agg --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Builds its inputs from --seed, runs the
workload on local[4]: Workload.WARM_UPS jobs (set-up), then jobs until
--seconds have passed and at least Workload.MIN_JOBS.  Only the first MIN_JOBS measured
jobs give cpu_s, so the figure comes from the same point of the JIT warm-up
curve however fast the jobs are.  Every job's output is checked.  The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics: cpu_s (median CPU seconds of the
process tree per job) and setup_s.  --trace 1 is a separate traced run that
reports every per-layer metric listed in BENCHMARK.json (see traced.py); a
layer the workload does not run reports 0.  Scratch data lives in
.perfbench_work/ in the checkout.  Exits non-zero without a result when the
program is missing or a run cannot complete.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

WORKLOADS = ("unify_agg", "sink_write")


def program_present() -> bool:
    return ((ROOT / "logunifier_spark" / "__init__.py").is_file()
            and (ROOT / "__spark_entry__.py").is_file())


def untraced(workload: str, seed: int, seconds: float) -> dict:
    import workloads as wl
    spark = wl.start_session()
    try:
        print(f"perfbench: session up at {time.perf_counter() - T_START:.3f} s", file=sys.stderr)
        w = (wl.UnifyAgg if workload == "unify_agg" else wl.SinkWrite)(spark, seed)
        warm = w.warm_up()
        setup_s = time.perf_counter() - T_START
        for i, op in enumerate(warm, 1):
            print(f"perfbench: {workload} warm-up {i}: {op.wall_s:.3f} s wall, "
                  f"{op.cpu_s:.2f} s cpu", file=sys.stderr)
        ops = []
        deadline = time.perf_counter() + seconds
        while len(ops) < w.MIN_JOBS or time.perf_counter() < deadline:
            op = w.job()
            op.discard()
            ops.append(op)
            print(f"perfbench: {workload} job {len(ops)}: {op.wall_s:.3f} s wall, "
                  f"{op.cpu_s:.2f} s cpu", file=sys.stderr)
    finally:
        wl.stop_session(spark)
    checked = warm + ops
    failed = 0
    for op in checked:
        if op.problems:
            failed += 1
            print(f"check failed: {op.problems}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {
            "cpu_s": {"value": wl.median([op.cpu_s for op in ops[:w.MIN_JOBS]]),
                      "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print("perfbench: logunifier_spark / __spark_entry__.py not found next to "
              "perfbench/; run from the root of a logunify-spark checkout",
              file=sys.stderr)
        return 2
    import workloads as wl
    wl.reset_work()
    if args.trace:
        import traced
        result = traced.run(args.workload, args.seed)
    else:
        result = untraced(args.workload, args.seed, args.seconds)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
