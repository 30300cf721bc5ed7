"""The traced run: per-layer metrics, measured from outside the program.

Layers are the program's modules.  Three sources feed them:

- spans around calls into each layer's public functions (planwalk.Tracer),
  with `pipeline.unify` wrapped for the call's duration to time plan
  construction and the dedup probe;
- the executed plans' SQLMetrics and the stages' task metrics that Spark
  recorded for those spans;
- (sink_write) cumulative prefixes of the pipeline, each built only from
  public calls and each ending in an aggregate over parse-derived columns
  (Catalyst prunes an unused UDF): input -> parse_turns ->
  unify(dedup=False) -> unify() -> unify(pattern_labels) -> group-by.  A
  layer's self time is its prefix's wall minus the previous prefix's, from
  the second of two passes over the chain.

Reconciliation, checked with the stated tolerances: plan construction plus
the SQL executions' walls (plus the manifest read) must account for the
traced job's wall within RECONCILE_TOL, and task time summed over stages
may not exceed wall x slots by more than SLOT_TOL.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import expect
import gen
import openloop
import workloads as wl
from planwalk import Tracer, metric_sum
from proctree import RssPeak, descendants

RECONCILE_TOL = 0.25
SLOT_TOL = 0.05
KERNEL_BATCH = 20_000
PY_NODES = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
            "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "AggregateInPandas",
            "WindowInPandas", "FlatMapCoGroupsInPandas", "ArrowWindowPython"}

# every per-layer metric and its unit, as BENCHMARK.json lists them; a
# layer the workload does not run reports 0
with open(wl.ROOT / "BENCHMARK.json") as _fh:
    PER_LAYER: dict[str, str] = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}


def phase(name: str) -> None:
    print(f"perfbench: {name} done at {time.perf_counter() - T0:.1f} s", file=sys.stderr)


T0 = time.perf_counter()


def run(workload: str, seed: int) -> dict:
    vals = {k: 0.0 for k in PER_LAYER}
    t0 = time.perf_counter()
    spark = wl.start_session()
    vals["session.start_s"] = time.perf_counter() - t0
    checks: list[list[str]] = []
    try:
        if workload == "unify_agg":
            _unify_agg(spark, seed, vals, checks)
        else:
            _sink_write(spark, seed, vals, checks)
    finally:
        wl.stop_session(spark)
    failed = sum(1 for c in checks if c)
    for c in checks:
        if c:
            print(f"check failed: {c}", file=sys.stderr)
    vals["failed_frac"] = failed / len(checks)
    return {"correct": failed == 0, "attempted": len(checks), "failed": failed,
            "metrics": {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}}


def _traced_job(w, vals: dict, checks: list):
    """The same job untraced, traced, and untraced again: wall, memory,
    stage totals, trace overhead (traced wall minus the mean of the two
    untraced walls) and the reconciliation checks."""
    import logunifier_spark.pipeline as pipeline

    def untraced() -> float:
        op = w.job()
        op.discard()
        checks.append(op.problems)
        return op.wall_s

    checks.extend(op.problems for op in w.warm_up())
    phase("warm-up")
    walls_u = [untraced()]

    tracer = Tracer(w.spark)
    unify = pipeline.unify

    def traced_unify(*args, **kwargs):
        with tracer.span("unify"):
            return unify(*args, **kwargs)

    # run_resumable imports unify from the module at call time
    pipeline.unify = traced_unify
    try:
        with RssPeak() as rss:
            op = w.job(tracer)
    finally:
        pipeline.unify = unify
    checks.append(op.problems)
    wall_t = op.wall_s
    job = next(s for s in tracer.spans if s.name == "job")
    execs = tracer.executions(job)
    _plan_layers(execs, vals)
    # the parse UDF sees each unique turn once (sink_write dedups first)
    checks.append(wl.diff("parse.rows", vals["parse.rows"], w.n_unique))
    vals["mem.peak_rss_mb"] = rss.peak_kb / 1024
    walls_u.append(untraced())
    vals["bench.trace_overhead_s"] = wall_t - statistics.mean(walls_u)
    vals["job_s"] = statistics.mean(walls_u)
    vals["turns_per_s"] = w.n_input / vals["job_s"]
    st = tracer.stage_totals(job)
    vals["spark.task_s"], vals["spark.gc_s"] = st["task_s"], st["gc_s"]
    vals["spark.spill_bytes"] = st["spill_bytes"]
    vals["spark.slot_util"] = st["task_s"] / (wall_t * wl.CORES)
    # layer time = unify() plan construction (the dedup probe included)
    # + the SQL executions after it + the manifest read
    plan = next(s for s in tracer.spans if s.name == "unify")
    manifest = [s.wall_s for s in tracer.spans if s.name == "emit_run_metrics"]
    vals["pipeline.plan_s"] = plan.wall_s - sum(
        e.wall_s for e in execs if e.id in plan.executions)
    attributed = plan.wall_s + sum(manifest) + sum(
        e.wall_s for e in execs if e.id not in plan.executions)
    # the input is what the probe and the parse stage scan (not the
    # read-back of the written output)
    vals["input.bytes_read"] = sum(
        metric_sum([n for n in e.nodes.values() if n.name.startswith("Scan parquet")],
                   "size of files read")
        for e in execs if e.id in plan.executions or e.find("ArrowEvalPython"))
    vals["bench.reconcile_ratio"] = attributed / wall_t
    checks.append(reconcile(vals["bench.reconcile_ratio"], vals["spark.slot_util"]))
    phase("traced job")
    return tracer, op


def reconcile(ratio: float, slot_util: float) -> list[str]:
    """Layer time must account for the job wall within RECONCILE_TOL, and
    task time may not exceed wall x slots by more than SLOT_TOL."""
    return (wl.diff("layer time / job wall within tolerance",
                    abs(ratio - 1) <= RECONCILE_TOL, True)
            + wl.diff("task time <= wall x slots", slot_util <= 1 + SLOT_TOL, True))


def _plan_layers(execs, vals: dict) -> None:
    """Layer counts and busy times from the executed plans of one job."""
    for e in execs:
        py = e.find("ArrowEvalPython")
        vals["parse.python_s"] += metric_sum(py, "time to run Python workers")
        vals["parse.python_init_s"] += metric_sum(py, "time to initialize Python workers")
        vals["parse.python_boot_s"] += metric_sum(py, "time to start Python workers")
        vals["parse.bytes_sent"] += metric_sum(py, "data sent to Python workers")
        vals["parse.bytes_received"] += metric_sum(py, "data returned from Python workers")
        vals["parse.rows"] += metric_sum(py, "number of output rows")
        for n in e.find("Exchange"):
            written = n.metrics.get("shuffle bytes written", n.metrics.get("data size", 0.0))
            if "REPARTITION_BY_COL" in n.desc:
                vals["route.shuffle_bytes"] += written
                vals["route.shuffle_records"] += n.metrics.get("shuffle records written", 0.0)
            elif "_kh" in n.desc or ("conv_id" in n.desc and "turn_idx" in n.desc):
                vals["dedup.shuffle_bytes"] += written
        for n in e.find("BroadcastExchange"):
            if any(m.name == "HashAggregate" for m in e.below(n)):
                continue  # the duplicate-key set, part of dedup
            vals["enrich.broadcast_bytes"] += n.metrics.get("data size", 0.0)
            vals["enrich.broadcast_s"] += sum(n.metrics.get(k, 0.0) for k in (
                "time to collect", "time to build", "time to broadcast"))
        vals["dedup.dup_rows"] += metric_sum(
            [n for n in e.find("BroadcastHashJoin") if "LeftSemi" in n.desc],
            "number of output rows")


# ------------------------------------------------------------- unify_agg --

def _unify_agg(spark, seed: int, vals: dict, checks: list) -> None:
    w = wl.UnifyAgg(spark, seed)
    tracer, _ = _traced_job(w, vals, checks)
    _parse_kernel(seed, vals)
    phase("parse kernel")
    _one_core(w, vals, checks)
    phase("one-core job")
    _operators(tracer, vals, checks)
    phase("operator queries")
    tracer.dump(wl.WORK / "spans-unify_agg.json")


def _one_core(w, vals: dict, checks: list) -> None:
    """The unify_agg job with this process and all its descendants (JVM,
    Python workers) pinned to one CPU by taskset."""
    allowed = sorted(os.sched_getaffinity(0))
    _taskset(str(allowed[0]), descendants(os.getpid()))
    try:
        op = w.job()
    finally:
        _taskset(",".join(map(str, allowed)), descendants(os.getpid()))
    checks.append(op.problems)
    vals["scaling.one_core_turns_per_s"] = w.n_input / op.wall_s


def _taskset(cpus: str, pids: list[int]) -> None:
    for p in pids:
        subprocess.run(["taskset", "-a", "-p", "-c", cpus, str(p)],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=False)


def _operators(tracer: Tracer, vals: dict, checks: list) -> None:
    """One traced pass over the six operator queries."""
    om = wl.OperatorMix(tracer.spark)
    _, problems, per_query = om.run_pass(tracer)
    checks.append(problems)
    for sp in tracer.spans:
        if sp.name not in per_query:
            continue
        vals[f"operators.{sp.name}.s"] = per_query[sp.name]
        vals[f"operators.{sp.name}.jobs"] = tracer.stage_totals(sp)["jobs"]
        for e in tracer.executions(sp):
            py = [n for n in e.nodes.values() if n.name in PY_NODES]
            vals["operators.python_s"] += metric_sum(py, "time to run Python workers")
            vals["operators.python_bytes"] += (
                metric_sum(py, "data sent to Python workers")
                + metric_sum(py, "data returned from Python workers"))


# ------------------------------------------------------------ sink_write --

def _sink_write(spark, seed: int, vals: dict, checks: list) -> None:
    w = wl.SinkWrite(spark, seed)
    tracer, op = _traced_job(w, vals, checks)
    out = op.out
    by_name = {s.name: s for s in tracer.spans}
    vals["dedup.probe_s"] = by_name["unify"].wall_s
    vals["checkpoint.manifest_s"] = by_name["emit_run_metrics"].wall_s
    execs = tracer.executions(by_name["run_resumable"])
    write = next(e for e in execs if any(
        n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")
        for n in e.nodes.values()))
    vals["route.write_s"] = write.wall_s
    vals["checkpoint.readback_s"] = sum(e.wall_s for e in execs if e.id > write.id)
    _, vals["sink_files"], vals["sink_bytes"] = wl.sink_files(os.path.join(out, "data"))
    vals["route.files"], vals["route.bytes"] = vals["sink_files"], vals["sink_bytes"]
    vals["checkpoint.ranges"] = len(os.listdir(os.path.join(out, "_lineage")))
    _route_skew(out, vals)
    op.discard()
    _prefix_chain(spark, w, tracer, vals, checks)
    phase("prefix chain")
    openloop.run(spark, seed, vals, checks)
    phase("open-loop stream")
    tracer.dump(wl.WORK / "spans-sink_write.json")


def _route_skew(out: str, vals: dict) -> None:
    ids = [pq.read_table(os.path.join(d, f), columns=["route_partition"])
           .column("route_partition").to_numpy()
           for d, _, names in os.walk(os.path.join(out, "data"))
           for f in names if f.endswith(".parquet")]
    counts = np.bincount(np.concatenate(ids))
    counts = counts[counts > 0]
    vals["route.partition_skew"] = float(counts.max() / np.median(counts))


PREFIXES = ("input", "parse", "validate", "dedup", "enrich", "aggregate")


def prefix_steps(spark, input_path: str) -> dict:
    """Prefix name -> a call that runs it and returns what its check
    compares: the cumulative prefixes of the pipeline, built from public
    calls, each ending in an aggregate over parse-derived columns."""
    from pyspark.sql import functions as F

    from logunifier_spark.operators.enrich import default_pattern_labels
    from logunifier_spark.operators.parse import parse_turns
    from logunifier_spark.pipeline import resolve_pattern_key, unify

    labels = default_pattern_labels(spark)
    src = lambda: spark.read.parquet(input_path)  # noqa: E731

    # every unify prefix reads the same columns (the sink too, once it
    # exists), so no prefix is cheaper for Catalyst pruning more of it
    def aggs(u):
        return [F.count("*"), F.sum(F.length("message")), F.count("timestamp"),
                F.count("process_error_reason"), F.count("validation_errors")] + (
            [F.count("sink")] if "sink" in u.columns else [])

    def counts(u):
        r = u.agg(*aggs(u)).collect()[0]
        return int(r[0]), (int(r[3]), int(r[4]))

    def grouped(u):
        rows = u.groupBy("sink", "log_level").agg(*aggs(u)).collect()
        return ({(r[0], r[1]): (int(r[2]), int(r[3]), int(r[4])) for r in rows},
                (sum(int(r[5]) for r in rows), sum(int(r[6]) for r in rows)))

    def parsed():
        p = parse_turns(F.col("text"), resolve_pattern_key(F.col("tool")))
        r = (src().select(p.alias("p"))
             .agg(F.count("*"), F.sum(F.length("p.message")), F.count("p.parse_error"))
             .collect()[0])
        return int(r[0]), int(r[2])

    return {
        "input": lambda: src().agg(F.count("*"), F.sum(F.length("text"))).collect()[0][0],
        "parse": parsed,
        "validate": lambda: counts(unify(src(), dedup=False)),
        "dedup": lambda: counts(unify(src())),
        "enrich": lambda: counts(unify(src(), pattern_labels=labels)),
        "aggregate": lambda: grouped(unify(src(), pattern_labels=labels)),
    }


def prefix_wants(w) -> dict:
    """Prefix name -> its expected result on sink_write's input: rows in
    and out, (process, validation) error rows, the (sink, log_level)
    aggregate."""
    hist_in = gen.line_histogram(w.n_unique, w.seed, w.DUP_PCT)
    errs_in, errs = expect.error_rows(hist_in), expect.error_rows(w.hist)
    return {
        "input": w.n_input,
        "parse": w.n_input,
        "validate": (w.n_input, errs_in),
        "dedup": (w.n_unique, errs),
        "enrich": (w.n_unique, errs),
        "aggregate": (expect.sink_level_agg(w.hist), errs),
    }


def prefix_check(name: str, got, want) -> list[str]:
    if name == "parse":
        got = got[0]  # (rows, parse errors); the errors are reported
    return wl.diff(f"prefix {name}", got, want)


def _prefix_chain(spark, w, tracer: Tracer, vals: dict, checks: list) -> None:
    steps, wants = prefix_steps(spark, w.input), prefix_wants(w)
    # the chain runs twice and the second pass is timed: a prefix's first
    # run pays for compiling its plan, which the next prefix partly reuses
    walls = {}
    for _ in range(2):
        for name in PREFIXES:
            with tracer.span(f"prefix.{name}") as sp:
                res = steps[name]()
            walls[name] = sp.wall_s
            checks.append(prefix_check(name, res, wants[name]))
            if name == "parse":
                vals["parse.error_rows"] = res[1]
            if name == "dedup":
                vals["validate.error_rows"] = res[1][1]
    vals["input.self_s"] = walls["input"]
    for before, layer in zip(PREFIXES, PREFIXES[1:]):
        vals[f"{layer}.self_s"] = walls[layer] - walls[before]
    # the write execution plus the probe is the enrich prefix with the
    # routing exchange and the partitioned write in place of its aggregate
    vals["route.self_s"] = vals["route.write_s"] + vals["dedup.probe_s"] - walls["enrich"]


def _parse_kernel(seed: int, vals: dict) -> None:
    """parse_batch called in-process on 20k-row batches: all lines, then
    only the grok, logfmt and nop families."""
    import pandas as pd

    from logunifier_spark.functions.levels import STRING_TO_PATTERN_KEY
    from logunifier_spark.operators.parse import parse_batch

    families = {"": None, ".grok": {"tslevelmsg", "envoy", "traefik"},
                ".logfmt": {"logfmt"}, ".nop": {"nop"}}
    for suffix, tools in families.items():
        lines = [i for i, t in enumerate(expect.TOOLS) if tools is None or t in tools]
        pick = np.array(lines)[gen.mix(np.arange(KERNEL_BATCH), seed, 4) % len(lines)]
        text = pd.Series(np.array(expect.TEXTS, dtype=object)[pick])
        keys = pd.Series(np.array([STRING_TO_PATTERN_KEY[t] for t in expect.TOOLS],
                                  dtype=object)[pick])
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            parse_batch(text, keys)
            times.append(time.perf_counter() - t0)
        vals[f"parse.kernel_rows_per_s{suffix}"] = KERNEL_BATCH / statistics.median(times)
