"""Open-loop stream replay: the streaming layer under a fixed offered rate.

Set-up writes FILE_TURNS-turn parquet files (1% re-delivered copies,
event time rising across files, so the 5-minute watermark drops nothing).
`streaming.stream_unify` watches an empty directory with a 1 s
processingTime trigger.  One file lands first and its micro-batch is
waited for (the cold start).  Then a generator thread renames one file
into the watched directory every INTERVAL_S seconds, on a schedule that
does not slow when the query slows, for OPEN_LOOP_S.  A file's latency
runs from when it was due to land to the commit of the micro-batch that
read it; how late the generator itself ran is reported apart.

The offered rate, FILE_TURNS / INTERVAL_S = 1500 turns/s, is about half of
the rate at which the stream drains the same files when they all land at
once (closed loop, after a warm-up replay):

    python3 perfbench/openloop.py --seed 1

On a 4-vCPU x86 VM that gave 2536 and 3148 turns/s landing-to-last-commit
(seeds 2 and 1), or 3928 and 4998 turns/s of busy micro-batch time: each
micro-batch pays a fixed cost of several seconds, so the stream runs its
batches back to back at this rate rather than idling between triggers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

import expect
import gen
import workloads as wl

FILE_TURNS = 375
INTERVAL_S = 0.25
OPEN_LOOP_S = 15
DRAIN_TIMEOUT_S = 60


def _batch_files(ckpt: str) -> dict[int, list[str]]:
    """Micro-batch id -> names of the files it read.  A batch's offset
    names the file source's log entry it read up to; the source log has
    its own numbering, as a batch that reads no new file (one that only
    advances the watermark) adds no entry to it.  Every tenth source log
    file is a compaction (`N.compact`) that repeats the entries before it."""
    offsets, src = os.path.join(ckpt, "offsets"), os.path.join(ckpt, "sources", "0")
    if not (os.path.isdir(src) and os.path.isdir(offsets)):
        return {}
    entries: dict[int, set[str]] = {}
    for f in os.listdir(src):
        if f.split(".")[0].isdigit():
            with open(os.path.join(src, f)) as fh:
                for x in fh.read().splitlines()[1:]:
                    e = json.loads(x)
                    entries.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    out, prev = {}, -1
    for b in sorted(int(f) for f in os.listdir(offsets) if f.isdigit()):
        with open(os.path.join(offsets, str(b))) as fh:
            log = json.loads(fh.read().splitlines()[2])["logOffset"]
        out[b] = [n for e in range(prev + 1, log + 1) for n in sorted(entries.get(e, ()))]
        prev = max(prev, log)
    return out


def _committed(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(f): os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d) if f.isdigit()}


def _wait_for(ckpt: str, names: set[str], timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        done = _committed(ckpt)
        files = _batch_files(ckpt)
        seen = {n for b, fs in files.items() if b in done for n in fs}
        if names <= seen:
            return True
        time.sleep(0.1)
    return False


def stream_checks(drained: bool, shipped: dict, want: dict, dropped: int,
                  want_dropped: int = 0) -> list[str]:
    """Every file read and committed, shipped rows per sink equal to the
    unique turns, and no row dropped by the watermark."""
    return (wl.diff("stream drained", drained, True)
            + wl.diff("stream rows per sink", shipped, want)
            + wl.diff("rows dropped by watermark", dropped, want_dropped))


def run(spark, seed: int, vals: dict, checks: list, closed: bool = False) -> None:
    """The open-loop replay.  With closed=True every file lands at once
    instead: the rate at which the stream drains the same files is what
    the offered rate is derived from."""
    from logunifier_spark.streaming.stream import (
        dead_letter_count,
        read_transcript_stream,
        stream_unify,
    )

    pool, watched = str(wl.WORK / "stream_pool"), str(wl.WORK / "stream_in")
    sink, ckpt = str(wl.WORK / "stream_sink"), str(wl.WORK / "stream_ckpt")
    for d in (pool, watched, sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(watched)
    n_files = 1 + int(OPEN_LOOP_S / INTERVAL_S)
    n_turns = n_files * FILE_TURNS
    stream_seed = seed + 2
    paths = gen.write_files(gen.turns(n_turns, stream_seed, dup_pct=1), pool, n_files,
                            prefix="turns")
    names = [os.path.basename(p) for p in paths]

    query = stream_unify(read_transcript_stream(spark, watched, max_files_per_trigger=10_000),
                         sink_path=sink, checkpoint_path=ckpt, trigger_seconds=1)
    try:
        os.rename(paths[0], os.path.join(watched, names[0]))
        if not _wait_for(ckpt, {names[0]}, DRAIN_TIMEOUT_S):
            raise RuntimeError("the stream's first micro-batch did not commit")
        warm_batch = max(_committed(ckpt))

        due: dict[str, float] = {}
        lags: list[float] = []

        def generator() -> None:
            t0 = time.time()
            for i in range(1, n_files):
                at = t0 if closed else t0 + (i - 1) * INTERVAL_S
                time.sleep(max(0.0, at - time.time()))
                os.rename(paths[i], os.path.join(watched, names[i]))
                lags.append(time.time() - at)
                due[names[i]] = at

        thread = threading.Thread(target=generator)
        thread.start()
        thread.join()
        drained = _wait_for(ckpt, set(names), DRAIN_TIMEOUT_S)
        progress = [p for p in query.recentProgress if p["batchId"] > warm_batch]
        dropped = dead_letter_count(query)
    finally:
        query.stop()

    done = _committed(ckpt)
    lat = sorted((done[b] - due[n]) * 1000.0
                 for b, fs in _batch_files(ckpt).items() if b in done
                 for n in fs if n in due)
    shipped = wl.sink_files(sink)[0]
    want = expect.sink_counts(gen.line_histogram(n_turns, stream_seed))
    checks.append(stream_checks(drained, shipped, want, dropped))

    busy = [p for p in progress if p["numInputRows"] > 0]
    # highest percentile with at least 10 samples beyond it
    k = max(0, len(lat) - 11)
    vals.update({
        "streaming.batches": len(busy),
        "streaming.add_batch_ms": _median_ms(busy, "addBatch"),
        "streaming.planning_ms": _median_ms(busy, "queryPlanning"),
        "streaming.commit_ms": _median_ms(busy, "commitOffsets"),
        "streaming.dropped_by_watermark": dropped,
        "streaming.busy_turns_per_s": (
            sum(p["numInputRows"] for p in busy)
            / max(1e-9, sum(p["durationMs"]["triggerExecution"] for p in busy) / 1000.0)),
        "streaming.latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "streaming.latency_tail_ms": lat[k] if lat else 0.0,
        "streaming.latency_tail_pct": 100.0 * (k + 1) / len(lat) if lat else 0.0,
        "streaming.offered_turns_per_s": FILE_TURNS / INTERVAL_S,
        "bench.generator_lag_ms": 1000.0 * max(lags) if lags else 0.0,
        # from the first file due to the last commit
        "sustained_turns_per_s": (n_turns - FILE_TURNS) / max(
            1e-9, max(done.values()) - min(due.values())),
    })
    if progress and progress[-1].get("stateOperators"):
        op = progress[-1]["stateOperators"][0]
        vals["streaming.state_rows"] = op.get("numRowsTotal", 0)
        vals["streaming.state_bytes"] = op.get("memoryUsedBytes", 0)


def _median_ms(progress: list, key: str) -> float:
    xs = [p["durationMs"].get(key, 0) for p in progress]
    return float(statistics.median(xs)) if xs else 0.0


def main() -> int:
    """Measure the closed-loop rate the offered rate is derived from."""
    import argparse
    import sys

    ap = argparse.ArgumentParser(description="closed-loop stream calibration")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, str(wl.ROOT))
    wl.reset_work()
    spark = wl.start_session()
    vals, checks = {}, []
    try:
        # the first replay warms the JVM and the Python workers up, as the
        # traced run's earlier jobs do; the second is reported
        for _ in range(2):
            run(spark, args.seed, vals, checks, closed=True)
    finally:
        wl.stop_session(spark)
    print(json.dumps({k: vals[k] for k in ("streaming.busy_turns_per_s", "sustained_turns_per_s",
                                           "streaming.batches", "streaming.add_batch_ms")}
                     | {"correct": not any(checks)}))
    return 0 if not any(checks) else 1


if __name__ == "__main__":
    raise SystemExit(main())
