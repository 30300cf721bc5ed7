"""The benchmark's workloads and the session they run in.

unify_agg    — generated turns built in memory (a Range leaf, no file scan,
               so unify() runs no dedup probe) -> unify(pattern_labels) ->
               (sink, log_level) aggregate.  The parse UDF dominates.
sink_write   — the production path of jobs/run_pipeline.py: parquet input
               with 1% re-delivered copies -> checkpoint.run_resumable into
               a fresh base path -> emit_run_metrics.
OperatorMix  — one pass over six __spark_entry__ queries on the fixed
               tables in perfbench/data/sf0.01 (measured in traced runs).

Every operation's output is checked; a wrong result counts as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

import expect
import gen
import proctree
from canon import value_hash

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SF_DIR = str(HERE / "data" / "sf0.01")
CORES = 4
OPERATOR_QUERIES = ["dedup_components", "user_pagerank", "embedding_neardup",
                    "semdedup_pairs", "ann_ivfpq", "paragraph_dedup"]


def configure_env(cores: int) -> None:
    """Point every scratch path of Spark, its JVM and its Python workers
    into the checkout, and keep the console to errors only.  Must run
    before pyspark starts a JVM."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "3g",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell"]),
    })
    tempfile.tempdir = str(tmp)


def start_session(cores: int = CORES):
    configure_env(cores)
    from logunifier_spark.session import get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for the JVM to exit.  Only
    at the end of a process: UDF objects keep handles into the JVM, so no
    session can follow in the same process."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def sink_level_agg(u) -> dict:
    """The unify_agg aggregate: (sink, log_level) -> (rows, message chars,
    timestamps)."""
    from pyspark.sql import functions as F
    rows = (u.groupBy("sink", "log_level")
             .agg(F.count("*"), F.sum(F.length("message")), F.count("timestamp"))
             .collect())
    return {(r[0], r[1]): (int(r[2]), int(r[3] or 0), int(r[4])) for r in rows}


def diff(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got}, expected {want}"]


def median(xs) -> float:
    return float(statistics.median(xs))


@dataclass
class Op:
    """One timed operation: wall and process-tree CPU seconds of the calls
    into the program, and what its output check found."""
    wall_s: float
    cpu_s: float
    problems: list[str]
    out: str | None = None

    def discard(self) -> None:
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)


@contextmanager
def measured():
    """Yields a dict that holds wall_s and cpu_s once the block ends."""
    m = {}
    wall0, cpu0 = time.perf_counter(), proctree.cpu_s()
    yield m
    m["wall_s"], m["cpu_s"] = time.perf_counter() - wall0, proctree.cpu_s() - cpu0


class Workload:
    # jobs keep getting cheaper for ~5-7 jobs while the JIT compiles
    # (process-tree CPU per job in one sink_write run: 67, 23, 19, 18, 14,
    # 11, 10, 9 s); every run warms up with the same number of jobs and then
    # measures the same number, so each figure comes from the same point of
    # that curve.  More warm-ups did not narrow the spread between runs on a
    # busy host and would not fit the runs into the benchmark's time budget.
    WARM_UPS = 2
    MIN_JOBS = 2

    def warm_up(self) -> list[Op]:
        """Untimed jobs on the same input (JIT, code generation and the
        Python workers' start), checked like the timed ones."""
        ops = []
        for _ in range(self.WARM_UPS):
            ops.append(self.job())
            ops[-1].discard()
        return ops


class UnifyAgg(Workload):
    N_TURNS = 50_000
    # over ten runs the third job's CPU spread 9.4-18.1 s, the fourth's
    # 10.5-13.3 s: measure from the fourth on
    WARM_UPS = 3

    def __init__(self, spark, seed: int):
        from logunifier_spark.operators.enrich import default_pattern_labels
        self.spark = spark
        self.seed = seed
        self.n_input = self.n_unique = self.N_TURNS
        self.expected = expect.sink_level_agg(gen.line_histogram(self.N_TURNS, seed))
        self.labels = default_pattern_labels(spark)

    def job(self, tracer=None) -> Op:
        from logunifier_spark.pipeline import unify
        span = tracer.span if tracer else _no_span
        with measured() as m, span("job"):
            frame = gen.spark_frame(self.spark, self.N_TURNS, self.seed, CORES)
            got = sink_level_agg(unify(frame, pattern_labels=self.labels))
        return Op(m["wall_s"], m["cpu_s"],
                  diff("(sink, log_level) aggregate", got, self.expected))


class SinkWrite(Workload):
    N_TURNS = 20_000
    DUP_PCT = 1
    N_FILES = 8
    N_RANGES = 8

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.hist = gen.line_histogram(self.N_TURNS, seed)
        self.expected = expect.sink_counts(self.hist)
        table = gen.turns(self.N_TURNS, seed, self.DUP_PCT)
        self.n_input, self.n_unique = table.num_rows, self.N_TURNS
        self.input = str(WORK / "input")
        gen.write_files(table, self.input, self.N_FILES)
        self._n = 0

    def job(self, tracer=None) -> Op:
        """One timed run into a fresh base path; the caller discards it."""
        from logunifier_spark.checkpoint import emit_run_metrics, run_resumable
        span = tracer.span if tracer else _no_span
        self._n += 1
        out = str(WORK / "out" / f"job{self._n}")
        with measured() as m, span("job"):
            with span("input"):
                df = self.spark.read.parquet(self.input)
            with span("run_resumable"):
                manifests = run_resumable(self.spark, df, out,
                                          n_ranges=self.N_RANGES, run_id="perfbench")
            with span("emit_run_metrics"):
                metrics = emit_run_metrics(out)
        self._last = (manifests, metrics)
        return Op(m["wall_s"], m["cpu_s"], self.check(out, self.expected, self.N_RANGES), out)

    def check(self, out: str, want: dict, n_ranges: int) -> list[str]:
        """Manifests, run metrics and a footer re-read of the written files
        must all equal the unique turns per sink, over n_ranges ranges."""
        manifests, metrics = self._last
        from_manifests: dict[str, int] = {}
        for m in manifests:
            for k, v in m.sinks.items():
                from_manifests[k] = from_manifests.get(k, 0) + v
        on_disk = sink_files(os.path.join(out, "data"))[0]
        return (diff("manifest sinks", from_manifests, want)
                + diff("run_metrics sinks", metrics["sinks"], want)
                + diff("run_metrics ranges", metrics["ranges"], n_ranges)
                + diff("re-read sinks", on_disk, want))


def sink_files(data_dir: str) -> tuple[dict[str, int], int, int]:
    """Rows per sink from the parquet footers under a `sink=` partitioned
    directory, plus the number and bytes of the data files."""
    rows: dict[str, int] = {}
    files = size = 0
    for dirpath, _, names in os.walk(data_dir):
        sink = next((p[5:] for p in Path(dirpath).parts if p.startswith("sink=")), None)
        for f in names:
            if not f.endswith(".parquet") or sink is None:
                continue
            p = os.path.join(dirpath, f)
            rows[sink] = rows.get(sink, 0) + pq.read_metadata(p).num_rows
            files += 1
            size += os.path.getsize(p)
    return rows, files, size


class OperatorMix:
    def __init__(self, spark):
        import __spark_entry__ as entry
        self.spark = spark
        self.queries = entry.queries()
        with open(HERE / "oracle_hashes.json") as fh:
            self.oracles = json.load(fh)["queries"]

    def query(self, name: str) -> tuple[float, list[str]]:
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, SF_DIR)
        rows = df.collect()
        wall = time.perf_counter() - t0
        want = self.oracles[name]
        problems = (diff(f"{name} rows", len(rows), want["rows"])
                    + diff(f"{name} value hash", value_hash(rows, df.columns), want["hash"]))
        return wall, problems

    def run_pass(self, tracer=None) -> tuple[float, list[str], dict[str, float]]:
        span = tracer.span if tracer else _no_span
        per_query, problems = {}, []
        for name in OPERATOR_QUERIES:
            with span(name):
                wall, p = self.query(name)
            per_query[name] = wall
            problems += p
        return sum(per_query.values()), problems, per_query


def _no_span(name: str):
    return nullcontext()


def reset_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)

