"""Seeded transcript generator owned by the benchmark.

Turn `row` of a run with seed `s` is a pure function of (row, s):

- its golden line is `mix(row, s, 0) % 20`;
- 600-row regions are hot with probability 30% (`mix(region, s, 1)`); a hot
  region is one conversation of 600 turns, a cold one is 30 conversations
  of 20, so ~1.4% of the conversations hold ~30% of the turns;
- its role is `mix(row, s, 2) % 4`, its event time BASE + 10 ms * row;
- with `dup_pct` > 0, rows with `mix(row, s, 3) % 100 < dup_pct` are
  re-delivered as exact copies `REDELIVERY_LAG` rows later in file order.

`mix` is a 31-bit multiplicative hash whose products stay below 2^63, so
the same integer arithmetic runs in numpy (files, expectations) and as
Spark Columns (`spark_frame`, the in-memory input that never touches a
file).  The program only ever receives the frames and files made here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from expect import N_LINES, TEXTS, TOOLS

M31 = 1 << 31
TURNS_PER_CONV = 20
HOT_FACTOR = 30
HOT_PCT = 30
ROLES = ["user", "assistant", "tool", "system"]
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_STEP_US = 10_000
REDELIVERY_LAG = 1000


def mix(x, seed: int, salt: int):
    """31-bit hash of an int64 array (or Column: see `_mix_col`)."""
    a = (x + (seed % M31) * 40503 + salt * 1000003) % M31
    h = (a * 2654435761) % M31
    h = h ^ (h >> 13)
    h = (h * 2246822519) % M31
    return h ^ (h >> 16)


def _fields(rows: np.ndarray, seed: int) -> dict[str, np.ndarray]:
    region = rows // (TURNS_PER_CONV * HOT_FACTOR)
    hot = mix(region, seed, 1) % 100 < HOT_PCT
    conv_seq = np.where(hot, region * HOT_FACTOR, rows // TURNS_PER_CONV)
    return {
        "conv_seq": conv_seq,
        "turn_idx": rows - conv_seq * TURNS_PER_CONV,
        "line": mix(rows, seed, 0) % N_LINES,
        "role": mix(rows, seed, 2) % len(ROLES),
    }


def file_rows(n: int, seed: int, dup_pct: int = 0) -> np.ndarray:
    """Row ids in file order: the n unique turns plus re-delivered copies."""
    rows = np.arange(n, dtype=np.int64)
    if not dup_pct:
        return rows
    dup = rows[mix(rows, seed, 3) % 100 < dup_pct]
    order_key = np.concatenate([rows * 2, (dup + REDELIVERY_LAG) * 2 + 1])
    return np.concatenate([rows, dup])[np.argsort(order_key, kind="stable")]


def line_histogram(n: int, seed: int, dup_pct: int = 0) -> np.ndarray:
    """Turns per golden line among the n unique turns (and their copies
    when dup_pct > 0)."""
    return np.bincount(mix(file_rows(n, seed, dup_pct), seed, 0) % N_LINES,
                       minlength=N_LINES)


def turns(n: int, seed: int, dup_pct: int = 0) -> pa.Table:
    """n unique turns in file order, plus the re-delivered copies."""
    rows = file_rows(n, seed, dup_pct)
    f = _fields(rows, seed)
    conv = pc.binary_join_element_wise(
        "conv", pc.utf8_lpad(pc.cast(pa.array(f["conv_seq"]), pa.string()), 8, "0"), "")
    line = pa.array(f["line"].astype(np.int32))
    return pa.table({
        "conv_id": conv,
        "turn_idx": pa.array(f["turn_idx"].astype(np.int32)),
        "role": pc.take(pa.array(ROLES), pa.array(f["role"].astype(np.int32))),
        "text": pc.take(pa.array(TEXTS), line),
        "tool": pc.take(pa.array(TOOLS), line),
        "ts": pa.array(BASE_US + rows * TS_STEP_US, type=pa.timestamp("us", tz="UTC")),
    })


def write_files(table: pa.Table, out_dir: str, n_files: int,
                prefix: str = "part") -> list[str]:
    """Split `table` into n_files contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths


def _mix_col(x, seed: int, salt: int):
    from pyspark.sql import functions as F
    a = F.pmod(x + F.lit((seed % M31) * 40503 + salt * 1000003), F.lit(M31))
    h = F.pmod(a * F.lit(2654435761), F.lit(M31))
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = F.pmod(h * F.lit(2246822519), F.lit(M31))
    return h.bitwiseXOR(F.shiftright(h, 16))


def spark_frame(spark, n: int, seed: int, partitions: int):
    """The n unique turns as an in-memory Spark frame (a Range leaf, so the
    program sees no file-backed input)."""
    from pyspark.sql import functions as F
    row = F.col("id")
    region = F.floor(row / (TURNS_PER_CONV * HOT_FACTOR))
    hot = F.pmod(_mix_col(region, seed, 1), F.lit(100)) < HOT_PCT
    conv_seq = F.when(hot, region * HOT_FACTOR).otherwise(F.floor(row / TURNS_PER_CONV))
    line = (F.pmod(_mix_col(row, seed, 0), F.lit(N_LINES)) + 1).cast("int")
    role = (F.pmod(_mix_col(row, seed, 2), F.lit(len(ROLES))) + 1).cast("int")
    df = spark.range(0, n, numPartitions=partitions).select(
        row, conv_seq.alias("conv_seq"), line.alias("line"), role.alias("role"))
    return df.select(
        F.format_string("conv%08d", F.col("conv_seq")).alias("conv_id"),
        (F.col("id") - F.col("conv_seq") * TURNS_PER_CONV).cast("int").alias("turn_idx"),
        F.element_at(F.array(*[F.lit(r) for r in ROLES]), F.col("role")).alias("role"),
        F.element_at(F.array(*[F.lit(t) for t in TEXTS]), F.col("line")).alias("text"),
        F.element_at(F.array(*[F.lit(t) for t in TOOLS]), F.col("line")).alias("tool"),
        F.timestamp_micros(F.lit(BASE_US) + F.col("id") * TS_STEP_US).alias("ts"),
    )
