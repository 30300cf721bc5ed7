"""Record the value hashes operator_mix checks against.

    python3 perfbench/record_oracles.py

Runs each operator_mix query's DuckDB oracle (`__spark_entry__.oracle_sql()`)
over the tables in perfbench/data/sf0.01, hashes the result with
`canon.value_hash`, runs the Spark query on the same tables, and writes
perfbench/oracle_hashes.json only if every Spark result hashes equal to its
oracle.  The oracles are too slow to run on every benchmark run, which is
why their hashes are recorded here once.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from canon import value_hash  # noqa: E402
from workloads import OPERATOR_QUERIES, SF_DIR, start_session  # noqa: E402


def main() -> int:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    spark = start_session(4)
    queries = entry.queries()
    out, ok = {}, True
    for name in OPERATOR_QUERIES:
        res = con.sql(oracles[name])
        duck = value_hash(res.fetchall(), list(res.columns))
        sdf = queries[name](spark, SF_DIR)
        rows = sdf.collect()
        spark_hash = value_hash(rows, sdf.columns)
        print(f"{'ok' if duck == spark_hash else 'MISMATCH'} {name}: {len(rows)} rows",
              file=sys.stderr)
        ok &= duck == spark_hash
        out[name] = {"rows": len(rows), "hash": duck}
    spark.stop()
    if not ok:
        return 1
    with open(os.path.join(HERE, "oracle_hashes.json"), "w") as fh:
        json.dump({"data": "perfbench/data/sf0.01", "queries": out}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
