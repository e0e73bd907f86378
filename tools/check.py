"""CLI: run the local correctness gates over one registry sweep.

Usage: python tools/check.py [--vanilla] [sf_dir] [query ...]

Each named query (default: the whole registry) is built and run once,
and every per-query gate of ``amadou_spark.oracle.check_all`` reads
that run: DuckDB oracle compare, Spark/DuckDB output-type parity,
session-conf leak, SinglePartition sorts outside ``SP_ALLOWLIST`` (and
allowlist entries that no longer flag), and CartesianProduct. The last
lines count the failures per gate, then the Janino compilations the
sweep ran (the registry's codegen working set when the cache holds it).

``--vanilla`` reproduces the DRIVER's conditions exactly: a plain
``SparkSession.builder.master('local[8]')`` session with NONE of the
engine's session defaults (no UTC pin, no AQE tuning, no forwarded
conf) — the strongest local evidence a row will be green on driver
contact, because it catches conf the engine forgot to set at RUNTIME
(e.g. the parquet-nanos legacy flag, which must be set inside
``catalog.load_table``, not in session defaults). Default mode uses
the engine session (faster to iterate with).
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from amadou_spark.metrics import MetricsCollector
from amadou_spark.oracle import GATES, check_all


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    args = [a for a in args if a != "--vanilla"]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or None
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle-check-vanilla")
            .master("local[8]")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from amadou_spark.session import get_spark

        spark = get_spark("oracle-check")
    collector = MetricsCollector(spark)
    compiles_before = collector.codegen_compiles()
    results = check_all(spark, sf_dir, names)
    compiles_after = collector.codegen_compiles()
    n_ok = sum(r.ok for r in results)
    for r in results:
        mark = "PASS" if r.ok else "FAIL"
        print(f"[{mark}] {r.name}  (spark={r.spark_rows} oracle={r.oracle_rows})")
        if not r.ok:
            print(f"       {r.detail}")
    mode = " (vanilla session)" if vanilla else ""
    print(f"\n{n_ok}/{len(results)} green{mode}")
    for gate in GATES:
        print(f"  {gate}: {sum(gate in r.failed for r in results)} failed")
    if compiles_before and compiles_after:
        n = compiles_after["codegen_compiles"] - compiles_before["codegen_compiles"]
        print(f"codegen: {n:.0f} Janino compilations in the sweep")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
