"""Benchmark harness: run the declared-query suite and print ONE JSON line.

Usage: python bench.py              full registry, output below
       python bench.py name [...]   only the named queries (A/B probes)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default all cores → local[*]).
SPARK_GRAFT_BENCH_RUNS sets the samples per query (default 3).

With query names, the run keeps the same warm-ups, cleanup and min-of-N
and prints {"queries": {name: min_sec}, "samples": {...}, "sum_min": s};
it writes no BENCH_DETAIL file.

Output: {"metric": "suite_wall_clock", "value": <total-sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": <sf>, ...}

The driver keeps only a ~2 KB tail of stdout, and 89 query names alone
exceed that — so the stdout line adaptively keeps the SLOWEST queries
until it fits one tail window (the fast tail of the distribution is
the uninformative part), and the COMPLETE payload (all queries + conf)
is written to BENCH_DETAIL.json next to this script for mechanical
round-over-round diffs.

Each query is forced with a count() action (materializes the full plan
without driver-side row transfer). A warmup query amortizes session/JIT
startup out of the measurement; a tiny pandas-UDF warmup pre-spawns the
Python worker pool so the first Arrow query doesn't absorb ~6 s of
worker startup.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402

from amadou_spark.queries import REGISTRY, _load  # noqa: E402
from amadou_spark.session import get_spark  # noqa: E402


def warm_up(spark, sf_dirs) -> None:
    """Take one-time costs out of the first timed query: JVM start-up,
    the parquet footer caches of every dir in ``sf_dirs``, and the
    Python/Arrow worker pool, whose start would otherwise cost the first
    pandas-UDF query about 6 s."""
    for sf_dir in sf_dirs:
        REGISTRY["q01_scan_projection"].fn(spark, sf_dir).count()

    @pandas_udf("double")
    def _warm(a: pd.Series) -> pd.Series:
        return a.astype(float)

    spark.range(1024).repartition(32).select(_warm(F.col("id"))).count()


def cleanup(spark) -> None:
    """Release leftovers so one query's debris (streaming memory-sink
    tables, cached relations) can't degrade the next measurement."""
    for table in spark.catalog.listTables():
        if table.name.startswith("amadou_stream_"):
            spark.catalog.dropTempView(table.name)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _load()
    unknown = [n for n in names if n not in REGISTRY]
    duplicate = sorted({n for n in names if names.count(n) > 1})
    if unknown or duplicate:
        sys.exit(f"unknown queries: {unknown}; duplicate queries: {duplicate}")
    spark = get_spark("amadou-bench")

    warm_up(spark, [sf_dir])

    # Repeated measures: two runs of IDENTICAL code on a noisy VM have
    # disagreed by up to 4.8x per query, so single-sample timing can't
    # distinguish a regression from a noisy neighbor. Run each query N times (default 3) and report the MIN
    # (the run least polluted by interference); keep every sample in
    # BENCH_DETAIL for dispersion analysis. Full rounds of the whole
    # suite (A,B,C,A,B,C... not A,A,A,B,B,B) so a transient system-wide
    # stall can't poison all samples of one query.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    subset = bool(names)
    names = names or sorted(REGISTRY)
    samples: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(runs):
        for name in names:
            fn = REGISTRY[name].fn
            started = time.perf_counter()
            fn(spark, sf_dir).count()
            elapsed = time.perf_counter() - started
            samples[name].append(round(elapsed, 3))
            cleanup(spark)
    timings = {name: min(vals) for name, vals in samples.items()}
    if subset:
        print(json.dumps({
            "queries": timings,
            "samples": samples,
            "sum_min": round(sum(timings.values()), 3),
        }, separators=(",", ":")))
        return

    # headline metric = the declared benchmark set (BASELINE.md): SURVEY
    # §2.2 Tier A (Q01-Q30). Tier B / LLM / extension timings are still
    # reported per-query and summed in value_all.
    # (full numeric prefix, not k[1:3]: a 2-char slice lets q100+ leak
    # into the Q01-Q30 headline)
    def _tier_a_num(k: str) -> int:
        m = re.match(r"q(\d+)", k)
        return int(m.group(1)) if m else 999

    tier_a = {k: v for k, v in timings.items() if _tier_a_num(k) <= 30}
    total = sum(tier_a.values())
    total_all = sum(timings.values())

    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    conf = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.master",
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
            "spark.driver.memory",
        )
    }
    # Stamp the RESOLVED master: local[*] and SPARK_GRAFT_CPUS=<cores>
    # are the same session on one host, and stamping the resolved thread
    # count keeps their details byte-comparable (a diff in timing values
    # only).
    if conf.get("spark.master") == "local[*]":
        conf["spark.master"] = (
            f"local[{spark.sparkContext.defaultParallelism}]"
        )
    payload = {
        "metric": "tier_a_suite_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "conf": conf,
        "value_all": round(total_all, 3),
        "n_queries": len(timings),
        "n_tier_a": len(tier_a),
        "runs_per_query": runs,
        "aggregation": "min",
        "samples": samples,
    }
    here = os.path.dirname(os.path.abspath(__file__))

    # The round this run belongs to: one past the newest driver-written
    # BENCH_r{N}.json. Needed BOTH for the per-round detail stamp below
    # and to keep the drift comparison honest: an earlier same-round
    # stamp must never become the drift baseline, since the field names
    # the PRIOR round being compared against.
    rounds = [
        int(m.group(1))
        for fn in os.listdir(here)
        if (m := re.match(r"BENCH_r(\d+)\.json$", fn))
    ]
    this_round = (max(rounds) + 1) if rounds else 1

    # Host-drift factor IN the artifact, so a reader need not
    # reverse-engineer VM drift from the detail files:
    # median per-query ratio vs the newest PRIOR-round same-sf detail.
    # Median over 200+ queries isolates the uniform host factor from
    # individual regressions; consumers divide by it before comparing.
    try:
        prior_files = sorted(
            fn
            for fn in os.listdir(here)
            if (m2 := re.match(r"BENCH_DETAIL_r(\d+)\.json$", fn))
            and int(m2.group(1)) < this_round
        )
        for prior_name in reversed(prior_files):
            with open(os.path.join(here, prior_name)) as fh:
                prior = json.load(fh)
            if abs(prior.get("sf", -1) - sf) > 1e-9:
                continue
            ratios = {
                q: timings[q] / prior["queries"][q]
                for q in timings
                if prior["queries"].get(q)
            }
            if len(ratios) >= 20:
                drift = statistics.median(ratios.values())
                payload["drift_median_vs"] = prior_name.replace(
                    "BENCH_DETAIL_", ""
                ).replace(".json", "")
                payload["drift_median"] = round(drift, 3)
                # Name the biggest per-query movers vs the prior round IN
                # the stdout line, so a 3-4x win on a query that left the
                # slow tail (or a big regression) can't silently vanish
                # from the ~2 KB stdout tail. Each value is a
                # drift-normalized speedup, drift_median / (now/prior)
                # (>1 improved), so uniform host drift cannot fill the 8
                # entries; only movers outside [0.8, 1.25] are kept.
                speedups = {q: drift / r for q, r in ratios.items() if r > 0}
                movers = sorted(
                    speedups, key=lambda q: -abs(math.log(speedups[q]))
                )
                payload["top_deltas"] = {
                    q: round(speedups[q], 2)
                    for q in movers[:8]
                    if speedups[q] < 0.8 or speedups[q] > 1.25
                }
            break
    except Exception:
        pass  # drift annotation is best-effort, never blocks the line
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    # also stamp a per-round copy (BENCH_DETAIL_r{N}.json, N inferred
    # from the driver's BENCH_r{N}.json artifacts) so round-over-round
    # per-query diffs never need archaeology on the truncated stdout
    # tail. Only at the driver's sf (0.1) — local sf0.001 iteration
    # runs shouldn't clobber the round record.
    if abs(sf - 0.1) < 1e-9:
        with open(
            os.path.join(here, f"BENCH_DETAIL_r{this_round:02d}.json"), "w"
        ) as f:
            json.dump(payload, f, indent=1, sort_keys=True)

    # stdout line must fit the driver's ~2 KB stdout-tail window or it
    # is recorded unparsed: keep the slowest queries, drop from the fast
    # end until the line fits, and say how many were elided.
    line_payload = dict(payload)
    del line_payload["conf"]
    del line_payload["samples"]  # full per-run matrix lives in BENCH_DETAIL
    by_cost = sorted(timings, key=timings.get, reverse=True)
    kept = len(by_cost)
    while kept > 1:
        line_payload["queries"] = {n: timings[n] for n in by_cost[:kept]}
        line_payload["queries_elided"] = len(timings) - kept
        line = json.dumps(line_payload, separators=(",", ":"))
        if len(line) <= 1900:
            break
        kept -= 4
    print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
