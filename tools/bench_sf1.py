"""Time registry queries at sf0.1 and at the 10x sf1 slice.

The slice is built by ``tools/sf1_slice.py`` (on first use, if it is
missing): every table but region and nation is 10 key-shifted disjoint
replicas of sf0.1. Each query runs at sf0.1 and at sf1 IN THE SAME
SESSION, interleaved (A@0.1, A@1, B@0.1, B@1, ...), so the per-query
sf1/sf0.1 ratio is free of host drift by construction. Queries are
forced with count() after bench.py's warm-ups and cleanup; each
(query, sf) keeps the min of :data:`RUNS` samples.

Writes BENCH_SF1.json: per-query sf0.1/sf1 seconds and their ratio,
flagging a ratio above :data:`GATE` (10x data plus amortized fixed
overhead; sf0.1 runs are overhead-dominated, so most ratios land far
below 10) or above the query's :data:`GATE_OVERRIDES` entry. A flagged
query's real curve bends: it gets a PLANS.md note or a fix.

With query names the run refreshes those queries' rows inside the
existing BENCH_SF1.json (:func:`merge_subset`).

Usage: python tools/bench_sf1.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amadou_spark.queries import REGISTRY, _load  # noqa: E402
from amadou_spark.session import get_spark  # noqa: E402
from bench import cleanup, warm_up  # noqa: E402
from tools.sf1_slice import SF01, SF1_DIR, ensure_sf1  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATH = os.path.join(REPO, "BENCH_SF1.json")
RUNS = 2
GATE = 13.0

#: Queries whose WORK is superlinear in data size by design.
GATE_OVERRIDES = {
    # theta-join pair volume is quadratic in parts per brand: 10x parts
    # => ~100x pairs through the residual and partial agg, though the
    # output is brand-grain
    "q12_theta_join": 130.0,
    # pair volume grows with event rate squared at a fixed window:
    # 10x denser events => ~100x pairs
    "q168_range_join_bucketed": 130.0,
    # many-to-many join on an 8-value key: pair volume is
    # |customer| x |supplier| / 8, so 10x both sides => ~100x pairs
    # before the aggregate
    "q76_null_safe_join": 130.0,
}


def merge_subset(
    prior_doc: dict, rows: dict, errors: dict, names
) -> tuple[dict, dict]:
    """Merge a run over ``names`` into the prior BENCH_SF1 document and
    return its ``(queries, errors)``. The queries this run touched take
    this run's outcome: a query that errored loses its stale timing row,
    a query that passed loses its old error. Every other query keeps
    both its row and its error."""
    merged_rows = {
        n: v for n, v in prior_doc.get("queries", {}).items() if n not in names
    }
    merged_rows.update(rows)
    merged_errors = {
        n: e for n, e in prior_doc.get("errors", {}).items() if n not in names
    }
    merged_errors.update(errors)
    return merged_rows, merged_errors


def main(names: list[str]) -> None:
    _load()
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    subset = bool(names)
    names = names or sorted(REGISTRY)

    spark = get_spark("amadou-bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_sf1(spark)
    warm_up(spark, [SF01, SF1_DIR])

    t_small: dict[str, float] = {}
    t_big: dict[str, float] = {}
    errs: dict[str, str] = {}
    for r in range(RUNS):
        for name in names:
            if name in errs:
                continue
            fn = REGISTRY[name].fn
            try:
                for sf_dir, acc in ((SF01, t_small), (SF1_DIR, t_big)):
                    cleanup(spark)
                    t0 = time.time()
                    fn(spark, sf_dir).count()
                    dt = time.time() - t0
                    if name not in acc or dt < acc[name]:
                        acc[name] = dt
            except Exception as exc:  # pragma: no cover - report, don't die
                errs[name] = str(exc)[:300]
            if r == 0:
                print(
                    f"[{len(t_big):>3}/{len(names)}] {name}: "
                    f"{t_small.get(name, -1):.2f}s -> "
                    f"{t_big.get(name, -1):.2f}s",
                    flush=True,
                )

    queries = {
        n: {
            "sf0_1_sec": round(t_small[n], 3),
            "sf1_sec": round(t_big[n], 3),
            "ratio": round(t_big[n] / max(t_small[n], 1e-9), 2),
        }
        for n in t_big
        # a query that succeeded in an early run but errored later
        # carries no timing row: errors win
        if n in t_small and n not in errs
    }
    # a subset run refreshes its rows INSIDE the full artifact rather
    # than clobbering the registry-wide record
    if subset and os.path.exists(PATH):
        with open(PATH) as fh:
            queries, errs = merge_subset(json.load(fh), queries, errs, names)
    flagged = sorted(
        n for n, v in queries.items() if v["ratio"] > GATE_OVERRIDES.get(n, GATE)
    )
    out = {
        "bench": "full-registry wall clock, sf0.1 vs the 10x sf1 slice "
        f"(tools/sf1_slice.py), interleaved same-session min-of-{RUNS} — "
        "per-query ratios are host-drift-free by construction",
        "slice_note": "lineitem/orders/customer/part/supplier/events/"
        "documents/embeddings are 10x disjoint replicas (supplier since "
        "layout v5, per-replica c_name/s_name since v6); region/nation "
        "are the sf0.1 files",
        "gate": GATE,
        "gate_overrides": GATE_OVERRIDES,
        "n_queries": len(queries),
        "n_errors": len(errs),
        "total_sf0_1_sec": round(sum(v["sf0_1_sec"] for v in queries.values()), 1),
        "total_sf1_sec": round(sum(v["sf1_sec"] for v in queries.values()), 1),
        "flagged_over_gate": flagged,
        "errors": errs,
        "queries": dict(sorted(queries.items())),
    }
    with open(PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                k: out[k]
                for k in (
                    "n_queries",
                    "n_errors",
                    "total_sf0_1_sec",
                    "total_sf1_sec",
                    "flagged_over_gate",
                )
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main(sys.argv[1:])
