"""Partition-order determinism audit (driver-hash flakiness hunter).

The oracle gate proves Spark == DuckDB for ONE execution. But the
driver's value hash is also sensitive to Spark vs Spark variation: a
float aggregate whose merge order depends on the partition layout can
straddle a rounding boundary under a different
``spark.sql.shuffle.partitions`` / AQE plan and flip a rounded cell —
a query that passes locally and fails (or flakes) on the driver.

This tool sweeps the audited queries once under each of two
deliberately different layouts in the same session —

- layout A: the engine defaults (shuffle.partitions=32, AQE on), and
- layout B: shuffle.partitions=7 with AQE coalescing disabled (odd
  partition count => different partial-agg merge trees and different
  window/exchange boundaries)

— and compares the SIGN-SENSITIVE canonical value multisets (the same
canonicalization as the oracle gate, keeping -0.0 distinct the way the
driver's hash does). A mismatch is a latent flaky driver row: fix by
tightening the engine-stability armor (floor-half-up at a coarser
precision, exact-integer sums, pre-rounding before comparisons).

Usage: python tools/determinism.py [sf_dir] [query ...]
       (default: every registered query at sf0.01)

Writes DETERMINISM.json {query: {"ok": bool, "detail": str}} and exits
nonzero on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amadou_spark.oracle import multiset, sweep  # noqa: E402
from amadou_spark.session import conf_scope, get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The two layouts. B forces a different shuffle fan-in and disables
#: runtime coalescing so partial-aggregate merge trees genuinely differ.
_LAYOUT_A = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}
_LAYOUT_B = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or None

    spark = get_spark("determinism-audit")
    with conf_scope(spark, _LAYOUT_A):
        side_a = {run.name: run for run in sweep(spark, sf_dir, names)}
    results: dict[str, dict] = {}
    n_bad = 0
    with conf_scope(spark, _LAYOUT_B):
        for b in sweep(spark, sf_dir, names):
            a = side_a.pop(b.name)
            name, err = b.name, a.error or b.error
            if err is not None:
                results[name] = {"ok": False, "detail": f"EXCEPTION: {err}"[:300]}
                n_bad += 1
                print(f"[ERR ] {name}: {err}", flush=True)
                continue
            ma = multiset(a.columns, a.rows, signed=True)
            mb = multiset(b.columns, b.rows, signed=True)
            if ma == mb:
                results[name] = {"ok": True, "detail": ""}
                print(f"[ OK ] {name}", flush=True)
            else:
                first = next(
                    (i for i, (x, y) in enumerate(zip(ma, mb)) if x != y), -1
                )
                detail = (
                    f"layout-dependent output: {sum(1 for x, y in zip(ma, mb) if x != y)}"
                    f"/{len(ma)} rows differ (lenA={len(ma)} lenB={len(mb)}); "
                    f"first diff @{first}: A={ma[first] if first >= 0 else None} "
                    f"B={mb[first] if first >= 0 else None}"
                )
                results[name] = {"ok": False, "detail": detail[:500]}
                n_bad += 1
                print(f"[FAIL] {name}: {detail[:200]}", flush=True)

    # a subset run refreshes its rows INSIDE the full artifact rather
    # than clobbering the registry-wide audit record
    merged = results
    artifact = os.path.join(REPO, "DETERMINISM.json")
    if names and os.path.exists(artifact):
        with open(artifact) as f:
            prior = json.load(f).get("queries", {})
        prior.update(results)
        merged = prior
    out = {
        "audit": "same-session double execution under perturbed "
        "shuffle layout (partitions 32+AQE-coalesce vs 7, no coalesce); "
        "sign-sensitive canonical multiset compare",
        "sf_dir": sf_dir,
        "n_ok": sum(1 for v in merged.values() if v.get("ok")),
        "n_audited": len(merged),
        "queries": merged,
    }
    with open(artifact, "w") as f:
        json.dump(out, f, indent=1)
    print(f"\n{len(results) - n_bad}/{len(results)} deterministic")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
