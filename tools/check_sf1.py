"""Rotate the sf1 ORACLE slice.

``tools/bench_sf1.py`` times registry queries at the 10x sf1 slice;
this tool is the correctness half: it runs the per-query gates of
``amadou_spark.oracle.check_all`` (DuckDB hash-compare, type parity,
conf leak, plan hygiene) at the slice (``tools/sf1_slice.py``, built
on first use) for a named subset and MERGES the rows into
CHECK_SF1.json — cumulative coverage, one ``round`` vintage stamp per
op, this run's outcome winning for the ops it touched. The slice
rotates through the registry until every oracle-bearing op has at
least one >=sf1 proof.

Usage: python tools/check_sf1.py [--round N] query [query ...]
       python tools/check_sf1.py --list-uncovered
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.sf1_slice import SF1_DIR, ensure_sf1  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATH = os.path.join(REPO, "CHECK_SF1.json")


def main() -> int:
    args = sys.argv[1:]
    if "--list-uncovered" in args:
        from amadou_spark.queries import REGISTRY, _load

        _load()
        covered: "set[str]" = set()
        if os.path.exists(PATH):  # missing artifact == zero coverage
            with open(PATH) as fh:
                covered = set(json.load(fh).get("ops", {}))
        for n in sorted(set(REGISTRY) - covered):
            print(n)
        return 0
    rnd = None
    if "--round" in args:
        i = args.index("--round")
        value = args[i + 1] if i + 1 < len(args) else ""
        try:
            rnd = int(value)
        except ValueError:
            raise SystemExit(
                f"--round needs an integer round number, got {value!r}"
            ) from None
        del args[i : i + 2]
    names = args
    if not names:
        raise SystemExit("no queries given (see --list-uncovered)")

    from amadou_spark.oracle import check_all
    from amadou_spark.session import get_spark

    spark = get_spark("check-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_sf1(spark)
    results = check_all(spark, SF1_DIR, names)

    doc = {"ops": {}}
    if os.path.exists(PATH):
        with open(PATH) as fh:
            doc = json.load(fh)
    ops = doc.get("ops", {})
    for r in results:
        row = {"ok": r.ok, "spark_rows": r.spark_rows, "oracle_rows": r.oracle_rows}
        if not r.ok:
            row["detail"] = str(r.detail)[:300]
        if rnd is not None:
            row["round"] = rnd
        ops[r.name] = row
        print(f"[{'PASS' if r.ok else 'FAIL'}] {r.name}")
        if not r.ok:
            print(f"       {r.detail}")
    doc["ops"] = dict(sorted(ops.items()))
    doc["n_ops"] = len(ops)
    doc["n_green"] = sum(1 for v in ops.values() if v["ok"])
    doc["gate"] = "DuckDB oracle hash-compare (tools/check.py) at the sf1 slice"
    doc["slice"] = (
        "10x key-shifted disjoint replicas of sf0.1 (see tools/sf1_slice.py)"
    )
    doc["why"] = (
        "correctness evidence one decade above sf0.01, CUMULATIVE across "
        "runs (rows carry a 'round' vintage stamp): the engine-stability "
        "armor and the scale rewrites hold on 10x data and different "
        "value grids, not just at sf0.01"
    )
    with open(PATH, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    n_ok = sum(r.ok for r in results)
    print(f"\n{n_ok}/{len(results)} green this run; "
          f"cumulative {doc['n_green']}/{doc['n_ops']}")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
