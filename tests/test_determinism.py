"""Partition-order determinism for the float-armored queries.

tools/determinism.py sweeps the full registry out-of-band (273/273 in
DETERMINISM.json); this in-suite subset keeps the MOST float-sensitive
operators — exp/ln chains, corr co-moments, windowed float sums,
iterative score propagation — honest on every pytest run: each query
must produce the identical sign-sensitive value multiset under a
deliberately different shuffle layout (7 partitions, AQE coalescing
off). A diff here is a rounded cell straddling its armor — the
flaky-driver-row class the q126/q131 engine-stable rounding exists to
prevent.
"""

from __future__ import annotations

import pytest

from amadou_spark.oracle import multiset
from amadou_spark.queries import REGISTRY, _load
from amadou_spark.session import conf_scope

_load()

SENSITIVE = [
    "q63_kl_drift",          # p*ln(p/q) sums
    "q126_ewma",             # exponential float window
    "q131_kaplan_meier",     # exp(sum(ln)) with boundary-tied cells
    "q147_spearman",         # explicit co-moment sums
    "q151_hazard_rate",      # cumulative float prefix sums
    "q155_pacf",             # corr() pinned then recursed
    "q158_psi_drift",        # (p-q)ln(p/q) sums
    "q159_hits",             # iterative alternating float sums
]

_PERTURB = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


@pytest.mark.parametrize("name", SENSITIVE)
def test_output_is_partition_order_stable(spark, sf_dir, query_run, name):
    base = query_run(name)
    assert base.error is None, base.error
    with conf_scope(spark, _PERTURB):
        df = REGISTRY[name].fn(spark, sf_dir)
        perturbed = multiset(df.columns, df.collect(), signed=True)
    assert perturbed == multiset(base.columns, base.rows, signed=True)
