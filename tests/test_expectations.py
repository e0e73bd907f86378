"""One-pass data-quality expectations over the testdata tables."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from amadou_spark.catalog import load_table
from amadou_spark.operators.expectations import (
    assert_expectations,
    check_expectations,
    combined_violation_filter,
    rule_between,
    rule_in_set,
    rule_matches,
    rule_not_null,
    rule_predicate,
)


@pytest.fixture(scope="module")
def messy(spark):
    rows = [
        (1, "a@x.io", 10.0, "gold"),
        (2, None, -5.0, "gold"),        # null email, negative amount
        (3, "bad-email", 20.0, "blue"), # bad format, bad tier
        (3, "c@x.io", 30.0, "silver"),  # duplicate id
        (4, "d@x.io", None, "gold"),    # null amount passes between()
    ]
    return spark.createDataFrame(
        rows, "id long, email string, amount double, tier string"
    )


def _rules():
    # built lazily: Column construction needs an active SparkSession
    return [
        rule_not_null("email"),
        rule_between("amount", 0.0, 100.0),
        rule_in_set("tier", ["gold", "silver", "bronze"]),
        rule_matches("email", r"^[^@]+@[^@]+$"),
        rule_predicate("amount_gt_id", F.col("amount") > F.col("id")),
    ]


def test_report_counts_each_rule(messy):
    rep = {
        r.rule: (r.violations, r.total, r["pass"])
        for r in check_expectations(messy, _rules(), unique_keys=[["id"]]).collect()
    }
    assert rep["not_null(email)"] == (1, 5, False)
    assert rep["between(amount,0.0,100.0)"] == (1, 5, False)
    assert rep["in_set(tier)"] == (1, 5, False)
    assert rep["matches(email)"] == (1, 5, False)
    # NULL amount and amount<=id are both violations of the predicate
    assert rep["amount_gt_id"][0] == 2
    assert rep["unique(id)"] == (1, 5, False)


def test_clean_table_passes_and_assert_returns_input(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    rules = [
        rule_not_null("n_nationkey"),
        rule_between("n_regionkey", 0, 10),
    ]
    out = assert_expectations(nation, rules, unique_keys=[["n_nationkey"]])
    assert out is nation  # passes through unchanged, stage-composable


def test_assert_raises_with_all_violations_listed(messy):
    with pytest.raises(ValueError) as exc:
        assert_expectations(messy, _rules(), unique_keys=[["id"]])
    msg = str(exc.value)
    assert "not_null(email): 1/5" in msg and "unique(id): 1/5" in msg


def test_quarantine_split_partitions_rows(messy):
    bad_filter = combined_violation_filter(_rules())
    bad = messy.filter(bad_filter)
    good = messy.filter(~bad_filter)
    assert bad.count() + good.count() == messy.count()
    # rows 1 and the second id-3 row pass every ROW-LEVEL rule
    # (uniqueness is key-level, not part of the quarantine filter)
    assert sorted(r.email for r in good.collect()) == ["a@x.io", "c@x.io"]


def test_referential_integrity(spark, sf_dir):
    from amadou_spark.operators.expectations import check_referential

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    ok = check_referential(nation, "n_regionkey", region, "r_regionkey").collect()[0]
    assert ok["pass"] and ok.violations == 0
    # drop a region → its nations become orphans
    partial = region.filter(F.col("r_regionkey") != 0)
    bad = check_referential(nation, "n_regionkey", partial, "r_regionkey").collect()[0]
    assert not bad["pass"] and bad.violations > 0
    # a NULL key is not an orphan, but it is a row of the total
    null_row = spark.createDataFrame([(None,)], "n_regionkey long")
    with_null = nation.select("n_regionkey").unionByName(null_row)
    rep = check_referential(with_null, "n_regionkey", region, "r_regionkey").collect()[0]
    assert (rep.violations, rep.total, rep["pass"]) == (0, nation.count() + 1, True)


def test_single_scan_for_row_rules(messy):
    """All row-level rules compile into one aggregate over one scan —
    the report query's plan contains exactly one table scan."""
    from amadou_spark.operators.expectations import Expectation  # noqa: F401

    agg = messy.agg(
        F.count(F.lit(1)).alias("t"),
        *[F.sum(r.violated.cast("long")).alias(f"v{i}") for i, r in enumerate(_rules())],
    )
    plan = agg._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("logicalrdd") + plan.count("Relation") == 1


def test_in_set_with_none_allowed_still_counts_bad_values(messy):
    # x IN ('gold', NULL) is NULL for x='blue'; the NULL must not hide it
    rep = check_expectations(messy, [rule_in_set("tier", ["gold", None])]).collect()
    assert rep[0].violations == 2  # 'blue' and 'silver'


_UNIQUE_CASES = {
    "null_keys": ("k long", [(None,), (None,), (1,), (2,)], ["k"]),
    "nan_keys": ("k double", [(float("nan"),), (float("nan"),), (1.0,)], ["k"]),
    "signed_zero": ("k double", [(-0.0,), (0.0,), (0.0,), (1.0,)], ["k"]),
    "two_cols_null_part": (
        "a long, b string",
        [(1, None), (1, None), (None, "x"), (None, None), (None, None), (1, "x")],
        ["a", "b"],
    ),
    "empty": ("a long, b string", [], ["a", "b"]),
}


@pytest.mark.parametrize("case", sorted(_UNIQUE_CASES))
def test_unique_matches_group_by_definition(spark, case):
    """unique(cols) violations = rows beyond the first per groupBy key,
    for keys where distinct counting and grouping could disagree."""
    schema, rows, cols = _UNIQUE_CASES[case]
    df = spark.createDataFrame(rows, schema)
    want = sum(r["count"] - 1 for r in df.groupBy(*cols).count().collect())
    rep = check_expectations(df, [], unique_keys=[cols]).collect()
    assert [(r.violations, r.total) for r in rep] == [(want, len(rows))]


def _jobs_launched(spark, action) -> int:
    sc = spark.sparkContext
    tag = f"expectations-jobs-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        action()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return len(jsc.statusTracker().getJobIdsForTag(tag))


def test_assert_runs_as_one_aggregate(spark, sf_dir):
    """assert_expectations with a uniqueness key launches no more Spark
    jobs than one collect() of the same aggregate: no extra per-key
    action and no report round trip."""
    events = load_table(spark, sf_dir, "events")
    rules = [
        rule_not_null("event_id"),
        rule_in_set("event_type", ["click", "view", "purchase", "signup", "error"]),
    ]
    agg = events.agg(
        F.count(F.lit(1)),
        *[F.sum(r.violated.cast("long")) for r in rules],
        F.count_distinct(F.struct("event_id")),
    )
    reference = _jobs_launched(spark, agg.collect)
    used = _jobs_launched(
        spark, lambda: assert_expectations(events, rules, [["event_id"]])
    )
    assert reference >= 1 and used <= reference
