"""Distributional completions: Cramér's phi, parameterized KS, chisquare /
bootstrapped-KS aliases, JSON-schema map expectation."""

import math

from pyspark.sql import functions as F

from great_expectations_spark.core.config import ExpectationSuite
from great_expectations_spark.engine import validate
from great_expectations_spark.functions.stats import (
    expon_cdf,
    norm_cdf,
    parameterized_cdf,
    uniform_cdf,
)


def test_cramers_phi_dependent_vs_independent(spark, lineitem):
    s = ExpectationSuite(name="phi")
    # l_returnflag vs itself-derived column: perfectly associated → phi = 1
    df = lineitem.withColumn("rf_copy", F.col("l_returnflag"))
    s.add(
        "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="l_returnflag",
        column_B="rf_copy",
        threshold=0.5,
    )
    res = validate(df, s)
    assert res.results[0].success is False
    assert abs(res.results[0].result["observed_value"] - 1.0) < 1e-9

    # vs an (almost) independent column → phi near 0
    s2 = ExpectationSuite(name="phi2")
    s2.add(
        "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="l_returnflag",
        column_B="l_linestatus",
        threshold=0.1,
    )
    res2 = validate(lineitem, s2)
    assert res2.results[0].success is True
    assert res2.results[0].result["observed_value"] < 0.05


def test_parameterized_ks_uniform(spark, lineitem):
    """l_quantity ~ uniform(1, 50) by construction → high p-value; a wrong
    normal hypothesis → p ≈ 0."""
    s = ExpectationSuite(name="ks")
    s.add(
        "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
        column="l_quantity",
        distribution="uniform",
        params={"min": 1.0, "range": 49.0},
        p_value=0.01,
    )
    s.add(
        "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
        column="l_quantity",
        distribution="norm",
        params={"mean": 5.0, "std_dev": 1.0},
        p_value=0.05,
    )
    res = validate(lineitem, s)
    uni, bad_norm = res.results
    assert uni.result["details"]["ks_statistic"] < 0.05
    assert bad_norm.success is False
    assert bad_norm.result["observed_value"] < 1e-6


def test_reference_spelling_aliases(spark, lineitem):
    s = ExpectationSuite(name="alias")
    s.add(
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        column="l_returnflag",
        partition_object={"values": ["A", "N", "R"], "weights": [1 / 3] * 3},
        p=0.0,
    )
    s.add(
        "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
        column="l_quantity",
        partition_object={
            "bins": [1.0, 13.25, 25.5, 37.75, 50.0],
            "weights": [0.25] * 4,
        },
        p=1e-9,
    )
    res = validate(lineitem, s)
    assert all(not r.exception_info["raised_exception"] for r in res.results)


def test_cdf_helpers():
    assert abs(norm_cdf(0.0) - 0.5) < 1e-12
    assert abs(norm_cdf(1.96) - 0.975) < 1e-3
    assert uniform_cdf(5, 0, 10) == 0.5
    assert abs(expon_cdf(math.log(2), 0, 1.0) - 0.5) < 1e-12
    f = parameterized_cdf("norm", [0.0, 1.0])
    assert abs(f(0.0) - 0.5) < 1e-12


def test_match_json_schema(spark, events):
    schema = {
        "type": "object",
        "properties": {"k": {"type": "integer", "minimum": 0}},
        "required": ["k"],
    }
    s = ExpectationSuite(name="js")
    s.add("expect_column_values_to_match_json_schema", column="props", json_schema=schema)
    res = validate(events, s)
    assert res.results[0].success is True
    assert res.results[0].result["unexpected_count"] == 0

    # negative: require a key that doesn't exist
    s2 = ExpectationSuite(name="js2")
    s2.add(
        "expect_column_values_to_match_json_schema",
        column="props",
        json_schema={"type": "object", "required": ["missing_key"]},
    )
    res2 = validate(events, s2)
    assert res2.results[0].success is False
    assert res2.results[0].result["unexpected_count"] == events.count()


# ---- DISTINCT_CAP truncation fallbacks ----------------------------------


def _high_card_df(spark, n_vals=40, rows_per=5):
    """n_vals distinct categories, mostly 'A'/'B'/'C' plus a long tail."""
    rows = [("A",)] * 100 + [("B",)] * 80 + [("C",)] * 60
    rows += [(f"tail{i}",) for i in range(n_vals) for _ in range(rows_per)]
    return spark.createDataFrame(rows, "v string")


def test_categorical_deciders_exact_under_truncation(spark, monkeypatch):
    """With DISTINCT_CAP forced below the column cardinality, the categorical
    KL / chi² / PSI deciders must fall back to the exact bounded aggregate —
    same verdicts/values as the untruncated run, truncation surfaced in
    details — instead of silently computing on a clipped value table."""
    import great_expectations_spark.plans.planner as planner_mod

    df = _high_card_df(spark)
    po = {"values": ["A", "B", "C"], "weights": [0.5, 0.3, 0.2]}

    def run():
        s = ExpectationSuite(name="trunc")
        s.add(
            "expect_column_kl_divergence_to_be_less_than",
            column="v", partition_object=po, threshold=5.0,
            tail_weight_holdout=0.2,
        )
        s.add(
            "expect_column_chi_square_test_p_value_to_be_greater_than",
            column="v", partition_object=po, p=0.05,
        )
        s.add(
            "expect_column_psi_to_be_less_than",
            column="v", partition_object=po, threshold=10.0,
        )
        return validate(df, s)

    full = run()
    monkeypatch.setattr(planner_mod, "DISTINCT_CAP", 8)
    trunc = run()

    for f, t in zip(full.results, trunc.results):
        assert t.success == f.success, t.expectation_config["expectation_type"]
        d = (t.result or {}).get("details") or {}
        assert d.get("observed_truncated") is True
        assert d.get("tail_lumped_distinct_values") == 40
    # PSI lumps the tail in BOTH paths → observed value must be identical
    assert trunc.results[2].result["observed_value"] == (
        full.results[2].result["observed_value"]
    )


def test_cramers_phi_distributed_fallback_matches(spark, monkeypatch):
    import great_expectations_spark.plans.planner as planner_mod

    rows = [(f"a{i % 13}", f"b{(i * 7) % 11}") for i in range(2000)]
    df = spark.createDataFrame(rows, "x string, y string")

    def run():
        s = ExpectationSuite(name="phi-trunc")
        s.add(
            "expect_column_pair_cramers_phi_value_to_be_less_than",
            column_A="x", column_B="y", threshold=0.5,
        )
        return validate(df, s)

    full = run()
    monkeypatch.setattr(planner_mod, "DISTINCT_CAP", 16)
    trunc = run()
    d_full = full.results[0].result
    d_trunc = trunc.results[0].result
    assert d_trunc["details"].get("method") == "distributed_exact"
    assert abs(d_trunc["observed_value"] - d_full["observed_value"]) < 1e-9
    assert abs(d_trunc["details"]["chi_squared"] - d_full["details"]["chi_squared"]) < 1e-6
    assert trunc.results[0].success == full.results[0].success


def test_cramers_phi_distributed_fallback_respects_row_condition(spark, monkeypatch):
    """The truncation fallback recomputes the contingency table from
    planner.df — it must stay on the expectation's row_condition domain
    (the shared groupBy pass is rc-filtered), else out-of-domain rows
    dilute phi."""
    import great_expectations_spark.plans.planner as planner_mod

    # domain g='a': y fully determined by x (phi = 1.0); rows outside the
    # domain are independent noise that would dilute phi if leaked in
    rows = [(f"a{i % 13}", f"b{i % 13}", "a") for i in range(1500)] + [
        (f"a{i % 13}", f"b{(i * 7) % 11}", "b") for i in range(1500)
    ]
    df = spark.createDataFrame(rows, "x string, y string, g string")

    def run():
        s = ExpectationSuite(name="phi-trunc-rc")
        s.add(
            "expect_column_pair_cramers_phi_value_to_be_less_than",
            column_A="x", column_B="y", threshold=0.5,
            row_condition="g = 'a'", condition_parser="spark",
        )
        return validate(df, s)

    full = run()
    assert full.results[0].result["observed_value"] > 0.99
    monkeypatch.setattr(planner_mod, "DISTINCT_CAP", 8)
    trunc = run()
    d_trunc = trunc.results[0].result
    assert d_trunc["details"].get("method") == "distributed_exact"
    assert abs(
        d_trunc["observed_value"] - full.results[0].result["observed_value"]
    ) < 1e-9


def test_cramers_phi_distributed_fallback_numeric_and_explicit_bins(
    spark, monkeypatch
):
    """The truncation fallback's in-cluster rebinning (literal CASE chains,
    drift._crosstab_bin_expr) must agree with the in-bundle crosstab_binner
    on every spec shape it compiles: numeric auto n_bins, numeric explicit
    edges (including values BELOW the first edge — the reference's
    dropped-from-crosstab rows, _CT_DROP), and string explicit value
    groups. The in-bundle side is itself fuzz-validated against a pandas
    replica of the reference, so equality here transfers correctness."""
    import great_expectations_spark.plans.planner as planner_mod

    rows = [
        (
            (i % 37) * 0.75 - 3.0,  # 37 distinct floats, some below edge 0.0
            f"s{i % 19}",  # 19 distinct strings
        )
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "num double, cat string")

    cases = [
        {"n_bins_A": 5},  # numeric auto equal-width
        {"bins_A": [0.0, 5.0, 10.0]},  # explicit edges; i%37 < 4 drops
        {"n_bins_A": 4, "bins_B": [["s0", "s1", "s2"], ["s3", "s4"]]},
    ]

    def run():
        s = ExpectationSuite(name="phi-trunc-bins")
        for kw in cases:
            s.add(
                "expect_column_pair_cramers_phi_value_to_be_less_than",
                column_A="num", column_B="cat", threshold=0.5, **kw,
            )
        return validate(df, s)

    full = run()
    monkeypatch.setattr(planner_mod, "DISTINCT_CAP", 16)
    trunc = run()
    for kw, f, t in zip(cases, full.results, trunc.results):
        assert t.result["details"].get("method") == "distributed_exact", kw
        assert f.result["details"].get("method") != "distributed_exact", kw
        assert abs(t.result["observed_value"] - f.result["observed_value"]) < 1e-9, (
            kw, t.result["observed_value"], f.result["observed_value"],
        )
        assert abs(
            t.result["details"]["chi_squared"] - f.result["details"]["chi_squared"]
        ) < 1e-6, kw
        assert (
            t.result["details"]["n_rows"],
            t.result["details"]["n_cols"],
        ) == (
            f.result["details"]["n_rows"],
            f.result["details"]["n_cols"],
        ), kw


def test_cramers_phi_threshold_is_inclusive(spark):
    # the reference computes success = cramers_V <= threshold
    # (dataset.py:4443) despite the expectation's "less_than" name; a phi
    # landing exactly on the threshold must pass. Independent identical
    # columns of a 2x2 design give phi exactly 0.0 after the Yates
    # correction floors |o-e|-0.5 at 0 for every cell.
    rows = [("a", "p")] * 25 + [("a", "q")] * 25 + [("b", "p")] * 25 + [
        ("b", "q")
    ] * 25
    df = spark.createDataFrame(rows, "x string, y string")
    s = ExpectationSuite(name="phi-boundary")
    s.add(
        "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="x", column_B="y", threshold=0.0,
    )
    res = validate(df, s)
    assert res.results[0].result["observed_value"] == 0.0
    assert res.results[0].success is True


def test_cramers_phi_fallback_keeps_dropped_literal_category(spark, monkeypatch):
    """A STRING column whose raw data contains the exact sentinel string
    "(dropped)" must keep it as an ordinary category in the DISTINCT_CAP
    fallback — the sentinel is only ever emitted by the numeric
    explicit-bins CASE chain, so only that side filters it."""
    import great_expectations_spark.plans.planner as planner_mod

    rows = [(f"a{i % 13}", "(dropped)" if i % 3 == 0 else f"b{i % 7}") for i in range(1800)]
    df = spark.createDataFrame(rows, "x string, y string")

    def run():
        s = ExpectationSuite(name="phi-dropped-literal")
        s.add(
            "expect_column_pair_cramers_phi_value_to_be_less_than",
            column_A="x", column_B="y", threshold=0.5,
        )
        return validate(df, s)

    full = run()
    monkeypatch.setattr(planner_mod, "DISTINCT_CAP", 16)
    trunc = run()
    d_full, d_trunc = full.results[0].result, trunc.results[0].result
    assert d_trunc["details"].get("method") == "distributed_exact"
    # "(dropped)" is one of y's 8 observed categories on BOTH paths
    assert d_full["details"]["n_cols"] == 8
    assert d_trunc["details"]["n_cols"] == 8
    assert abs(d_trunc["observed_value"] - d_full["observed_value"]) < 1e-9


def test_cramers_phi_fallback_margin_formula_beyond_cell_cap(
    spark, monkeypatch
):
    """Explicit STRING bins keep uncovered values as identity categories
    (reference pandas_dataset.py:604-609), so the fallback's contingency is
    data-bounded only; past _CT_CELL_CAP it must switch to the distributed
    margin formula χ² = N·(Σ o²/(rₐ·c_b) − 1) — exact for dof > 1 — instead
    of collecting an unbounded cell table. Forcing the cap to 1 must
    reproduce the in-bundle crosstab_phi result to 1e-9."""
    import great_expectations_spark.operators.drift as drift_mod
    import great_expectations_spark.plans.planner as planner_mod

    rows = [
        (f"a{i % 5}", ["s0", "s1"][i % 2] if i % 4 else f"tail{i % 9}")
        for i in range(2400)
    ]
    df = spark.createDataFrame(rows, "x string, y string")
    kw = dict(
        column_A="x", column_B="y", threshold=0.9,
        bins_B=[["s0", "s1"]],
    )

    def run():
        s = ExpectationSuite(name="phi-margin")
        s.add("expect_column_pair_cramers_phi_value_to_be_less_than", **kw)
        return validate(df, s)

    full = run()
    monkeypatch.setattr(planner_mod, "DISTINCT_CAP", 16)
    monkeypatch.setattr(drift_mod, "_CT_CELL_CAP", 1)
    trunc = run()
    d_full, d_trunc = full.results[0].result, trunc.results[0].result
    assert d_trunc["details"].get("method") == "distributed_exact"
    assert (
        d_trunc["details"]["n_rows"], d_trunc["details"]["n_cols"]
    ) == (d_full["details"]["n_rows"], d_full["details"]["n_cols"])
    assert abs(d_trunc["observed_value"] - d_full["observed_value"]) < 1e-9
    assert abs(
        d_trunc["details"]["chi_squared"] - d_full["details"]["chi_squared"]
    ) < 1e-6


def test_cramers_phi_degenerate_shape_fails_with_nan(spark, monkeypatch):
    """A constant column gives a 1×c crosstab: scipy's dof-0 branch returns
    chi2=0, the reference's sqrt(0/N/0) is nan, and nan <= threshold FAILS.
    Both the in-bundle and the distributed-fallback paths must reproduce
    that verdict with the nan surfaced as the observed value."""
    import great_expectations_spark.plans.planner as planner_mod

    rows = [("k", f"v{i % 23}") for i in range(500)]
    df = spark.createDataFrame(rows, "x string, y string")

    def run():
        s = ExpectationSuite(name="phi-degenerate")
        s.add(
            "expect_column_pair_cramers_phi_value_to_be_less_than",
            column_A="x", column_B="y", threshold=0.9,
        )
        return validate(df, s)

    for cap in (None, 8):
        if cap is not None:
            monkeypatch.setattr(planner_mod, "DISTINCT_CAP", cap)
        res = run()
        evr = res.results[0]
        assert evr.success is False, cap
        assert math.isnan(evr.result["observed_value"]), cap


def test_cramers_phi_fallback_overlapping_groups_last_wins(spark, monkeypatch):
    """A value listed in two explicit string groups takes the LAST group's
    label (the in-bundle repl-dict overwrite / the reference's
    series.replace); the fallback's CASE chain must agree, not first-match."""
    import great_expectations_spark.plans.planner as planner_mod

    rows = [
        (f"a{i % 7}", ["s0", "s1", "s2", f"t{i % 5}"][i % 4])
        for i in range(2100)
    ]
    df = spark.createDataFrame(rows, "x string, y string")
    kw = dict(
        column_A="x", column_B="y", threshold=0.9,
        bins_B=[["s0", "s1"], ["s1", "s2"]],  # 's1' overlaps → 's1, s2'
    )

    def run():
        s = ExpectationSuite(name="phi-overlap")
        s.add("expect_column_pair_cramers_phi_value_to_be_less_than", **kw)
        return validate(df, s)

    full = run()
    monkeypatch.setattr(planner_mod, "DISTINCT_CAP", 16)
    trunc = run()
    d_full, d_trunc = full.results[0].result, trunc.results[0].result
    assert d_trunc["details"].get("method") == "distributed_exact"
    assert (
        d_trunc["details"]["n_rows"], d_trunc["details"]["n_cols"]
    ) == (d_full["details"]["n_rows"], d_full["details"]["n_cols"])
    assert abs(d_trunc["observed_value"] - d_full["observed_value"]) < 1e-9
    assert abs(
        d_trunc["details"]["chi_squared"] - d_full["details"]["chi_squared"]
    ) < 1e-6


def test_cramers_phi_reference_golden_cases(spark):
    """Replay the reference's OWN cramers-phi corpus — all 8 cases, every
    one marked only_for pandas there (the reference never ran this
    expectation on its Spark engine). The crosstab semantics (numeric
    equal-width binning, string top-n + '(other)', '(missing)' categories,
    Yates at dof 1, full-row-count denominator) must reproduce the expected
    observed values exactly."""
    import json
    import os

    from golden_harness import JSON_ROOT, require_corpus, run_case
    from great_expectations_spark.engine import SparkValidationEngine

    require_corpus()
    path = os.path.join(
        JSON_ROOT,
        "column_aggregate_expectations",
        "expect_column_pair_cramers_phi_value_to_be_less_than.json",
    )
    doc = json.load(open(path))
    engine = SparkValidationEngine(spark)
    failures = []
    n = 0
    for ds in doc["datasets"]:
        for case in ds["tests"]:
            n += 1
            ok, detail = run_case(
                spark, engine,
                "expect_column_pair_cramers_phi_value_to_be_less_than",
                ds, case,
            )
            if not ok:
                failures.append((case.get("title"), detail[:160]))
    assert n == 8 and not failures, failures
