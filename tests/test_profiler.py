"""Data-driven suite bootstrapping (profiler.py) — emission rules +
self-validation (a profiled suite must pass on the batch that produced it)."""

import pytest

from great_expectations_spark.engine import SparkValidationEngine
from great_expectations_spark.profiler import profile


class _MetricsTable:
    """A metrics store serving a prepared metrics-table DataFrame."""

    def __init__(self, metrics):
        self.metrics = metrics

    def read_metrics(self):
        return self.metrics


def _by_type(suite):
    out = {}
    for cfg in suite.expectations:
        key = (cfg.kwargs.get("column", ""), cfg.expectation_type)
        out.setdefault(key, []).append(cfg.kwargs)
    return out


def test_profile_lineitem_rules(spark, lineitem):
    suite = profile(lineitem, name="li")
    got = _by_type(suite)
    assert ("", "expect_table_columns_to_match_ordered_list") in got
    assert ("", "expect_table_row_count_to_be_between") in got
    # no nulls anywhere in lineitem → plain not_null for every column
    for c in lineitem.columns:
        assert (c, "expect_column_values_to_not_be_null") in got
        assert (c, "expect_column_values_to_be_of_type") in got
    # low-cardinality domains detected
    assert ("l_returnflag", "expect_column_values_to_be_in_set") in got
    assert got[("l_returnflag", "expect_column_values_to_be_in_set")][0][
        "value_set"
    ] == ["A", "N", "R"]
    # wide numeric has range pins but no value set
    assert ("l_quantity", "expect_column_min_to_be_between") in got
    assert ("l_quantity", "expect_column_values_to_be_in_set") not in got
    # temporal min/max
    assert ("l_shipdate", "expect_column_max_to_be_between") in got
    # no single column is unique in lineitem
    assert not any(t == "expect_column_values_to_be_unique" for _, t in got)


def test_profile_events_nullity_and_uniqueness(spark, events):
    suite = profile(events, name="ev")
    got = _by_type(suite)
    # event_id is a key
    assert ("event_id", "expect_column_values_to_be_unique") in got
    # props has nulls → mostly-form not_null (if frac <= 0.5)
    kw = got.get(("props", "expect_column_values_to_not_be_null"))
    if kw is not None:
        assert 0 < kw[0].get("mostly", 1.0) <= 1.0


def test_profiled_suite_self_validates(spark, lineitem, events):
    eng = SparkValidationEngine(spark)
    for df in (lineitem, events):
        suite = profile(df)
        res = eng.validate(df, suite)
        bad = [
            (r.expectation_config["expectation_type"], r.expectation_config["kwargs"], r.result)
            for r in res.results
            if not r.success
        ]
        assert not bad, bad


def test_profile_approx_path_matches_exact(spark, lineitem):
    """exact=False (HLL gating, the 10^12-row path) emits the same suite on
    this data."""
    a = {(c.expectation_type, c.kwargs.get("column")) for c in profile(lineitem, exact=True).expectations}
    b = {(c.expectation_type, c.kwargs.get("column")) for c in profile(lineitem, exact=False).expectations}
    assert a == b


def test_auto_parameter_resolution(spark, lineitem):
    """auto=True fills missing bounds from the batch (reference rule-based
    profiler dispatch) and the resolved expectation validates."""
    from great_expectations_spark.core.config import ExpectationSuite

    suite = ExpectationSuite(name="auto")
    suite.add("expect_column_values_to_be_between", column="l_quantity", auto=True)
    suite.add("expect_column_mean_to_be_between", column="l_extendedprice", auto=True)
    suite.add("expect_column_values_to_be_in_set", column="l_returnflag", auto=True)
    suite.add("expect_table_row_count_to_be_between", auto=True)
    suite.add(
        "expect_column_quantile_values_to_be_between", column="l_quantity", auto=True
    )
    eng = SparkValidationEngine(spark)
    res = eng.validate(lineitem, suite)
    assert res.success, [
        (r.expectation_config, r.result, r.exception_info)
        for r in res.results
        if not r.success
    ]
    # the resolved config carries concrete bounds (auto stripped)
    cfg0 = res.results[0].expectation_config
    assert "auto" not in cfg0["kwargs"]
    assert cfg0["kwargs"]["min_value"] is not None
    in_set_cfg = res.results[2].expectation_config
    assert in_set_cfg["kwargs"]["value_set"] == ["A", "N", "R"]


def test_auto_respects_row_condition(spark):
    """auto=True estimates from the SAME row_condition domain validation
    measures — before the fix, bounds came from the whole table (min/max
    wider than the domain; value_set leaked out-of-domain values)."""
    from great_expectations_spark.core.config import ExpectationSuite

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (50.0, "b"), (60.0, "b")], ["v", "g"]
    )
    suite = ExpectationSuite(name="auto_rc")
    suite.add("expect_column_values_to_be_between", column="v", auto=True,
              row_condition="g = 'a'", condition_parser="spark")
    suite.add("expect_column_mean_to_be_between", column="v", auto=True,
              row_condition="g = 'b'", condition_parser="spark")
    suite.add("expect_column_values_to_be_in_set", column="g", auto=True,
              row_condition="g = 'b'", condition_parser="spark")
    res = SparkValidationEngine(spark).validate(df, suite)
    assert res.success
    kws = [r.expectation_config["kwargs"] for r in res.results]
    assert kws[0]["min_value"] == 1.0 and kws[0]["max_value"] == 2.0
    assert kws[1]["min_value"] == kws[1]["max_value"] == 55.0
    assert kws[2]["value_set"] == ["b"]


def test_auto_unsupported_type_is_failed_evr(spark, lineitem):
    from great_expectations_spark.core.config import ExpectationSuite

    suite = ExpectationSuite(name="auto2")
    suite.add("expect_column_values_to_match_regex", column="l_returnflag", auto=True)
    res = SparkValidationEngine(spark).validate(lineitem, suite)
    assert res.results[0].success is False
    assert res.results[0].exception_info.get("raised_exception") is True


def test_profile_drift_baselines(spark, lineitem):
    """drift_baselines=True emits KL expectations whose partition_object is
    built from the profiled batch: ~0 divergence against the batch itself,
    tripped by a genuinely shifted batch."""
    from pyspark.sql import functions as F

    from great_expectations_spark import validate
    from great_expectations_spark.profiler import profile

    s = profile(
        lineitem,
        columns=["l_quantity", "l_returnflag"],
        drift_baselines=True,
        kl_threshold=0.1,
    )
    kl = [
        e for e in s.expectations
        if e.expectation_type == "expect_column_kl_divergence_to_be_less_than"
    ]
    by_col = {e.kwargs["column"]: e for e in kl}
    assert set(by_col) == {"l_quantity", "l_returnflag"}
    # numeric column above the cardinality limit -> continuous baseline;
    # low-cardinality flag -> categorical baseline
    assert "bins" in by_col["l_quantity"].kwargs["partition_object"]
    assert "values" in by_col["l_returnflag"].kwargs["partition_object"]

    kl_suite = type(s)(name="kl_only")
    kl_suite.expectations = kl
    same = validate(lineitem, kl_suite)
    assert same.success, [r.result for r in same.results if not r.success]

    shifted = lineitem.withColumn(
        "l_quantity", F.col("l_quantity") * 3
    ).withColumn("l_returnflag", F.lit("Z"))
    drifted = validate(shifted, kl_suite)
    assert all(r.success is False for r in drifted.results), [
        r.result for r in drifted.results
    ]


def test_profile_pii_checks_opt_in(spark):
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.profiler import profile

    rows = [
        (1, "clean text", "reach me: a@b.io"),
        (2, "more clean text", "clean here"),
        (3, "still clean", "also clean"),
        (4, "fine", "ok"),
    ]
    df = spark.createDataFrame(rows, "id long, clean string, mixed string")
    # default: no PII expectations emitted (oracle-pinned default unchanged)
    types_default = {c.expectation_type for c in profile(df).expectations}
    assert "expect_column_values_to_not_contain_pii" not in types_default

    suite = profile(df, pii_checks=True)
    pii = {
        c.kwargs["column"]: c.kwargs
        for c in suite.expectations
        if c.expectation_type == "expect_column_values_to_not_contain_pii"
    }
    assert "clean" in pii and "mostly" not in pii["clean"]
    # 1/4 rows of "mixed" contain an email → mostly floor at 0.75
    assert pii["mixed"]["mostly"] == 0.75
    # the profiled suite validates its own batch green
    res = SparkValidationEngine(spark).validate(df, suite)
    assert res.success is True


def test_profile_pii_mostly_uses_nonnull_denominator(spark):
    """A column with nulls AND some PII must profile to a suite that its own
    batch passes: the expectation considers only non-null rows, so the
    mostly floor must be computed over the non-null count."""
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.profiler import profile

    rows = [
        (1, None), (2, None), (3, None), (4, None), (5, None),
        (6, "mail me a@b.io"), (7, "also c@d.io"),
        (8, "clean"), (9, "clean"), (10, "clean"),
    ]
    df = spark.createDataFrame(rows, "id long, mixed string")
    suite = profile(df, pii_checks=True)
    pii = [
        c for c in suite.expectations
        if c.expectation_type == "expect_column_values_to_not_contain_pii"
    ]
    assert len(pii) == 1
    # 2 of 5 NON-NULL rows have PII → mostly 0.6 (0.8 over all rows would fail)
    assert pii[0].kwargs["mostly"] == pytest.approx(0.6)
    assert SparkValidationEngine(spark).validate(df, suite).success is True


def test_auto_bootstrap_range_from_metrics_history(spark, tmp_path):
    """auto=True + a populated metrics store → bounds come from the
    multi-batch BOOTSTRAP range over stored history (reference
    numeric_metric_range_multi_batch_parameter_builder semantics), not the
    single-batch point estimate: the emitted interval is a genuine range
    (min < max) spanning the historical spread, so a new batch whose mean
    sits inside the band passes even though it pins no single batch."""
    from pyspark.sql import functions as F

    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.profiler import fetch_metric_histories, resolve_auto
    from great_expectations_spark.sources.stores import ResultsStore

    store = ResultsStore(spark, str(tmp_path / "autostore"))
    eng = SparkValidationEngine(spark)
    seed_suite = ExpectationSuite(name="history")
    seed_suite.add(
        "expect_column_mean_to_be_between", column="v", min_value=-1e9, max_value=1e9
    )
    seed_suite.add("expect_table_row_count_to_be_between", min_value=0, max_value=10**12)
    seed_suite.add(
        "expect_column_median_to_be_between", column="v", min_value=-1e9, max_value=1e9
    )
    seed_suite.add(
        "expect_column_unique_value_count_to_be_between",
        column="u", min_value=0, max_value=10**9,
    )
    # seeded multi-run history: batch means and medians 10, 20, 30, 40, 50;
    # distinct u counts 5, 10, 15, 20, 25
    for i, mu in enumerate((10.0, 20.0, 30.0, 40.0, 50.0)):
        batch = spark.range(0, 100 + 10 * i).select(
            (F.lit(mu) + (F.col("id") % 3) - 1).alias("v"),
            (F.col("id") % (5 + 5 * i)).alias("u"),
        )
        store.write_metrics(eng.validate(batch, seed_suite), run_id=f"r{i}")

    # point path (no store): bounds pin the current batch's mean exactly
    today = spark.range(0, 100).select(
        (F.lit(33.0) + (F.col("id") % 3) - 1).alias("v"),
        (F.col("id") % 12).alias("u"),
    )
    kw_point = resolve_auto(
        today, "expect_column_mean_to_be_between", {"column": "v", "auto": True}
    )
    assert kw_point["min_value"] == kw_point["max_value"]

    # history path: a RANGE spanning the batch-to-batch spread
    kw_range = resolve_auto(
        today,
        "expect_column_mean_to_be_between",
        {"column": "v", "auto": True},
        store=store,
        seed=7,
    )
    assert kw_range["min_value"] < kw_range["max_value"]
    assert 5.0 <= kw_range["min_value"] <= 25.0
    assert 35.0 <= kw_range["max_value"] <= 55.0

    # row-count bounds integer-floor/ceil from history (100..140 rows)
    kw_rc = resolve_auto(
        today, "expect_table_row_count_to_be_between", {"auto": True}, store=store,
        seed=7,
    )
    assert isinstance(kw_rc["min_value"], int) and isinstance(kw_rc["max_value"], int)
    assert kw_rc["min_value"] < kw_rc["max_value"]
    assert 95 <= kw_rc["min_value"] <= 115 and 125 <= kw_rc["max_value"] <= 145

    # the exact median and the unique-value count bootstrap from the series
    # the planner stores under their _reg keys, prefetched in one job
    med = ("expect_column_median_to_be_between", {"column": "v", "auto": True})
    uniq = (
        "expect_column_unique_value_count_to_be_between", {"column": "u", "auto": True}
    )
    hist = fetch_metric_histories(
        store, [["column.median", "v"], ["column.distinct_values.count", "u"]], 2
    )
    assert len(hist) == 2
    kw_med = resolve_auto(today, *med, histories=hist, seed=7)
    assert 5.0 <= kw_med["min_value"] <= 25.0 < 35.0 <= kw_med["max_value"] <= 55.0
    kw_uniq = resolve_auto(today, *uniq, histories=hist, seed=7)
    assert 0 <= kw_uniq["min_value"] <= 12.5 < 17.5 <= kw_uniq["max_value"] <= 30

    # end-to-end through the engine: validates against the band, not the
    # pin. History is scoped to the validated suite's name by default (a
    # shared store holds OTHER suites' metrics under the same keys), so a
    # new suite borrowing another suite's run history must say so
    auto_suite = ExpectationSuite(name="auto-range")
    auto_suite.add("expect_column_mean_to_be_between", column="v", auto=True)
    res = eng.validate(
        today, auto_suite, metrics_store=store, history_suite_name="history"
    )
    assert res.success is True
    cfg = res.results[0].expectation_config
    assert cfg["kwargs"]["min_value"] < 33.0 < cfg["kwargs"]["max_value"]

    # unscoped (default = own name, no history): falls back to point bounds
    res_own = eng.validate(today, auto_suite, metrics_store=store)
    own_kwargs = res_own.results[0].expectation_config["kwargs"]
    assert own_kwargs["min_value"] == own_kwargs["max_value"]

    # insufficient history (< min_runs) falls back to the point estimator
    empty = ResultsStore(spark, str(tmp_path / "nohist"))
    kw_fb = resolve_auto(
        today, "expect_column_mean_to_be_between", {"column": "v", "auto": True},
        store=empty,
    )
    assert kw_fb["min_value"] == kw_fb["max_value"]


def test_auto_history_is_domain_scoped(spark, tmp_path):
    """A conditioned auto=True expectation bootstraps from the
    row_condition domain's OWN metric series — the planner stores
    conditioned aggregates under the rc-suffixed _reg key, and
    auto_history_key must mirror that identity. Before the fix the bare
    [metric, column] key fetched the WHOLE-TABLE history, bounding a
    stable domain by the wrong distribution."""
    from pyspark.sql import functions as F

    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.profiler import auto_history_key, resolve_auto
    from great_expectations_spark.sources.stores import ResultsStore

    # key identity: rc-suffixed, matching the planner's storage key
    bare = auto_history_key("expect_column_mean_to_be_between", {"column": "v"})
    cond = auto_history_key(
        "expect_column_mean_to_be_between",
        {"column": "v", "row_condition": "g = 'a'", "condition_parser": "spark"},
    )
    assert bare == ["column.mean", "v"]
    assert cond[:2] == bare and len(cond) == 3

    store = ResultsStore(spark, str(tmp_path / "domstore"))
    eng = SparkValidationEngine(spark)
    seed = ExpectationSuite(name="history")
    # whole-table mean ~51 per run; domain g='a' mean 1.0 / 1.5 / 2.0
    seed.add(
        "expect_column_mean_to_be_between", column="v", min_value=-1e9, max_value=1e9
    )
    seed.add(
        "expect_column_mean_to_be_between",
        column="v",
        row_condition="g = 'a'",
        condition_parser="spark",
        min_value=-1e9,
        max_value=1e9,
    )

    def batch(i):
        return spark.range(0, 200).select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
            F.when(F.col("id") % 2 == 0, 1.0 + i * 0.5)
            .otherwise(100.0 + i)
            .alias("v"),
        )

    for i in range(3):
        store.write_metrics(eng.validate(batch(i), seed), run_id=f"r{i}")

    kw = resolve_auto(
        batch(1),
        "expect_column_mean_to_be_between",
        {
            "column": "v",
            "auto": True,
            "row_condition": "g = 'a'",
            "condition_parser": "spark",
        },
        store=store,
        seed=7,
        suite_name="history",
    )
    # bounds bracket the DOMAIN's history (means 1.0-2.0), a genuine range
    # — nowhere near the whole-table ~51 series the bare key holds
    assert kw["min_value"] < kw["max_value"]
    assert 0.0 <= kw["min_value"] <= 1.5
    assert 1.5 <= kw["max_value"] <= 5.0


def test_volume_assistant_from_metrics_history(spark, tmp_path):
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.profiler import volume_assistant
    from great_expectations_spark.sources.stores import ResultsStore

    store = ResultsStore(spark, str(tmp_path / "volstore"))
    eng = SparkValidationEngine(spark)
    s = ExpectationSuite(name="daily")
    s.add("expect_table_row_count_to_be_between", min_value=0, max_value=10**12)
    base = spark.range(0, 1000).withColumnRenamed("id", "x")
    for i, n in enumerate((950, 1000, 1050)):
        store.write_metrics(eng.validate(base.limit(n), s), run_id=f"r{i}")

    suite = volume_assistant(store, suite_name="daily")
    (cfg,) = suite.expectations
    assert cfg.expectation_type == "expect_table_row_count_to_be_between"
    assert 950 <= cfg.kwargs["min_value"] <= 1000
    assert 1000 <= cfg.kwargs["max_value"] <= 1050
    assert suite.meta["history_runs"] == 3
    # today's batch inside the historical band passes
    assert eng.validate(base.limit(1000), suite).success is True
    # a collapsed batch fails
    assert eng.validate(base.limit(100), suite).success is False

    import pytest as _pytest

    with _pytest.raises(ValueError, match="historical runs"):
        volume_assistant(store, suite_name="other-suite")


def test_volume_assistant_empty_store_and_duplicate_rows(spark, tmp_path):
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.profiler import volume_assistant
    from great_expectations_spark.sources.stores import ResultsStore

    store = ResultsStore(spark, str(tmp_path / "emptystore"))
    with pytest.raises(ValueError, match="historical runs"):
        volume_assistant(store)  # no metrics table at all → clean error

    eng = SparkValidationEngine(spark)
    s = ExpectationSuite(name="d")
    s.add("expect_table_row_count_to_be_between", min_value=0, max_value=10**12)
    base = spark.range(0, 500).withColumnRenamed("id", "x")
    r1 = eng.validate(base, s)
    store.write_metrics(r1, run_id="r1")
    store.write_metrics(r1, run_id="r1")  # retried run appends a duplicate
    store.write_metrics(eng.validate(base.limit(400), s), run_id="r2")
    suite = volume_assistant(store, min_runs=2)
    # the duplicated r1 row counts once: 2 runs, bounds within [400, 500]
    assert suite.meta["history_runs"] == 2
    kw = suite.expectations[0].kwargs
    assert 400 <= kw["min_value"] <= kw["max_value"] <= 500


def test_auto_history_with_parameterized_column(spark, tmp_path):
    """auto=True + a $PARAMETER-bound column: the history prefetch must key
    on the SUBSTITUTED column name, or bounds silently degrade to a
    single-batch point pin."""
    from pyspark.sql import functions as F

    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.sources.stores import ResultsStore

    store = ResultsStore(spark, str(tmp_path / "phist"))
    eng = SparkValidationEngine(spark)
    seed_suite = ExpectationSuite(name="phistory")
    seed_suite.add(
        "expect_column_mean_to_be_between", column="v", min_value=-1e9, max_value=1e9
    )
    for i, mu in enumerate((10.0, 30.0, 50.0)):
        batch = spark.range(0, 100).select(
            (F.lit(mu) + (F.col("id") % 3) - 1).alias("v")
        )
        store.write_metrics(eng.validate(batch, seed_suite), run_id=f"p{i}")

    suite = ExpectationSuite(name="auto-param")
    suite.add(
        "expect_column_mean_to_be_between",
        column={"$PARAMETER": "target_col"},
        auto=True,
    )
    today = spark.range(0, 100).select((F.lit(33.0) + (F.col("id") % 3) - 1).alias("v"))
    res = eng.validate(
        today,
        suite,
        evaluation_parameters={"target_col": "v"},
        metrics_store=store,
        history_suite_name="phistory",
    )
    assert res.success is True
    kw = res.results[0].expectation_config["kwargs"]
    assert kw["column"] == "v"
    # a RANGE from the 3-run history, not a point pin to today's 33.0
    assert kw["min_value"] < kw["max_value"]
    assert kw["min_value"] < 31 and kw["max_value"] > 35


def test_auto_min_and_max_bound_their_own_metric(spark):
    """auto=True min_to_be_between is a point bound on the batch minimum
    (its metric is column.min) and max_to_be_between one on the maximum;
    neither gets the [min, max] value range."""
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.profiler import resolve_auto

    df = spark.createDataFrame([(3.0,), (7.5,), (11.0,)], ["v"])
    suite = ExpectationSuite(name="auto_min_max")
    suite.add("expect_column_min_to_be_between", column="v", auto=True)
    suite.add("expect_column_max_to_be_between", column="v", auto=True)
    res = SparkValidationEngine(spark).validate(df, suite)
    assert res.success
    mn, mx = (r.expectation_config["kwargs"] for r in res.results)
    assert mn["min_value"] == mn["max_value"] == 3.0
    assert mx["min_value"] == mx["max_value"] == 11.0
    # a bound the caller gave is kept; only the missing one is filled
    kw = resolve_auto(
        df, "expect_column_min_to_be_between", {"column": "v", "auto": True, "min_value": 0}
    )
    assert (kw["min_value"], kw["max_value"]) == (0, 3.0)


def test_volume_assistant_quantiles_match_spark_percentile_approx(spark):
    """volume_assistant's quantiles of the run history equal Spark's
    percentile_approx(..., 10000) on the same per-run counts, ties and
    two-run histories included."""
    import json

    import numpy as np
    from pyspark.sql import functions as F

    from great_expectations_spark.profiler import volume_assistant
    from great_expectations_spark.sources.stores import METRICS_SCHEMA

    rng = np.random.default_rng(11)
    histories = {
        f"h{n}": rng.integers(95, 106, size=n).tolist() for n in (2, 3, 4, 7, 10, 31, 60)
    }
    rows = [
        (f"r{j}", name, json.dumps(["table.row_count"]), None, json.dumps(v))
        for name, counts in histories.items()
        for j, v in enumerate(counts)
    ]
    metrics = spark.createDataFrame(rows, schema=METRICS_SCHEMA)

    for lo_q, hi_q in ((0.025, 0.975), (0.1, 0.9), (0.25, 0.5)):
        expected = {
            r["suite_name"]: tuple(r["q"])
            for r in metrics.groupBy("suite_name")
            .agg(
                F.expr(
                    f"percentile_approx(CAST(value AS BIGINT), array({lo_q}, {hi_q}), 10000)"
                ).alias("q")
            )
            .collect()
        }
        for name, counts in histories.items():
            suite = volume_assistant(
                _MetricsTable(metrics), suite_name=name, quantiles=(lo_q, hi_q)
            )
            kw = suite.expectations[0].kwargs
            assert (kw["min_value"], kw["max_value"]) == expected[name], (name, counts)
            assert suite.meta["history_runs"] == len(counts)


def test_metric_histories_come_in_run_order(spark):
    """fetch_metric_histories lists each key's per-run values in run-id
    order, whatever order the grouped rows arrive in, so a seeded bootstrap
    over one stored history gives one answer."""
    import json

    from great_expectations_spark.profiler import fetch_metric_histories
    from great_expectations_spark.sources.stores import METRICS_SCHEMA

    key = ["column.mean", "v"]
    rows = [
        (f"r{j:02d}", "s", json.dumps(key), None, json.dumps(100.0 + j))
        for j in reversed(range(20))
    ]
    metrics = spark.createDataFrame(rows, schema=METRICS_SCHEMA).repartition(4)
    got = fetch_metric_histories(_MetricsTable(metrics), [key], min_runs=2)
    assert got == {json.dumps(key): [100.0 + j for j in range(20)]}


def test_metric_histories_skip_runs_with_disagreeing_rows(spark):
    """A run whose NULL-keyed rows disagree (partition slices stored without
    a partition key) gives no table value and is left out; a run that wrote
    one value twice (a retried append) counts once."""
    import json

    from great_expectations_spark.profiler import fetch_metric_histories
    from great_expectations_spark.sources.stores import METRICS_SCHEMA

    key = json.dumps(["table.row_count"])
    rows = [
        ("r1", "s", key, None, "100"),
        ("r2", "s", key, None, "110"),
        ("r2", "s", key, None, "110"),
        ("r3", "s", key, None, "40"),
        ("r3", "s", key, None, "35"),
        ("r3", "s", key, None, "25"),
        ("r4", "s", key, None, "120"),
    ]
    metrics = spark.createDataFrame(rows, schema=METRICS_SCHEMA)
    got = fetch_metric_histories(_MetricsTable(metrics), [["table.row_count"]], min_runs=2)
    assert got == {key: [100.0, 110.0, 120.0]}
