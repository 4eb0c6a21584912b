"""SuitePlanner structure contracts: one dispatch table, one persist lifecycle
(every failure path releases the cache and honours catch_exceptions, and a
run releases only the caches it created), and a pinned Spark job budget so no
refactor silently adds a scan."""

import json
import subprocess
import sys
import uuid

import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql import types as T

from great_expectations_spark import ExpectationSuite, SparkValidationEngine
from great_expectations_spark.operators.images import enrich_images
from great_expectations_spark.plans import planner as planner_mod
from great_expectations_spark.testing.images import distributed_images_df
from perfbench.workloads import canonical, checkpoint_suite, image_suite


def test_dispatch_table_covers_every_family_once():
    # a fresh interpreter with no Spark session: importing the planner alone
    # must register every family, the image map types included
    code = """
import json
from great_expectations_spark.plans import planner
from great_expectations_spark.operators import aggregates, drift, images, schema_checks, special
from great_expectations_spark.operators.conditions import _MAP_BUILDERS
families = {
    "schema": schema_checks.SCHEMA_CHECKS,
    "map": _MAP_BUILDERS,
    "agg": aggregates.AGG_BUILDERS,
    "groupby": planner._GROUPBY_COMPILERS,
    "drift": drift.DRIFT_COMPILERS,
    "special": special.SPECIAL_COMPILERS,
}
print(json.dumps({
    "total": len(planner._COMPILERS),
    "sizes": {k: len(v) for k, v in families.items()},
    "images": sorted(t for t in images.IMAGE_EXPECTATION_TYPES if t in planner._COMPILERS),
    "covered": all(t in planner._COMPILERS for v in families.values() for t in v),
}))
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["sizes"] == {
        "schema": 7, "map": 32, "agg": 11, "groupby": 6, "drift": 8, "special": 7,
    }
    assert len(got["images"]) == 4
    assert got["covered"]
    # no type sits in two families
    assert got["total"] == sum(got["sizes"].values()) == 71


def _rdd_mark(spark) -> int:
    """An id below that of every RDD the session creates from now on."""
    return spark.sparkContext._jsc.sc().newRddId()


def _persistent_rdds(spark, mark: int) -> int:
    """How many persistent RDDs created since mark the session holds. Older
    ones are left out: the session holds persistent RDDs weakly, so one an
    earlier test persisted and dropped (the dedup operators' local
    checkpoints) leaves the session whenever the JVM collects it."""
    return sum(1 for i in spark.sparkContext._jsc.getPersistentRDDs().keys() if i > mark)


def _cached(spark, df, mark: int) -> tuple[int, bool]:
    """(persistent RDDs created since mark, whether df is in the cache)."""
    return _persistent_rdds(spark, mark), df.storageLevel != StorageLevel.NONE


def test_partition_enumeration_failure_releases_persist(spark):
    # a groupBy-only suite registers no bundled aggregate, so the partition
    # keys come from their own query; its failure (missing partition column)
    # takes the same fallback and release path as every other pass
    df = spark.createDataFrame([(1,), (2,), (2,)], ["i"])
    suite = ExpectationSuite("enum")
    suite.add("expect_column_distinct_values_to_be_in_set", column="i", value_set=[1, 2])
    eng = SparkValidationEngine(spark)
    mark = _rdd_mark(spark)

    res = eng.validate(df, suite, partition_by=["missing"], persist=True)
    assert not res.success
    assert res.results[0].exception_info["raised_exception"]
    assert "missing" in res.results[0].exception_info["exception_message"]
    assert _cached(spark, df, mark) == (0, False)

    with pytest.raises(Exception, match="missing"):
        eng.validate(
            df, suite, partition_by=["missing"], persist=True, catch_exceptions=False
        )
    assert _cached(spark, df, mark) == (0, False)


@pytest.mark.parametrize(
    "phase", ["_run_bundles", "_run_groupby", "_run_samples", "_decide"]
)
@pytest.mark.parametrize("catch", [True, False])
def test_every_phase_failure_releases_persist(spark, monkeypatch, phase, catch):
    df = spark.createDataFrame([(float(i % 7),) for i in range(40)], ["x"])
    suite = ExpectationSuite("phases")
    # z-score (its moments subquery) and between -> bundle + sample pass
    # (values above 3 fail); most-common -> groupBy pass
    suite.add("expect_column_value_z_scores_to_be_less_than", column="x", threshold=4.0)
    suite.add("expect_column_values_to_be_between", column="x", min_value=0, max_value=3)
    suite.add("expect_column_most_common_value_to_be_in_set", column="x", value_set=[0.0])

    msg = f"{phase} phase exploded"

    def boom(*args, **kwargs):
        raise RuntimeError(msg)

    monkeypatch.setattr(planner_mod.SuitePlanner, phase, boom)

    eng = SparkValidationEngine(spark)
    mark = _rdd_mark(spark)
    if catch and phase != "_decide":
        res = eng.validate(df, suite, persist=True)
        errors = [
            r.exception_info["exception_message"]
            for r in res.results
            if (r.exception_info or {}).get("raised_exception")
        ]
        assert errors and all(msg in e for e in errors)
    else:
        # decisions carry no isolation fallback: a decider that raises past
        # _decide aborts the run whatever catch_exceptions says
        with pytest.raises(RuntimeError, match=msg):
            eng.validate(df, suite, persist=True, catch_exceptions=catch)
    assert _cached(spark, df, mark) == (0, False)


def _job_count(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def persist_calls(spark, monkeypatch):
    """Every relation SuitePlanner.run persists for its call while the test
    runs (a groupBy pass caching its own grouped frame is not counted). The
    session's concrete DataFrame class overrides persist, so the spy goes
    there."""
    calls = []
    cls = type(spark.range(0))
    persist = cls.persist

    def spy(self, *args, **kwargs):
        if sys._getframe(1).f_code is planner_mod.SuitePlanner.run.__code__:
            calls.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", spy)
    return calls


def _images(spark, n=200):
    return distributed_images_df(spark, n, partitions=4, seed=3)


def _raised(res) -> list:
    return [r for r in res.results if (r.exception_info or {}).get("raised_exception")]


def test_caller_cache_survives_persist_true(spark):
    # persist=True on a frame the caller already cached: the run neither
    # persists nor releases it (it used to unpersist the caller's cache)
    df = spark.createDataFrame([(float(i % 7),) for i in range(40)], ["x"]).cache()
    df.count()
    suite = ExpectationSuite("owned")
    suite.add("expect_column_values_to_be_between", column="x", min_value=0, max_value=3)
    suite.add("expect_column_most_common_value_to_be_in_set", column="x", value_set=[0.0])
    mark = _rdd_mark(spark)
    assert _cached(spark, df, mark) == (0, True)
    try:
        res = SparkValidationEngine(spark).validate(df, suite, persist=True)
        assert not _raised(res)
        assert _cached(spark, df, mark) == (0, True)
    finally:
        df.unpersist()


def test_caller_cached_image_frame_not_released(spark):
    df = enrich_images(_images(spark)).cache()
    df.count()
    mark = _rdd_mark(spark)
    try:
        res = SparkValidationEngine(spark).validate(
            df, image_suite(), result_format="SUMMARY", partition_by=["fmt"]
        )
        assert not _raised(res)
        assert _cached(spark, df, mark) == (0, True)
    finally:
        df.unpersist()


def test_isolation_fallback_releases_every_cache(spark, monkeypatch, persist_calls):
    # avg() over a string column fails the bundled pass; the fallback's
    # single-expectation planners cache what they read of the image input
    # themselves, and every cache made during the call is gone at its end
    suite = image_suite()
    suite.add("expect_column_mean_to_be_between", column="caption", min_value=0, max_value=1)
    fallbacks = []
    run_isolated = planner_mod.SuitePlanner._run_isolated

    def spy(self, *args, **kwargs):
        fallbacks.append(len(self.suite.expectations))
        return run_isolated(self, *args, **kwargs)

    monkeypatch.setattr(planner_mod.SuitePlanner, "_run_isolated", spy)
    df = _images(spark)
    mark = _rdd_mark(spark)
    res = SparkValidationEngine(spark).validate(df, suite, result_format="SUMMARY")
    # the run's fallback and the broken expectation's own planner's one
    assert fallbacks == [len(suite.expectations), 1]
    assert [r.expectation_config["expectation_type"] for r in _raised(res)] == [
        "expect_column_mean_to_be_between"
    ]
    assert len(res.results) == len(suite.expectations)
    assert persist_calls
    assert all(d.storageLevel == StorageLevel.NONE for d in persist_calls)
    assert _cached(spark, df, mark) == (0, False)


@F.pandas_udf(T.LongType())
def _fails_on_seven(ids: pd.Series) -> pd.Series:
    if (ids == 7).any():
        raise ValueError("row 7")
    return ids


def test_unread_python_column_is_never_computed(spark, persist_calls):
    # a Python column no expectation reads stays pruned from every pass, as
    # it is without any cache: it neither triggers a persist nor lands in
    # one, so its failure on one row cannot fail the suite
    eng = SparkValidationEngine(spark)
    plain = spark.range(40).withColumn("x", (F.col("id") % 7).cast("double"))
    suite = ExpectationSuite("unread_udf")
    suite.add("expect_column_values_to_be_between", column="x", min_value=0, max_value=3)
    suite.add("expect_column_most_common_value_to_be_in_set", column="x", value_set=[0.0])
    images = _images(spark)
    image_no = F.substring("image_id", -4, 4).cast("long")
    for df, suite, key, persists in (
        (plain, suite, F.col("id"), 0),
        (images, image_suite(), image_no, 1),
    ):
        expected = canonical(eng.validate(df, suite, result_format="SUMMARY"))
        del persist_calls[:]
        mark = _rdd_mark(spark)
        res = eng.validate(
            df.withColumn("boom", _fails_on_seven(key)),
            suite,
            result_format="SUMMARY",
        )
        assert not _raised(res)
        assert canonical(res) == expected
        assert len(persist_calls) == persists
        assert all("boom" not in d.columns for d in persist_calls)
        assert _cached(spark, df, mark) == (0, False)


def test_no_persist_without_a_repeated_python_scan(spark, lineitem, persist_calls):
    eng = SparkValidationEngine(spark)
    # one pass over a Python input: BOOLEAN_ONLY has no sample pass
    res = eng.validate(_images(spark), image_suite(), result_format="BOOLEAN_ONLY")
    assert not _raised(res)
    # several passes, but no Python in the plan
    res = eng.validate(
        lineitem, checkpoint_suite(), result_format="SUMMARY", partition_by=["l_returnflag"]
    )
    assert not _raised(res)
    # several passes over a frame whose full plan the optimizer rejects (a
    # constant invalid cast in a column no pass reads): the plan probe must
    # not turn that into an exception EVR, and nothing is cached
    df = spark.range(3).withColumn("bad", F.lit("abc").cast("int"))
    suite = ExpectationSuite("unread")
    suite.add("expect_column_values_to_be_between", column="id", min_value=0, max_value=1)
    suite.add("expect_column_most_common_value_to_be_in_set", column="id", value_set=[0])
    res = eng.validate(df, suite)
    assert not _raised(res)
    assert res.results[0].result["unexpected_count"] == 1
    assert persist_calls == []


@pytest.mark.parametrize("partition_by, jobs", [(None, 14), (["l_linestatus"], 20)])
def test_job_budget(spark, lineitem, partition_by, jobs, persist_calls):
    suite = ExpectationSuite("budget")
    suite.add("expect_column_values_to_be_between", column="l_quantity", min_value=1, max_value=45)
    suite.add("expect_column_values_to_be_unique", column="l_orderkey")
    suite.add("expect_column_mean_to_be_between", column="l_extendedprice", min_value=0, max_value=1e9)
    suite.add("expect_column_most_common_value_to_be_in_set", column="l_returnflag", value_set=["N"])
    suite.add(
        "expect_column_value_z_scores_to_be_less_than",
        column="l_extendedprice", threshold=4.0, mostly=0.99,
    )
    suite.add(
        "expect_column_kl_divergence_to_be_less_than",
        column="l_quantity",
        partition_object={"bins": [1.0, 11.0, 21.0, 31.0, 41.0, 51.0], "weights": [0.2] * 5},
        threshold=0.1,
    )
    suite.add("expect_table_columns_to_match_set", column_set=list(lineitem.columns))
    eng = SparkValidationEngine(spark)
    n = _job_count(
        spark,
        lambda: eng.validate(lineitem, suite, result_format="SUMMARY", partition_by=partition_by),
    )
    assert n == jobs
    assert persist_calls == []


def _session_caches(spark, mark: int) -> tuple[int, bool]:
    """(persistent RDDs created since mark, whether the CacheManager holds no
    entry)."""
    return (
        _persistent_rdds(spark, mark),
        spark._jsparkSession.sharedState().cacheManager().isEmpty(),
    )


@pytest.mark.parametrize("case", ["exist_in", "query_no_rows"])
def test_special_pass_failure_releases_its_cache(spark, case):
    # a special pass that persists its own relation releases it when the
    # query behind it fails: the failure is an exception EVR, not a leak
    df = spark.range(10)
    suite = ExpectationSuite("special_failure")
    if case == "query_no_rows":
        etype = "expect_query_to_return_no_rows"
        suite.add(etype, query="SELECT assert_true(id < 3) FROM range(10)")
    else:
        etype = "expect_column_values_to_exist_in"
        ref = spark.range(10).select(_fails_on_seven(F.col("id")).alias("id"))
        suite.add(etype, column="id", ref=ref)
    mark = _rdd_mark(spark)
    before = _session_caches(spark, mark)
    res = SparkValidationEngine(spark).validate(df, suite)
    assert [r.expectation_config["expectation_type"] for r in _raised(res)] == [etype]
    assert _session_caches(spark, mark) == before


@pytest.mark.parametrize("result_format", ["BOOLEAN_ONLY", "SUMMARY"])
def test_exist_in_reference_failure_runs_once(spark, result_format):
    # a reference query that fails is an exception EVR for the global
    # verdict and for each partition's, and it runs once: every later
    # decider re-raises the first failure instead of re-running the
    # anti-join (8 jobs when each of the 6 deciders retried it)
    df = spark.range(50).withColumn("p", F.col("id") % 5)
    ref = spark.range(10).select(_fails_on_seven(F.col("id")).alias("id"))
    suite = ExpectationSuite("exist_in_failure")
    suite.add("expect_column_values_to_exist_in", column="id", ref=ref)
    eng = SparkValidationEngine(spark)
    got = []
    n = _job_count(
        spark,
        lambda: got.append(
            eng.validate(df, suite, result_format=result_format, partition_by=["p"])
        ),
    )
    (res,) = got
    failed = _raised(res) + [
        r for r in res.partition_results if (r.exception_info or {}).get("raised_exception")
    ]
    assert len(failed) == 6 and len(res.partition_results) == 5
    assert all("row 7" in r.exception_info["exception_message"] for r in failed)
    assert n == 3


@pytest.mark.parametrize("result_format", ["BOOLEAN_ONLY", "SUMMARY"])
def test_duplicate_free_key_skips_groupby_attribution(spark, lineitem, result_format):
    # a unique column under partition_by: the duplicate stats show no
    # duplicate, so neither the duplicate sample nor the per-partition
    # semi-join runs (8 jobs when both ran)
    df = lineitem.withColumn("uid", F.monotonically_increasing_id())
    suite = ExpectationSuite("unique_budget")
    suite.add("expect_column_values_to_be_unique", column="uid")
    suite.add("expect_column_values_to_be_between", column="l_quantity", min_value=0, max_value=100)
    eng = SparkValidationEngine(spark)
    got = []
    n = _job_count(
        spark,
        lambda: got.append(
            eng.validate(df, suite, result_format=result_format, partition_by=["l_linestatus"])
        ),
    )
    (res,) = got
    assert res.success and not _raised(res)
    unique = [
        r for r in res.partition_results
        if r.expectation_config["expectation_type"] == "expect_column_values_to_be_unique"
    ]
    assert unique and all(r.success for r in unique)
    assert n == 6
