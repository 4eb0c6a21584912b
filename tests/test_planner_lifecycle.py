"""SuitePlanner structure contracts: one dispatch table, one persist lifecycle
(every failure path releases the cache and honours catch_exceptions), and a
pinned Spark job budget so no refactor silently adds a scan."""

import json
import subprocess
import sys
import uuid

import pytest
from pyspark import StorageLevel

from great_expectations_spark import ExpectationSuite, SparkValidationEngine
from great_expectations_spark.plans import planner as planner_mod


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


def _cached(spark, df) -> tuple[int, bool]:
    """(persistent RDD count of the session, whether df is in the cache)."""
    n = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    return n, df.storageLevel != StorageLevel.NONE


def test_partition_enumeration_failure_releases_persist(spark):
    # a groupBy-only suite registers no bundled aggregate, so the partition
    # keys come from their own query; its failure (missing partition column)
    # takes the same fallback and release path as every other pass
    df = spark.createDataFrame([(1,), (2,), (2,)], ["i"])
    suite = ExpectationSuite("enum")
    suite.add("expect_column_distinct_values_to_be_in_set", column="i", value_set=[1, 2])
    eng = SparkValidationEngine(spark)
    before, _ = _cached(spark, df)

    res = eng.validate(df, suite, partition_by=["missing"], persist=True)
    assert not res.success
    assert res.results[0].exception_info["raised_exception"]
    assert "missing" in res.results[0].exception_info["exception_message"]
    assert _cached(spark, df) == (before, False)

    with pytest.raises(Exception, match="missing"):
        eng.validate(
            df, suite, partition_by=["missing"], persist=True, catch_exceptions=False
        )
    assert _cached(spark, df) == (before, False)


@pytest.mark.parametrize(
    "phase", ["prerequisite", "_run_bundles", "_run_groupby", "_run_samples", "_decide"]
)
@pytest.mark.parametrize("catch", [True, False])
def test_every_phase_failure_releases_persist(spark, monkeypatch, phase, catch):
    df = spark.createDataFrame([(float(i % 7),) for i in range(40)], ["x"])
    suite = ExpectationSuite("phases")
    # z-score -> prerequisite pass; between -> bundle + sample pass (values
    # above 3 fail); most-common -> groupBy pass
    suite.add("expect_column_value_z_scores_to_be_less_than", column="x", threshold=4.0)
    suite.add("expect_column_values_to_be_between", column="x", min_value=0, max_value=3)
    suite.add("expect_column_most_common_value_to_be_in_set", column="x", value_set=[0.0])

    msg = f"{phase} phase exploded"

    def boom(*args, **kwargs):
        raise RuntimeError(msg)

    if phase == "prerequisite":
        # the phase-0 agg is inline in run(); its deferred finalisers run
        # right after it, so an appended one fails phase 0 from inside
        compile_ = planner_mod.SuitePlanner.compile

        def compile_then_fail_prereq(self):
            compile_(self)
            self._deferred.append(boom)
            return self

        monkeypatch.setattr(planner_mod.SuitePlanner, "compile", compile_then_fail_prereq)
    else:
        monkeypatch.setattr(planner_mod.SuitePlanner, phase, boom)

    eng = SparkValidationEngine(spark)
    before, _ = _cached(spark, df)
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
    assert _cached(spark, df) == (before, False)


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


@pytest.mark.parametrize("partition_by, jobs", [(None, 9), (["l_linestatus"], 15)])
def test_job_budget(spark, lineitem, partition_by, jobs):
    suite = ExpectationSuite("budget")
    suite.add("expect_column_values_to_be_between", column="l_quantity", min_value=1, max_value=45)
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
