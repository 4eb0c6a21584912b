"""Python-kernel inputs are decoded once per validate: SuitePlanner.run
persists the columns the suite reads when computing them runs Python and
more than one pass reads them, and the persisted path gives the same EVRs as
the unpersisted one."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from great_expectations_spark import SparkValidationEngine
from great_expectations_spark.core.config import ExpectationSuite
from great_expectations_spark.operators.images import enrich_images
from great_expectations_spark.testing.images import distributed_images_df
from perfbench.workloads import canonical, image_suite

N = 4000


def _validate(spark, df, result_format, **kw):
    res = SparkValidationEngine(spark).validate(df, image_suite(), result_format=result_format, **kw)
    assert not any((r.exception_info or {}).get("raised_exception") for r in res.results)
    return res


@pytest.mark.parametrize(
    "result_format, partition_by",
    [("SUMMARY", ["fmt"]), ("COMPLETE", None), ("BASIC", None), ("BOOLEAN_ONLY", None)],
)
def test_kernel_rows_once_per_call(spark, result_format, partition_by):
    # a pass-through kernel over `bytes` counts the rows Python workers see;
    # without the persist the sample pass re-decodes (2N) and each BASIC
    # limit branch re-runs the whole kernel chain (5N)
    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("binary")
    def tap(s: pd.Series) -> pd.Series:
        seen.add(len(s))
        return s

    df = distributed_images_df(spark, N, partitions=4, seed=5).withColumn(
        "bytes", tap(F.col("bytes"))
    )
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    res = _validate(spark, df, result_format, partition_by=partition_by)
    if result_format != "BOOLEAN_ONLY":
        # planted violations: the sample pass has rows to draw
        assert any(r.result.get("unexpected_count") for r in res.results)
    assert seen.value == N
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == before


@pytest.fixture(scope="module")
def image_inputs(spark, tmp_path_factory):
    """(raw images, a parquet copy of enrich_images(raw)). The copy already
    holds `_decoded`, so its plan has no Python and validate scans it
    unpersisted — the old path."""
    root = tmp_path_factory.mktemp("decode_once")
    distributed_images_df(spark, N, partitions=4, seed=9).write.parquet(str(root / "raw"))
    raw = spark.read.parquet(str(root / "raw"))
    enrich_images(raw).write.parquet(str(root / "enriched"))
    return raw, spark.read.parquet(str(root / "enriched"))


@pytest.mark.parametrize("result_format", ["SUMMARY", "COMPLETE"])
def test_persisted_path_matches_unpersisted(spark, image_inputs, result_format):
    raw, reference = image_inputs
    new = canonical(_validate(spark, raw, result_format, partition_by=["fmt"]))
    old = canonical(_validate(spark, reference, result_format, partition_by=["fmt"]))
    assert new == old
    # global and per-fmt EVRs both compared, and the samples are non-trivial
    assert len(new) > len(image_suite().expectations)
    assert any('"partial_unexpected_counts": [{' in v for v in new.values())


def test_basic_samples_match_unpersisted_on_one_partition(spark, image_inputs):
    # enrich_images round-robin repartitions a 1-partition input, so which n
    # violations come "first" depends on the plan on either side: compare the
    # sample's size and membership, and every other field exactly
    raw, reference = image_inputs
    new = _validate(spark, raw.coalesce(1), "BASIC")
    old = _validate(spark, reference, "BASIC")
    complete = _validate(spark, reference, "COMPLETE")
    unexpected = {
        json.dumps(r.expectation_config, sort_keys=True): r.result.get("unexpected_list")
        for r in complete.results
    }
    assert len(new.results) == len(old.results)
    sampled = 0
    for a, b in zip(new.results, old.results):
        assert a.expectation_config == b.expectation_config
        assert a.success == b.success and a.exception_info == b.exception_info
        ra, rb = dict(a.result), dict(b.result)
        la = ra.pop("partial_unexpected_list", None)
        lb = rb.pop("partial_unexpected_list", None)
        assert ra == rb
        assert (la is None) == (lb is None)
        if la is not None:
            assert len(la) == len(lb)
            pool = unexpected[json.dumps(a.expectation_config, sort_keys=True)]
            assert all(v in pool for v in la)
            sampled += len(la)
    assert sampled > 0


@pytest.mark.parametrize("partition_by", [None, ["p"]])
@pytest.mark.parametrize("threshold, passes", [(1.5, 3), (10.0, 2)])
def test_zscore_suite_kernel_rows_per_call(spark, partition_by, threshold, passes):
    # a z-score suite is covered by the call cache: the bundle fills it and
    # the moments subquery reads the input once more (2N); the sample query
    # re-runs the subquery only when the z-score has unexpected rows (3N).
    # `id` is read by no pass, so the cache is a projection of the input
    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("double")
    def tap(s: pd.Series) -> pd.Series:
        seen.add(len(s))
        return s

    df = (
        spark.range(N, numPartitions=4)
        .select("id", (F.col("id") % 11).cast("double").alias("x"), (F.col("id") % 3).alias("p"))
        .withColumn("x", tap(F.col("x")))
    )
    suite = ExpectationSuite("zscore_kernel")
    suite.add("expect_column_value_z_scores_to_be_less_than", column="x", threshold=threshold)
    suite.add("expect_column_values_to_be_between", column="x", min_value=0, max_value=8)
    suite.add("expect_column_most_common_value_to_be_in_set", column="x", value_set=[0.0])
    res = SparkValidationEngine(spark).validate(
        df, suite, result_format="SUMMARY", partition_by=partition_by
    )
    z = res.results[0]
    assert not z.exception_info["raised_exception"]
    assert (z.result["unexpected_count"] > 0) == (passes == 3)
    assert res.results[1].result["unexpected_count"] > 0
    assert seen.value == passes * N
