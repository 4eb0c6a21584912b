"""Uniqueness (groupBy-count, not window) + referential (anti-join) +
monotonic + query expectations + per-partition rollup verdicts."""

import pytest

from great_expectations_spark import ExpectationSuite, validate


def run_one(df, t, rf="COMPLETE", **kwargs):
    suite = ExpectationSuite("t")
    suite.add(t, **kwargs)
    return validate(df, suite, result_format=rf).results[0]


def test_unique_map(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",), ("c",), ("c",), (None,)], ["k"]
    )
    evr = run_one(df, "expect_column_values_to_be_unique", column="k")
    r = evr.result
    assert evr.success is False
    assert r["element_count"] == 7
    assert r["unexpected_count"] == 5  # 2×b + 3×c
    assert r["details"]["duplicate_value_count"] == 2
    assert sorted(r["partial_unexpected_list"]) == ["b", "b", "c", "c", "c"]


def test_unique_mostly(spark):
    df = spark.createDataFrame([(i % 90,) for i in range(100)], ["k"])
    evr = run_one(df, "expect_column_values_to_be_unique", column="k", mostly=0.5)
    assert evr.success is True


def test_compound_unique(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (1, "x"), (2, "x")], ["a", "b"]
    )
    evr = run_one(df, "expect_compound_columns_to_be_unique", column_list=["a", "b"])
    assert evr.success is False
    assert evr.result["unexpected_count"] == 2  # the two (1, x) rows


def test_compound_unique_ignore_row_if(spark):
    """Reference default ignore_row_if='all_values_are_missing'
    (expect_compound_columns_to_be_unique.py:35, applied by
    get_domain_records, sparkdf_execution_engine.py:522-541): all-NULL key
    rows drop BEFORE grouping instead of counting as duplicates of each
    other; 'any_value_is_missing' drops partially-null rows too; 'never'
    keeps everything."""
    df = spark.createDataFrame(
        [(None, None), (None, None), (1, "x"), (1, None), (1, None), (2, "y")],
        "a int, b string",
    )
    # default: the two (NULL, NULL) rows are ignored; the two (1, NULL)
    # rows still count as duplicates (only ALL-missing rows drop)
    evr = run_one(df, "expect_compound_columns_to_be_unique", column_list=["a", "b"])
    assert evr.success is False
    assert evr.result["unexpected_count"] == 2
    assert evr.result["element_count"] == 6

    # any_value_is_missing: the (1, NULL) rows drop too -> all unique
    evr = run_one(
        df,
        "expect_compound_columns_to_be_unique",
        column_list=["a", "b"],
        ignore_row_if="any_value_is_missing",
    )
    assert evr.success is True
    assert evr.result["unexpected_count"] == 0

    # never: every row considered; both NULL-keyed groups are duplicates
    evr = run_one(
        df,
        "expect_compound_columns_to_be_unique",
        column_list=["a", "b"],
        ignore_row_if="never",
    )
    assert evr.success is False
    assert evr.result["unexpected_count"] == 4


def test_referential_anti_join(spark):
    data = spark.createDataFrame([("i1",), ("i2",), ("i3",), ("i9",), (None,)], ["id"])
    ref = spark.createDataFrame([("i1",), ("i2",), ("i3",), ("i4",)], ["image_id"])
    evr = run_one(
        data,
        "expect_column_values_to_exist_in",
        column="id",
        ref=ref,
        ref_column="image_id",
        broadcast=True,
    )
    r = evr.result
    assert evr.success is False
    assert r["element_count"] == 5
    assert r["missing_count"] == 1
    assert r["unexpected_count"] == 1
    assert r["partial_unexpected_list"] == ["i9"]


def test_referential_fk_testdata(lineitem, orders):
    evr = run_one(
        lineitem,
        "expect_column_values_to_exist_in",
        column="l_orderkey",
        ref=orders,
        ref_column="o_orderkey",
    )
    assert evr.success is True


def test_boolean_only_map_results_are_empty(spark):
    # every map-shaped verdict carries its success alone at BOOLEAN_ONLY
    # (reference _format_map_output), global and per partition
    df = spark.createDataFrame(
        [(i, float(i % 10), i % 3) for i in range(30)] + [(30, 500.0, 1), (30, 1.0, 2)],
        ["id", "v", "k"],
    )
    ref = spark.createDataFrame([(0,), (1,)], ["k"])
    suite = ExpectationSuite("boolean_only")
    suite.add("expect_column_values_to_be_between", column="v", min_value=0, max_value=8)
    suite.add("expect_column_values_to_be_unique", column="id")
    suite.add("expect_column_values_to_exist_in", column="k", ref=ref)
    suite.add("expect_column_values_to_be_increasing", column="v", order_by="id")
    suite.add("expect_column_value_z_scores_to_be_less_than", column="v", threshold=3.0)
    res = validate(df, suite, result_format="BOOLEAN_ONLY", partition_by=["k"])
    assert [r.success for r in res.results] == [False] * 5
    assert [r.result for r in res.results] == [{}] * 5
    assert res.partition_results
    assert all(r.result == {} for r in res.partition_results)


def test_increasing(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 15.0), (4, 30.0)], ["seq", "v"]
    )
    evr = run_one(
        df, "expect_column_values_to_be_increasing", column="v", order_by="seq"
    )
    assert evr.success is False
    assert evr.result["unexpected_count"] == 1
    assert evr.result["partial_unexpected_list"] == [15.0]
    evr = run_one(
        df, "expect_column_values_to_be_decreasing", column="v", order_by="seq"
    )
    assert evr.result["unexpected_count"] == 2


def test_monotonic_distributed_across_partitions(spark):
    """The scale-safe path: violations spanning Arrow-batch / partition
    boundaries are counted exactly, with no global Window (single-task
    stage) anywhere in the plan."""
    n = 50_000
    df = (
        spark.range(0, n, 1, 16)
        .withColumnRenamed("id", "seq")
        .selectExpr("seq", "CASE WHEN seq % 1000 = 500 THEN -seq ELSE seq END AS v")
    )
    evr = run_one(
        df, "expect_column_values_to_be_increasing", column="v", order_by="seq"
    )
    # each dip row violates (v drops), and the row after it violates too
    # (-seq -> seq+1 recovers but compares against the dipped predecessor ok)
    # exact oracle via a driver-side replay:
    rows = [r["v"] for r in df.orderBy("seq").select("v").collect()]
    expected_viol = sum(1 for a, b in zip(rows, rows[1:]) if not b >= a)
    assert evr.result["unexpected_count"] == expected_viol
    assert evr.result["element_count"] == n

    # scan-order path (no order_by): multi-partition range in partition order
    df2 = spark.range(0, 10_000, 1, 8).selectExpr("id AS v")
    evr2 = run_one(df2, "expect_column_values_to_be_increasing", column="v")
    assert evr2.success is True
    assert evr2.result["unexpected_count"] == 0


def test_query_expectations(spark, lineitem):
    evr = run_one(
        lineitem,
        "expect_query_to_return_no_rows",
        query="SELECT * FROM {batch} WHERE l_quantity < 0",
    )
    assert evr.success is True
    evr = run_one(
        lineitem,
        "expect_query_row_count_to_be_between",
        query="SELECT DISTINCT l_returnflag FROM {batch}",
        min_value=3,
        max_value=3,
    )
    assert evr.success is True


def test_query_column_placeholders(spark, lineitem):
    """{col}/{col_A}/{col_B} substitution — reference query.column /
    query.column_pair metric semantics (query_column.py:91-93)."""
    evr = run_one(
        lineitem,
        "expect_query_to_return_no_rows",
        query="SELECT {col} FROM {batch} WHERE {col} IS NULL",
        column="l_quantity",
    )
    assert evr.success is True
    evr = run_one(
        lineitem,
        "expect_query_row_count_to_be_between",
        query="SELECT {col_A}, {col_B} FROM {batch} GROUP BY {col_A}, {col_B}",
        column_A="l_returnflag",
        column_B="l_linestatus",
        min_value=1,
        max_value=10,
    )
    assert evr.success is True
    # {col} without a column kwarg → failed EVR, not a crash
    evr = run_one(
        lineitem,
        "expect_query_to_return_no_rows",
        query="SELECT {col} FROM {batch}",
    )
    assert evr.success is False
    assert evr.exception_info.get("raised_exception") is True


def test_row_count_equal_other_table(lineitem, orders):
    evr = run_one(
        lineitem,
        "expect_table_row_count_to_equal_other_table",
        other_table_ref=orders,
    )
    assert evr.success is False
    assert evr.result["observed_value"]["other"] == orders.count()


def test_partition_rollup_verdicts(spark):
    df = spark.createDataFrame(
        [("png", 1.0), ("png", 2.0), ("png", None), ("jpeg", -5.0), ("jpeg", 3.0)],
        ["fmt", "v"],
    )
    suite = ExpectationSuite("p")
    suite.add("expect_column_values_to_be_between", column="v", min_value=0.0)
    suite.add("expect_column_mean_to_be_between", column="v", min_value=0.0)
    res = validate(df, suite, result_format="BASIC", partition_by=["fmt"])
    # global verdicts
    by_type = {r.expectation_config["expectation_type"]: r for r in res.results}
    assert by_type["expect_column_values_to_be_between"].success is False
    # per-partition verdicts: png passes, jpeg fails
    parts = {
        (r.partition["fmt"], r.expectation_config["expectation_type"]): r
        for r in res.partition_results
    }
    assert parts[("png", "expect_column_values_to_be_between")].success is True
    assert parts[("jpeg", "expect_column_values_to_be_between")].success is False
    png_map = parts[("png", "expect_column_values_to_be_between")].result
    assert png_map["element_count"] == 3
    assert png_map["missing_count"] == 1
    assert parts[("jpeg", "expect_column_mean_to_be_between")].result["observed_value"] == -1.0


def test_referential_per_partition_verdicts(spark, orders):
    """Referential integrity emits per-partition pass/fail + violation counts
    (north rule) from ONE anti-join job."""
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine
    from pyspark.sql import functions as F

    cust_subset = (
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .filter(F.col("c_custkey") <= 75)
    )
    s = ExpectationSuite(name="refp")
    s.add(
        "expect_column_values_to_exist_in",
        column="o_custkey",
        ref=cust_subset,
        ref_column="c_custkey",
        broadcast=True,
    )
    res = SparkValidationEngine(spark).validate(
        orders, s, partition_by=["o_orderstatus"]
    )
    assert res.partition_results, "no per-partition verdicts"
    for evr in res.partition_results:
        status = evr.partition["o_orderstatus"]
        want = (
            orders.filter(F.col("o_orderstatus") == status)
            .join(
                cust_subset.select(F.col("c_custkey").alias("k")),
                on=F.col("o_custkey") == F.col("k"),
                how="left_anti",
            )
            .count()
        )
        assert evr.result["unexpected_count"] == want, status
    total = sum(e.result["unexpected_count"] for e in res.partition_results)
    assert res.results[0].result["unexpected_count"] == total > 0


def test_uniqueness_per_partition_verdicts(spark, orders):
    """Globally-duplicated values are attributed to the partitions of their
    rows (north rule: per-partition pass/fail for uniqueness)."""
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine
    from pyspark.sql import functions as F

    s = ExpectationSuite(name="uniqp")
    s.add("expect_column_values_to_be_unique", column="o_custkey")
    res = SparkValidationEngine(spark).validate(
        orders, s, partition_by=["o_orderstatus"]
    )
    assert res.partition_results
    dup_vals = (
        orders.groupBy("o_custkey").count().filter("count > 1").select("o_custkey")
    )
    for evr in res.partition_results:
        status = evr.partition["o_orderstatus"]
        want = (
            orders.filter(F.col("o_orderstatus") == status)
            .join(dup_vals, "o_custkey", "left_semi")
            .count()
        )
        assert evr.result["unexpected_count"] == want, status
    total = sum(e.result["unexpected_count"] for e in res.partition_results)
    assert res.results[0].result["unexpected_count"] == total > 0


def test_unique_respects_row_condition(spark):
    """The groupBy pass must compute duplicates over the SAME row_condition
    domain element_count uses — before the fix it counted whole-table dups
    (element_count 3, unexpected 4, missing_count -2)."""
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "b"), (3, "b")], ["v", "g"]
    )
    evr = run_one(
        df,
        "expect_column_values_to_be_unique",
        column="v",
        row_condition="g = 'b'",
        condition_parser="spark",
    )
    r = evr.result
    assert r["element_count"] == 3
    assert r["unexpected_count"] == 2  # the two 2s; the 1s are out of domain
    assert r["missing_count"] == 0
    assert r["details"]["distinct_count_exact"] == 2
    assert evr.success is False

    evr = run_one(
        df,
        "expect_compound_columns_to_be_unique",
        column_list=["v", "g"],
        row_condition="g = 'b'",
        condition_parser="spark",
    )
    assert evr.result["element_count"] == 3
    assert evr.result["unexpected_count"] == 2  # the two (2, b) rows

    # groupBy-backed set/mode expectations restrict the observed values too
    evr = run_one(
        df,
        "expect_column_distinct_values_to_equal_set",
        column="v",
        value_set=[2, 3],
        row_condition="g = 'b'",
        condition_parser="spark",
    )
    assert evr.success is True
    assert evr.result["observed_value"] == [2, 3]

    evr = run_one(
        df,
        "expect_column_most_common_value_to_be_in_set",
        column="v",
        value_set=[2],
        row_condition="g = 'b'",
        condition_parser="spark",
    )
    assert evr.success is True
    assert evr.result["observed_value"] == [2]
