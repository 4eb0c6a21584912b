"""Physical-plan audit — asserts the plans the engine SHOULD produce, so
plan regressions (lost pushdown, surprise cartesian, global sorts) fail
loudly instead of silently costing 10-100x at scale.

Usage: python tools/plan_audit.py   (exit 0 iff every audit passes)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

FAILURES: list[str] = []


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def check(name: str, df, must: list[str] = (), must_not: list[str] = ()) -> None:
    plan = _plan(df)
    problems = []
    for token in must:
        if token not in plan:
            problems.append(f"missing {token!r}")
    for token in must_not:
        if token in plan:
            problems.append(f"contains {token!r}")
    if problems:
        FAILURES.append(name)
        print(f"FAIL {name}: " + "; ".join(problems))
        print(plan[:1500])
    else:
        print(f"ok   {name}")


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")  # stable plan text
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.operators import dedup, similarity, text
    from great_expectations_spark.plans.planner import SuitePlanner
    from great_expectations_spark.plans.violations import violations_df

    # 1. Column pruning: an aggregate-only suite's bundled pass must read
    #    ONLY the referenced column from the parquet scan.
    s = ExpectationSuite(name="prune")
    s.add("expect_column_mean_to_be_between", column="l_quantity", min_value=0, max_value=100)
    s.add("expect_table_row_count_to_be_between", min_value=1, max_value=10**12)
    p = SuitePlanner(li, s)
    p.compile()
    bundled = li.agg(*p._main_aggs.values())
    plan = _plan(bundled)
    if "ReadSchema: struct<l_quantity" not in plan:
        FAILURES.append("bundle_column_pruning")
        print("FAIL bundle_column_pruning: scan reads more than l_quantity")
        print([ln for ln in plan.splitlines() if "ReadSchema" in ln])
    else:
        print("ok   bundle_column_pruning (scan reads only l_quantity)")

    # 2. Map suite: whole-stage codegen covers the condition evaluation; no
    #    shuffle in the map phase (single partial+final agg pair).
    s2 = ExpectationSuite(name="map")
    s2.add("expect_column_values_to_be_between", column="l_quantity", min_value=1, max_value=50)
    s2.add("expect_column_values_to_be_in_set", column="l_returnflag", value_set=["A", "N", "R"])
    p2 = SuitePlanner(li, s2)
    p2.compile()
    check(
        "map_bundle_codegen",
        li.agg(*p2._main_aggs.values()),
        must=["*(1) HashAggregate"],  # *(n) = whole-stage-codegen stage id
        must_not=["CartesianProduct"],
    )

    # 3. Predicate pushdown: a filtered scan pushes the predicate to parquet.
    check(
        "filter_pushdown",
        li.filter(F.col("l_quantity") > 40).select("l_orderkey"),
        must=["PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"],
    )

    # 4. Top-k compiles to TakeOrderedAndProject (per-partition heaps), never
    #    a global Sort + Limit.
    q = emb.select("embedding").first()[0]
    check(
        "topk_take_ordered",
        similarity.brute_force_topk(emb, q, k=10),
        must=["TakeOrderedAndProject"],
    )

    # 5. Dedup joins are equi-joins (hash/sort-merge), never cartesian.
    sigs = dedup.simhash_signatures(docs.limit(500))
    check(
        "simhash_no_cartesian",
        dedup.simhash_near_pairs(sigs, max_hamming=8),
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )
    check(
        "token_jaccard_no_cartesian",
        dedup.token_jaccard_pairs(docs.limit(500), threshold=0.8, max_df=100),
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )
    check(
        "exact_dedup_semi_join",
        dedup.exact_dedup(docs.limit(500)),
        must=["LeftSemi"],
        must_not=["CartesianProduct"],
    )

    # 6. violations_df with a column projection prunes the scan and keeps
    #    everything in one codegen'd stage (no shuffle, no join).
    s3 = ExpectationSuite(name="viol")
    s3.add("expect_column_values_to_be_between", column="l_quantity", min_value=1, max_value=10)
    v = violations_df(li, s3, columns=["l_orderkey", "l_quantity"])
    plan = _plan(v)
    if "Exchange" in plan:
        FAILURES.append("violations_no_shuffle")
        print("FAIL violations_no_shuffle: unexpected Exchange")
    elif "ReadSchema: struct<l_orderkey" not in plan:
        FAILURES.append("violations_pruned_scan")
        print("FAIL violations_pruned_scan:",
              [ln for ln in plan.splitlines() if "ReadSchema" in ln])
    else:
        print("ok   violations_single_stage (no shuffle, pruned scan)")

    # 7. Text analysis is map-only: zero shuffles.
    check(
        "text_analysis_map_only",
        text.analyze_documents(docs.limit(500)),
        must_not=["Exchange"],
    )

    # 8. Monotonic scan plan contains no Window (the old single-task global
    #    sort) — the distributed path is mapInPandas.
    s4 = ExpectationSuite(name="mono")
    s4.add("expect_column_values_to_be_increasing", column="l_orderkey", order_by="l_orderkey")
    from great_expectations_spark.operators.special import _monotonic_scan  # audit hook
    import inspect

    import ast
    tree = ast.parse(inspect.getsource(_monotonic_scan))
    calls = {
        n.func.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    }
    if "over" in calls or "orderBy" in calls and "Window" in str(calls):
        FAILURES.append("monotonic_no_window")
        print("FAIL monotonic_no_window: Window usage crept back in")
    else:
        print("ok   monotonic_no_window (range partition + Arrow kernel)")

    # 9. Per-partition categorical-drift tops: the groupBy(partition+value)
    #    pass partial-aggregates map-side (partial_count before the Exchange)
    #    and the row_number cap windows ONLY the post-aggregation counts
    #    relation — never raw rows (Window must sit above HashAggregate).
    from pyspark.sql.window import Window as _W

    pg = (
        li.filter(F.col("l_linestatus").isNotNull())
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    capped = pg.withColumn(
        "_rk",
        F.row_number().over(
            _W.partitionBy("l_returnflag").orderBy(F.desc("_cnt"), F.asc("l_linestatus"))
        ),
    ).filter(F.col("_rk") <= 65_537)
    plan = _plan(capped)
    w_at, agg_at = plan.find("Window"), plan.find("HashAggregate")
    if "partial_count" not in plan:
        FAILURES.append("partition_top_map_side_combine")
        print("FAIL partition_top_map_side_combine: no partial aggregation")
    elif w_at == -1 or agg_at == -1 or w_at > agg_at:
        FAILURES.append("partition_top_window_over_agg")
        print("FAIL partition_top_window_over_agg: Window not above the aggregate")
    else:
        print("ok   partition_top (map-side combine; window over post-agg counts only)")

    # Span dedup / contamination: the gram-hash stage must be the codegen'd
    # lead-window shape — no interpreted transform() lambda or F.get chain
    # in the hot path (measured 49x slower), and no cartesian anywhere.
    check(
        "span_dedup_codegen_grams",
        dedup.duplicate_ngram_spans(docs, k=8),
        must=["Window", "xxhash64"],
        must_not=["CartesianProduct", "lambdafunction"],
    )
    check(
        "contamination_no_cartesian",
        dedup.benchmark_contamination(
            docs, docs.filter(F.col("doc_id") % 7 == 0), k=8
        ),
        must=["Window"],
        must_not=["CartesianProduct", "lambdafunction"],
    )

    # Median scale path: with allow_relative_error the bundled agg must use
    # the mergeable GK sketch (approx_percentile / percentile_approx) and
    # contain NO exact percentile node — exact percentile buffers every
    # column value in one ObjectHashAggregate merge buffer (OOM at 10^9+).
    s5 = ExpectationSuite(name="median_scale")
    s5.add(
        "expect_column_median_to_be_between",
        column="l_quantity", min_value=0, max_value=100,
        allow_relative_error=0.001,
    )
    p5 = SuitePlanner(li, s5)
    p5.compile()
    check(
        "median_approx_no_exact_percentile",
        li.agg(*p5._main_aggs.values()),
        must=["percentile_approx("],
        must_not=["percentile("],  # the EXACT node ("percentile_approx("
        # does not contain the substring "percentile(" — the char after
        # "percentile" is "_")
    )

    # z-score moments: the mean and stddev of every z-score merge into one
    # scalar subquery that the bundle reuses wherever it reads them — two
    # scans in all (the bundle's and the moments'), and no join.
    s6 = ExpectationSuite(name="zscore_moments")
    s6.add("expect_column_value_z_scores_to_be_less_than", column="l_quantity", threshold=3.0)
    s6.add("expect_column_value_z_scores_to_be_less_than", column="l_extendedprice", threshold=3.0)
    s6.add("expect_column_values_to_be_between", column="l_discount", min_value=0, max_value=0.1)
    p6 = SuitePlanner(li, s6).compile()
    plan = _plan(li.agg(*p6._main_aggs.values()))
    scans = plan.count("FileScan parquet")
    if scans != 2 or "ReusedSubquery" not in plan or "Cartesian" in plan or "NestedLoop" in plan:
        FAILURES.append("zscore_moments_one_subquery")
        print(f"FAIL zscore_moments_one_subquery: {scans} parquet scans")
        print(plan[:1500])
    else:
        print("ok   zscore_moments_one_subquery (2 scans, moments subquery reused)")

    # top_ngrams: partial agg before the gram shuffle + heap top-k, no
    # global Sort node.
    plan = _plan(text.top_ngrams(docs, n=2, k=10))
    if "TakeOrderedAndProject" not in plan or "partial_count" not in plan:
        FAILURES.append("top_ngrams_heap_topk")
        print("FAIL top_ngrams_heap_topk: expected TakeOrderedAndProject + partial agg")
    else:
        print("ok   top_ngrams (map-side combine + TakeOrderedAndProject)")

    spark.stop()
    print(f"\n{len(FAILURES)} failures: {FAILURES}" if FAILURES else "\nALL PLANS OK")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    raise SystemExit(main())
