"""Expectations needing their own physical pass: referential-integrity
anti-joins, ordered (increasing/decreasing) checks, z-scores (moments as one
scalar subquery), and user-SQL query expectations.

Referential integrity is NEW surface vs the reference (it has no join
operator — SURVEY.md §2.B.7; multi-table checks exist only via user SQL):
implemented as a left-anti equi-join whose strategy Spark/AQE picks —
broadcast-hash when the reference side is small (``broadcast=True`` forces
the hint), sort-merge with AQE skew-split otherwise.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.core.config import ExpectationConfiguration
from great_expectations_spark.core.result import (
    map_verdict,
    validate_metric_value_between,
    validate_mostly,
)
from great_expectations_spark.operators.conditions import MapCondition


def _resolve_ref(planner: Any, kwargs: dict) -> DataFrame:
    ref = kwargs.get("ref")
    if ref is not None:
        return ref
    table = kwargs.get("ref_table")
    if table:
        return planner.spark.table(table)
    raise ValueError("referential expectation needs `ref` (DataFrame) or `ref_table`")


def _compile_exist_in(planner: Any, cfg: ExpectationConfiguration) -> None:
    """expect_column_values_to_exist_in — referential integrity via anti-join.

    unexpected rows = df ⟕̸ ref on (column == ref_column); violation rows are
    exactly the anti-join output (no window, no collect of the ref side).
    """
    kw = cfg.kwargs
    columns = [kw["column"]] if "column" in kw else list(kw["column_list"])
    ref_columns = (
        [kw.get("ref_column") or columns[0]]
        if len(columns) == 1
        else list(kw.get("ref_column_list") or columns)
    )
    mostly = validate_mostly(kw.get("mostly"))
    dom, dom_id = planner._domain(cfg)
    a_elem = planner._reg(("element_count", dom_id), F.count(F.when(dom, F.lit(1))))
    a_nonnull = planner._reg(
        ("nonnull", dom_id, ",".join(columns)),
        F.count(
            F.when(
                dom
                & _all_not_null([F.col(c) for c in columns]),
                F.lit(1),
            )
        ),
    )
    rf = planner.rf
    state: dict[str, Any] = {}

    def _compute() -> None:
        """One anti-join job computes the global violation count, the
        per-partition counts (groupBy over the violation rows — tiny), and
        the sample; decisions (global + every partition) read from here."""
        if "error" in state:
            # the reference query failed once: every later decision (the
            # global one and each partition's) fails the same way without
            # running the anti-join again
            raise state["error"]
        if state:
            return
        multi = False
        try:
            ref = _resolve_ref(planner, kw)
            keys = ref.select(
                *[F.col(rc).alias(f"__ref_{i}") for i, rc in enumerate(ref_columns)]
            ).dropDuplicates()
            if kw.get("broadcast"):
                keys = F.broadcast(keys)
            cond = None
            for i, c in enumerate(columns):
                eq = F.col(c) == F.col(f"__ref_{i}")
                cond = eq if cond is None else (cond & eq)
            base = planner.df.filter(dom & _all_not_null([F.col(c) for c in columns]))
            violations = base.join(keys, on=cond, how="left_anti")
            multi = bool(planner.partition_by) or rf["result_format"] != "BOOLEAN_ONLY"
            if multi:
                violations = violations.persist()
            state["global"] = violations.count()
            if planner.partition_by:
                rows = violations.groupBy(*planner.partition_by).count().collect()
                state["parts"] = {planner._row_pk(r): int(r["count"]) for r in rows}
            if rf["result_format"] != "BOOLEAN_ONLY":
                n = rf["partial_unexpected_count"]
                if len(columns) == 1:
                    rows = violations.select(columns[0]).limit(n).collect()
                    state["sample"] = [r[0] for r in rows]
                else:
                    rows = violations.select(*columns).limit(n).collect()
                    state["sample"] = [json.dumps(list(r), default=str) for r in rows]
        except Exception as e:
            state.clear()
            state["error"] = e
            raise
        finally:
            if multi:
                violations.unpersist()

    def decide(ctx) -> tuple[bool, dict]:
        _compute()
        if ctx.pk is not None:
            unexpected = state.get("parts", {}).get(ctx.pk, 0)
            sample = None
        else:
            unexpected = state["global"]
            sample = state.get("sample")
        return map_verdict(
            rf,
            mostly,
            ctx.metrics[a_elem] or 0,
            ctx.metrics[a_nonnull] or 0,
            unexpected,
            unexpected_list=sample,
        )

    planner._add_item(cfg, decide, partition_capable=True)


def _all_not_null(cols: list[Column]) -> Column:
    cond = cols[0].isNotNull()
    for c in cols[1:]:
        cond = cond & c.isNotNull()
    return cond


def _monotonic_scan(
    df: DataFrame,
    column: str,
    order_by: Optional[str],
    increasing: bool,
    strictly: bool,
    sample_cap: int,
) -> tuple[int, int, list]:
    """Distributed monotonicity check — NO single-task global window.

    With ``order_by``: range-repartition on it (contiguous global ranges per
    partition) + sortWithinPartitions, then ONE vectorized Arrow pass
    (mapInPandas) computes per-partition violation counts and first/last
    boundary values; the driver checks the #partitions−1 boundary pairs.
    Without ``order_by``: same kernel over the existing partitions in scan
    order (zero shuffle — strictly better than the old
    monotonically_increasing_id + Window.orderBy single-task plan).

    Returns (nonnull_count, unexpected_count, sample_values). Equivalent to
    lag(col) over the global ordering: a row violates iff it breaks the
    ordering vs its immediate predecessor; the first global row never does.
    """
    import pandas as pd  # noqa: F401 (Arrow path)

    dt = df.schema[column].dataType.simpleString()
    has_ord = order_by is not None
    cols = [column] + ([order_by] if has_ord and order_by != column else [])
    base = df.select(*cols)
    if has_ord:
        nparts = max(df.sparkSession.sparkContext.defaultParallelism, 2)
        base = base.repartitionByRange(nparts, F.col(order_by)).sortWithinPartitions(
            order_by
        )
        odt = df.schema[order_by].dataType.simpleString()
        rank_field = f"first_o {odt}"
    else:
        base = base.withColumn("_pid", F.spark_partition_id())
        rank_field = "first_o long"
    out_schema = (
        f"n long, viol long, first_v {dt}, last_v {dt}, {rank_field}, "
        f"sample array<{dt}>"
    )

    def kernel(batches):
        n = viol = 0
        first_v = last_v = first_o = prev = None
        seen = False
        sample: list = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            s = pdf[column]
            prev_s = s.shift(1)
            if seen:
                prev_s.iloc[0] = prev  # carry the boundary across Arrow batches
            # compare only where a predecessor exists (object-dtype None
            # comparisons would raise; numeric NaN would mis-cast)
            mask = prev_s.notna()
            sm, pm = s[mask], prev_s[mask]
            if increasing:
                ok = (sm > pm) if strictly else (sm >= pm)
            else:
                ok = (sm < pm) if strictly else (sm <= pm)
            bad = ok[~ok.astype(bool)].index
            viol += len(bad)
            if len(sample) < sample_cap:
                sample.extend(s.loc[bad].head(sample_cap - len(sample)).tolist())
            n += len(s)
            if not seen:
                first_v = s.iloc[0]
                first_o = (
                    pdf[order_by].iloc[0] if has_ord else int(pdf["_pid"].iloc[0])
                )
                seen = True
            prev = last_v = s.iloc[-1]
        if seen:
            import pandas as pd

            yield pd.DataFrame(
                {
                    "n": [n],
                    "viol": [viol],
                    "first_v": [first_v],
                    "last_v": [last_v],
                    "first_o": [first_o],
                    "sample": [sample],
                }
            )

    parts = [r.asDict() for r in base.mapInPandas(kernel, out_schema).collect()]
    parts.sort(key=lambda p: (p["first_o"] is None, p["first_o"]))
    nonnull = sum(p["n"] for p in parts)
    unexpected = sum(p["viol"] for p in parts)
    sample: list = []
    prev_last = None
    for p in parts:
        if prev_last is not None:
            a, b = prev_last, p["first_v"]
            if increasing:
                ok = (b > a) if strictly else (b >= a)
            else:
                ok = (b < a) if strictly else (b <= a)
            if not ok:
                unexpected += 1
                sample.append(b)
        sample.extend(p["sample"] or [])
        prev_last = p["last_v"]
    return nonnull, unexpected, sample[:sample_cap]


def _compile_monotonic(planner: Any, cfg: ExpectationConfiguration, increasing: bool) -> None:
    """expect_column_values_to_be_increasing / _decreasing.

    Reference uses a WINDOW_CONDITION_FN over a global ordering
    (column_values_increasing.py:84-140) — a single-task plan. Here the check
    is distributed: see ``_monotonic_scan`` (range partitioning + vectorized
    per-partition lag + driver-side boundary exchange).
    """
    kw = cfg.kwargs
    column = kw["column"]
    strictly = bool(kw.get("strictly", False))
    order_by = kw.get("order_by")
    mostly = validate_mostly(kw.get("mostly"))
    dom, dom_id = planner._domain(cfg)
    a_elem = planner._reg(("element_count", dom_id), F.count(F.when(dom, F.lit(1))))
    rf = planner.rf

    def decide(ctx) -> tuple[bool, dict]:
        col = F.col(column)
        base = planner.df.filter(dom & col.isNotNull())
        cap = (
            rf["partial_unexpected_count"]
            if rf["result_format"] != "BOOLEAN_ONLY"
            else 0
        )
        nonnull, unexpected, sample = _monotonic_scan(
            base, column, order_by, increasing, strictly, cap
        )
        return map_verdict(
            rf,
            mostly,
            ctx.metrics[a_elem] or 0,
            nonnull,
            unexpected,
            unexpected_list=sample if cap else None,
        )

    planner._add_item(cfg, decide, partition_capable=False)


def _compile_z_scores(planner: Any, cfg: ExpectationConfiguration) -> None:
    """expect_column_value_z_scores_to_be_less_than.

    A map expectation whose condition, |z| < threshold (z < threshold when
    not double-sided), reads the batch's mean and stddev. The reference
    resolves those as metrics before the condition
    (column_values_z_score.py:113-127); here they are one scalar subquery of
    the batch inside the main pass: Catalyst's MergeScalarSubqueries folds the
    moments of every z-score in the suite into one aggregate, run once and
    reused, so per-partition verdicts use the whole batch's moments. The
    counts, samples and verdict are those of every map expectation
    (SuitePlanner._map_decider); this compiler registers only the stddev.

    Deliberate divergence on degenerate domains (stddev undefined — fewer
    than two non-null values — or zero): this engine fails explicitly with
    details.error, where the reference's Spark path folds the degenerate std
    into the condition column (column_values_z_score.py _spark_function) and
    silently vacuous-passes on NULL std / NaN-fails every row on zero std.
    Pinned by tests/test_aggregates.py::test_zscore_degenerate_domains and
    the zmap fuzz grammar.
    """
    kw = cfg.kwargs
    column = kw["column"]
    threshold = float(kw["threshold"])
    double_sided = bool(kw.get("double_sided", True))
    dom, dom_id = planner._domain(cfg)
    col = F.col(column)
    mean = planner.df.select(F.avg(F.when(dom, col)).cast("double")).scalar()
    std = planner.df.select(F.stddev_samp(F.when(dom, col))).scalar()
    # try_divide: a zero or NULL stddev gives NULL, not an ANSI error; such
    # a domain is decided as degenerate below
    z = F.try_divide(col - mean, std)
    expected = (F.abs(z) < threshold) if double_sided else (z < threshold)
    mc = MapCondition(
        expected=expected, considered=col.isNotNull(), value_expr=col, columns=[column]
    )
    a_std = planner._reg(("z_stddev", dom_id, column), F.max(std))
    map_decide = planner._map_decider(cfg, mc)

    def decide(ctx) -> tuple[bool, dict]:
        if not ctx.metrics[a_std]:
            return False, {
                "observed_value": None,
                "details": {"error": "stddev is zero or undefined"},
            }
        return map_decide(ctx)

    planner._add_item(cfg, decide, partition_capable=True)


_QUERY_VIEW = "ge_spark_active_batch"


def _run_user_query(planner: Any, query: str, kwargs: Optional[dict] = None) -> DataFrame:
    """User SQL with placeholders — the escape hatch for arbitrary relational
    ops. {batch}/{active_batch} bind the active batch view (reference:
    query_table.py:68-91); {col}/{col_A}/{col_B} bind the column kwargs the
    same way the reference's query.column / query.column_pair metrics do
    (query_column.py:91-93, query_column_pair.py's col_A/col_B format)."""
    planner.df.createOrReplaceTempView(_QUERY_VIEW)
    q = query.replace("{active_batch}", _QUERY_VIEW).replace("{batch}", _QUERY_VIEW)
    kw = kwargs or {}
    for ph, key in (("col_A", "column_A"), ("col_B", "column_B"), ("col", "column")):
        if "{%s}" % ph in q:
            if key not in kw:
                raise ValueError(f"query uses {{{ph}}} but no {key!r} kwarg given")
            q = q.replace("{%s}" % ph, f"`{kw[key]}`")
    return planner.spark.sql(q)


def _compile_query_no_rows(planner: Any, cfg: ExpectationConfiguration) -> None:
    query = cfg.kwargs["query"]
    qkw = dict(cfg.kwargs)
    rf = planner.rf

    def decide(ctx) -> tuple[bool, dict]:
        res = _run_user_query(planner, query, qkw).persist()
        try:
            n = res.count()
            result: dict[str, Any] = {"observed_value": n}
            if n and rf["result_format"] != "BOOLEAN_ONLY":
                rows = res.limit(rf["partial_unexpected_count"]).collect()
                result["partial_unexpected_list"] = [
                    json.dumps(r.asDict(), default=str) for r in rows
                ]
        finally:
            res.unpersist()
        return n == 0, result

    planner._add_item(cfg, decide, partition_capable=False)


def _compile_query_row_count(planner: Any, cfg: ExpectationConfiguration) -> None:
    kw = cfg.kwargs
    query = kw["query"]

    def decide(ctx) -> tuple[bool, dict]:
        n = _run_user_query(planner, query, kw).count()
        return validate_metric_value_between(
            n,
            kw.get("min_value"),
            kw.get("max_value"),
            bool(kw.get("strict_min", False)),
            bool(kw.get("strict_max", False)),
        )

    planner._add_item(cfg, decide, partition_capable=False)


def _compile_row_count_equal_other_table(planner: Any, cfg: ExpectationConfiguration) -> None:
    """SQL-only in the reference (self_check/util.py:1892) — native here."""
    kw = cfg.kwargs
    dom, dom_id = planner._domain(cfg)
    a_elem = planner._reg(("element_count", dom_id), F.count(F.when(dom, F.lit(1))))

    def decide(ctx) -> tuple[bool, dict]:
        other = kw.get("other_table_ref")
        other_df = other if isinstance(other, DataFrame) else planner.spark.table(
            kw["other_table_name"]
        )
        other_count = other_df.count()
        mine = ctx.metrics[a_elem] or 0
        return bool(mine == other_count), {
            "observed_value": {"self": mine, "other": other_count}
        }

    planner._add_item(cfg, decide, partition_capable=False)


SPECIAL_COMPILERS: dict[str, Callable[[Any, ExpectationConfiguration], None]] = {
    "expect_column_values_to_exist_in": _compile_exist_in,
    "expect_column_values_to_be_increasing": lambda p, c: _compile_monotonic(p, c, True),
    "expect_column_values_to_be_decreasing": lambda p, c: _compile_monotonic(p, c, False),
    "expect_column_value_z_scores_to_be_less_than": _compile_z_scores,
    "expect_query_to_return_no_rows": _compile_query_no_rows,
    "expect_query_row_count_to_be_between": _compile_query_row_count,
    "expect_table_row_count_to_equal_other_table": _compile_row_count_equal_other_table,
}
