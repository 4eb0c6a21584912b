"""Aggregate-expectation compiler.

Each aggregate expectation contributes lazy Catalyst aggregate expressions to
the suite's single bundled pass (``df.rollup(parts).agg(*exprs)``) and a pure-
Python decision function over the resolved metric values.

Mirrors the reference's column-aggregate metric semantics (SURVEY.md §2.B.2;
e.g. column_max.py:66-85 ``F.max``, column_standard_deviation.py:58-60
``F.stddev_samp``, column_quantile_values.py:177-208 approxQuantile) and the
``_validate_metric_value_between`` decision logic
(expectations/expectation.py:1823-1917).

Domain filters are folded into the aggregate expressions themselves
(``F.max(F.when(dom, col))``) so expectations with different row_conditions
still share ONE scan; when the domain is the whole batch the ``when(true, c)``
is constant-folded away by Catalyst.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

from great_expectations_spark.core.result import validate_metric_value_between

# reg(key_parts, expr) -> alias registered in the planner's bundled agg
RegFn = Callable[[tuple, Column], str]
DecideFn = Callable[[Mapping[str, Any]], tuple[bool, dict]]


def _between_kwargs(kwargs: dict) -> dict:
    return dict(
        min_value=kwargs.get("min_value"),
        max_value=kwargs.get("max_value"),
        strict_min=bool(kwargs.get("strict_min", False)),
        strict_max=bool(kwargs.get("strict_max", False)),
    )


def _value_between_decider(alias: str, kwargs: dict) -> DecideFn:
    bk = _between_kwargs(kwargs)

    def decide(m: Mapping[str, Any]) -> tuple[bool, dict]:
        return validate_metric_value_between(m[alias], **bk)

    return decide


def _dom_col(dom: Column, col: Column) -> Column:
    return F.when(dom, col)


def _validate_rel_err(value: Any) -> float:
    """allow_relative_error must be a real number in [0, 1) — the
    reference's Spark engine raises on anything else
    (column_quantile_values.py allow_relative_error handling); a silently
    accepted True would mean accuracy=1 (~100% error) and garbage
    observed values."""
    if value is None:
        return 0.0
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        raise ValueError(
            f"allow_relative_error must be a number in [0, 1), got {value!r}"
        )
    v = float(value)
    if not (0.0 <= v < 1.0):
        raise ValueError(
            f"allow_relative_error must be in [0, 1), got {value!r}"
        )
    return v


def _simple_agg(metric: str, fn: Callable[[Column], Column]):
    def build(kwargs: dict, dom: Column, reg: RegFn) -> DecideFn:
        name = kwargs["column"]
        alias = reg((metric, name), fn(_dom_col(dom, F.col(name))))
        return _value_between_decider(alias, kwargs)

    return build


def _build_median(kwargs: dict, dom: Column, reg: RegFn) -> DecideFn:
    name = kwargs["column"]
    col = _dom_col(dom, F.col(name))
    rel_err = _validate_rel_err(kwargs.get("allow_relative_error"))
    if rel_err > 0:
        # Greenwald-Khanna mergeable sketch — the scale path: Spark's exact
        # percentile is an ObjectHashAggregate that buffers EVERY value of
        # the column in the final merge buffer (~0.5 GB at 60M rows; OOM at
        # 10^9+), so big batches opt in here exactly like
        # expect_column_quantile_values_*'s allow_relative_error. The
        # sketch used is surfaced as details.method (the bootstrapped-KS
        # precedent).
        accuracy = max(1, int(1.0 / float(rel_err)))
        alias = reg(
            ("column.median.approx", name, accuracy),
            F.percentile_approx(col, F.lit(0.5), F.lit(accuracy)),
        )
        bk = _between_kwargs(kwargs)

        def decide(m: Mapping[str, Any]) -> tuple[bool, dict]:
            ok, res = validate_metric_value_between(m[alias], **bk)
            res.setdefault("details", {})["method"] = (
                f"percentile_approx(accuracy={accuracy})"
            )
            return ok, res

        return decide
    # exact interpolated median — matches DuckDB/pandas `median`; the
    # reference uses rel-err-0 approxQuantile (column_median.py:87-117)
    alias = reg(("column.median", name), F.percentile(col, F.lit(0.5)))
    return _value_between_decider(alias, kwargs)


def _build_quantile_values(kwargs: dict, dom: Column, reg: RegFn) -> DecideFn:
    name = kwargs["column"]
    qr = kwargs["quantile_ranges"]
    quantiles = list(qr["quantiles"])
    value_ranges = list(qr["value_ranges"])
    rel_err = _validate_rel_err(kwargs.get("allow_relative_error"))
    pct = F.array(*[F.lit(float(x)) for x in quantiles])
    col = _dom_col(dom, F.col(name))
    if rel_err > 0:
        # Greenwald-Khanna/KLL-style mergeable approximate quantiles — the
        # scale path (single-pass, no sort; reference uses
        # df.approxQuantile at column_quantile_values.py:177-208)
        accuracy = max(1, int(1.0 / float(rel_err)))
        expr = F.percentile_approx(col, pct, F.lit(accuracy))
        key = ("column.quantile_values.approx", name, tuple(quantiles), accuracy)
    else:
        expr = F.percentile(col, pct)
        key = ("column.quantile_values", name, tuple(quantiles))
    alias = reg(key, expr)

    def decide(m: Mapping[str, Any]) -> tuple[bool, dict]:
        values = m[alias]
        if values is None:
            return False, {"observed_value": None}
        values = list(values)
        ok = True
        for v, (lo, hi) in zip(values, value_ranges):
            above = v >= lo if lo is not None else True
            below = v <= hi if hi is not None else True
            ok = ok and above and below
        return bool(ok), {
            "observed_value": {"quantiles": quantiles, "values": values}
        }

    return decide


def _build_unique_value_count(kwargs: dict, dom: Column, reg: RegFn) -> DecideFn:
    name = kwargs["column"]
    # distinct=True → isolated bundle (a count_distinct inside the shared
    # bundle would re-key EVERY metric's buffer by the distinct value)
    alias = reg(
        ("column.distinct_values.count", name),
        F.count_distinct(_dom_col(dom, F.col(name))),
        distinct=True,
    )
    return _value_between_decider(alias, kwargs)


def _build_proportion_unique(kwargs: dict, dom: Column, reg: RegFn) -> DecideFn:
    name = kwargs["column"]
    col = F.col(name)
    a_distinct = reg(
        ("column.distinct_values.count", name),
        F.count_distinct(_dom_col(dom, col)),
        distinct=True,
    )
    a_nonnull = reg(("column.nonnull_count", name), F.count(_dom_col(dom, col)))
    bk = _between_kwargs(kwargs)

    def decide(m: Mapping[str, Any]) -> tuple[bool, dict]:
        nonnull = m[a_nonnull] or 0
        prop = (m[a_distinct] / nonnull) if nonnull else 0
        return validate_metric_value_between(prop, **bk)

    return decide


def _build_row_count_between(kwargs: dict, dom: Column, reg: RegFn) -> DecideFn:
    alias = reg(("table.row_count",), F.count(_dom_col(dom, F.lit(1))))
    return _value_between_decider(alias, kwargs)


def _build_row_count_equal(kwargs: dict, dom: Column, reg: RegFn) -> DecideFn:
    alias = reg(("table.row_count",), F.count(_dom_col(dom, F.lit(1))))
    target = kwargs["value"]

    def decide(m: Mapping[str, Any]) -> tuple[bool, dict]:
        v = m[alias]
        return bool(v == target), {"observed_value": v}

    return decide


AGG_BUILDERS: dict[str, Callable[[dict, Column, RegFn], DecideFn]] = {
    "expect_column_max_to_be_between": _simple_agg("column.max", F.max),
    "expect_column_min_to_be_between": _simple_agg("column.min", F.min),
    "expect_column_mean_to_be_between": _simple_agg("column.mean", F.avg),
    "expect_column_sum_to_be_between": _simple_agg("column.sum", F.sum),
    "expect_column_stdev_to_be_between": _simple_agg(
        "column.standard_deviation", F.stddev_samp
    ),
    "expect_column_median_to_be_between": _build_median,
    "expect_column_quantile_values_to_be_between": _build_quantile_values,
    "expect_column_unique_value_count_to_be_between": _build_unique_value_count,
    "expect_column_proportion_of_unique_values_to_be_between": _build_proportion_unique,
    "expect_table_row_count_to_be_between": _build_row_count_between,
    "expect_table_row_count_to_equal": _build_row_count_equal,
}
