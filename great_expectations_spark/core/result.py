"""Validation-result contract.

Reproduces the reference's observable output semantics exactly (WHAT):
- result_format parsing, default partial_unexpected_count=20
  (reference: great_expectations/data_asset/util.py:15-25)
- the four result levels + result payload fields
  (reference: great_expectations/expectations/expectation.py:2619-2749
  ``_format_map_output``)
- map-expectation success logic incl. vacuous truth + ``mostly``
  (reference: expectations/expectation.py:2186-2234, 2752-2780)
- aggregate success logic ``_validate_metric_value_between``
  (reference: expectations/expectation.py:1823-1917)
- suite statistics (reference: validator/validator.py:107-131)
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Optional

RESULT_FORMATS = ("BOOLEAN_ONLY", "BASIC", "SUMMARY", "COMPLETE")


def parse_result_format(result_format: Any) -> dict[str, Any]:
    """Normalize a result_format (str or dict) to a config dict.

    Defaults partial_unexpected_count=20 like the reference
    (data_asset/util.py:15-25).
    """
    if isinstance(result_format, str):
        rf: dict[str, Any] = {"result_format": result_format}
    else:
        rf = dict(result_format or {})
    rf.setdefault("result_format", "BASIC")
    rf["result_format"] = rf["result_format"].upper()
    if rf["result_format"] not in RESULT_FORMATS:
        raise ValueError(f"unknown result_format: {rf['result_format']}")
    rf.setdefault("partial_unexpected_count", 20)
    rf.setdefault("include_unexpected_rows", False)
    return rf


def mostly_success(
    rows_considered: int, unexpected_count: int, mostly: float
) -> bool:
    """success = ((considered - unexpected) / considered) >= mostly.

    Reference: expectations/expectation.py:2770-2780 (_mostly_success).
    """
    if rows_considered == 0:
        return True
    success_ratio = (rows_considered - unexpected_count) / rows_considered
    return success_ratio >= mostly


def validate_mostly(mostly: Any) -> float:
    if mostly is None:
        return 1.0
    m = float(mostly)
    if not (0.0 <= m <= 1.0):
        raise ValueError("mostly must be between 0 and 1")
    return m


def _sort_key(v: Any) -> tuple:
    # deterministic cross-type ordering for partial_unexpected_counts ties
    return (str(type(v).__name__), str(v))


def format_map_output(
    result_format: dict[str, Any],
    success: bool,
    element_count: int,
    nonnull_count: int,
    unexpected_count: int,
    unexpected_list: Optional[list[Any]] = None,
    unexpected_index_list: Optional[list[Any]] = None,
    unexpected_rows: Optional[list[Any]] = None,
) -> dict[str, Any]:
    """Build the result payload per level — the reference's output contract
    (expectations/expectation.py:2619-2749)."""
    out: dict[str, Any] = {"success": success}
    level = result_format["result_format"]
    if level == "BOOLEAN_ONLY":
        return out

    missing_count = element_count - nonnull_count
    if element_count > 0:
        missing_percent = missing_count / element_count * 100
        unexpected_percent_total = unexpected_count / element_count * 100
        if nonnull_count > 0:
            unexpected_percent_nonmissing = unexpected_count / nonnull_count * 100
        else:
            unexpected_percent_nonmissing = None
    else:
        missing_percent = None
        unexpected_percent_total = None
        unexpected_percent_nonmissing = None

    unexpected_list = unexpected_list if unexpected_list is not None else []
    partial_n = result_format["partial_unexpected_count"]

    out["result"] = {
        "element_count": element_count,
        "missing_count": missing_count,
        "missing_percent": missing_percent,
        "unexpected_count": unexpected_count,
        # unexpected_percent = unexpected / NONNULL × 100 (reference
        # :2658-2663 — nonmissing denominator)
        "unexpected_percent": unexpected_percent_nonmissing,
        "unexpected_percent_total": unexpected_percent_total,
        "unexpected_percent_nonmissing": unexpected_percent_nonmissing,
        "partial_unexpected_list": unexpected_list[:partial_n],
    }
    if result_format.get("include_unexpected_rows") and unexpected_rows is not None:
        out["result"]["unexpected_rows"] = unexpected_rows

    if level == "BASIC":
        return out

    # SUMMARY adds top-K value counts sorted by (-count, value)
    # (reference :2707-2737)
    try:
        counts = Counter(unexpected_list)
        partial_unexpected_counts = [
            {"value": v, "count": c}
            for v, c in sorted(
                counts.items(), key=lambda kv: (-kv[1], _sort_key(kv[0]))
            )
        ][:partial_n]
    except TypeError:  # unhashable values
        partial_unexpected_counts = []
    out["result"]["partial_unexpected_counts"] = partial_unexpected_counts
    if unexpected_index_list is not None:
        out["result"]["partial_unexpected_index_list"] = unexpected_index_list[:partial_n]

    if level == "SUMMARY":
        return out

    # COMPLETE adds full lists (reference :2739-2747)
    out["result"]["unexpected_list"] = unexpected_list
    if unexpected_index_list is not None:
        out["result"]["unexpected_index_list"] = unexpected_index_list
    return out


def map_verdict(
    result_format: dict[str, Any],
    mostly: float,
    element_count: int,
    considered: int,
    unexpected_count: int,
    unexpected_list: Optional[list[Any]] = None,
    unexpected_rows: Optional[list[Any]] = None,
    value_counts: Optional[list[tuple[Any, int]]] = None,
    details: Optional[dict[str, Any]] = None,
) -> tuple[bool, dict[str, Any]]:
    """(success, result) of a column-map expectation: the reference's
    _mostly_success over the considered rows plus _format_map_output
    (expectations/expectation.py:2619-2780). BOOLEAN_ONLY returns no result
    fields. value_counts, the exact (value, count) pairs of the unexpected
    values in descending count order, replaces the counts tallied from the
    capped unexpected_list; details merge into result["details"]."""
    success = mostly_success(considered, unexpected_count, mostly)
    if result_format["result_format"] == "BOOLEAN_ONLY":
        return success, {}
    result = format_map_output(
        result_format,
        success,
        element_count,
        considered,
        unexpected_count,
        unexpected_list=unexpected_list,
        unexpected_rows=unexpected_rows,
    )["result"]
    if value_counts is not None:
        result["partial_unexpected_counts"] = [
            {"value": v, "count": c}
            for v, c in value_counts[: result_format["partial_unexpected_count"]]
        ]
    if details:
        result["details"] = {**result.get("details", {}), **details}
    return success, result


def validate_metric_value_between(
    metric_value: Any,
    min_value: Any = None,
    max_value: Any = None,
    strict_min: bool = False,
    strict_max: bool = False,
) -> tuple[bool, dict[str, Any]]:
    """Aggregate success logic: None bounds = unbounded; None/NaN metric →
    success=False with observed_value None.

    Reference: expectations/expectation.py:1823-1917.
    """
    if metric_value is None or (
        isinstance(metric_value, float) and math.isnan(metric_value)
    ):
        return False, {"observed_value": None}
    min_value = _coerce_bound(metric_value, min_value)
    max_value = _coerce_bound(metric_value, max_value)
    above = True
    below = True
    if min_value is not None:
        above = metric_value > min_value if strict_min else metric_value >= min_value
    if max_value is not None:
        below = metric_value < max_value if strict_max else metric_value <= max_value
    return bool(above and below), {"observed_value": metric_value}


def _coerce_bound(metric_value: Any, bound: Any) -> Any:
    """Datetime metrics accept string bounds (reference parses them with
    dateutil — expectations/expectation.py:1823-1917 path)."""
    import datetime as _dt

    if bound is None or not isinstance(metric_value, (_dt.date, _dt.datetime)):
        return bound
    if isinstance(bound, (_dt.date, _dt.datetime)):
        return bound
    if isinstance(bound, str):
        try:
            from dateutil import parser as _p

            parsed = _p.parse(bound)
        except Exception as e:  # pragma: no cover
            raise ValueError(f"cannot parse datetime bound {bound!r}") from e
        if isinstance(metric_value, _dt.datetime):
            return parsed
        return parsed.date()
    raise TypeError(
        f"bound {bound!r} not comparable with datetime metric {metric_value!r}"
    )


@dataclass
class ExpectationValidationResult:
    success: bool
    expectation_config: dict[str, Any]
    result: dict[str, Any] = field(default_factory=dict)
    meta: dict[str, Any] = field(default_factory=dict)
    exception_info: dict[str, Any] = field(
        default_factory=lambda: {
            "raised_exception": False,
            "exception_message": None,
            "exception_traceback": None,
        }
    )
    # partition key this verdict applies to; None = whole-table rollup
    partition: Optional[dict[str, Any]] = None

    def to_dict(self) -> dict[str, Any]:
        return {
            "success": self.success,
            "expectation_config": self.expectation_config,
            "result": self.result,
            "meta": self.meta,
            "exception_info": self.exception_info,
            "partition": self.partition,
        }


@dataclass
class SuiteValidationResult:
    success: bool
    results: list[ExpectationValidationResult]
    statistics: dict[str, Any]
    meta: dict[str, Any] = field(default_factory=dict)
    # per-partition EVRs (partition != None), kept separate from the
    # whole-table results used for `success`/statistics
    partition_results: list[ExpectationValidationResult] = field(default_factory=list)
    # resolved metric values: {"global": {metric_key: value},
    # "partitions": [(partition_key_dict, {metric_key: value}), ...]}
    metrics: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {
            "success": self.success,
            "results": [r.to_dict() for r in self.results],
            "statistics": self.statistics,
            "meta": self.meta,
            "partition_results": [r.to_dict() for r in self.partition_results],
        }


def suite_statistics(results: list[ExpectationValidationResult]) -> dict[str, Any]:
    """Reference: validator/validator.py:107-131."""
    evaluated = len(results)
    successful = sum(1 for r in results if r.success)
    unsuccessful = evaluated - successful
    success_percent = (successful / evaluated * 100) if evaluated else None
    return {
        "evaluated_expectations": evaluated,
        "successful_expectations": successful,
        "unsuccessful_expectations": unsuccessful,
        "success_percent": success_percent,
    }
