"""Harness for replaying the reference's golden JSON test corpus
(/root/reference/tests/test_definitions/*/*.json) against THIS engine.

The corpus is the reference's cross-engine correctness contract (SURVEY.md
§5): inline datasets + per-case kwargs + expected outputs. We build each
dataset as a Spark DataFrame (honoring the per-engine ``schemas.spark``
coercions), run the expectation through SparkValidationEngine at COMPLETE,
and compare success / observed_value / unexpected_list with the reference's
own tolerances (np.allclose rtol=1e-7 atol=5e-2, lists sorted —
self_check/util.py:458-459, 2765-2784).
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
from typing import Any, Optional

import pytest

JSON_ROOT = "/root/reference/tests/test_definitions"

RTOL, ATOL = 1.0e-7, 5.0e-2


def require_corpus() -> None:
    """Skip the calling test when the golden corpus is not on this machine:
    an absent corpus runs zero cases, which says nothing either way."""
    if not os.path.isdir(JSON_ROOT):
        pytest.skip(f"golden corpus absent: {JSON_ROOT} does not exist")


# directories whose cases target engines/semantics we deliberately replaced —
# see DIVERGENT_CASES for per-case skips inside included dirs
INCLUDED_DIRS = (
    "column_map_expectations",
    "column_aggregate_expectations",
    "column_pair_map_expectations",
    "multicolumn_map_expectations",
    "other_expectations",
    "column_distributional_expectations",
)

SPARK_TYPE_MAP = {
    "IntegerType": "int",
    "LongType": "bigint",
    "FloatType": "float",
    "DoubleType": "double",
    "StringType": "string",
    "BooleanType": "boolean",
    "TimestampType": "timestamp",
    "DateType": "date",
    "NullType": "string",
}


def iter_cases():
    """Yield (expectation_type, dataset_index, case) for spark-eligible cases."""
    for d in INCLUDED_DIRS:
        for path in sorted(glob.glob(os.path.join(JSON_ROOT, d, "*.json"))):
            doc = json.load(open(path))
            etype = doc.get("expectation_type") or os.path.splitext(
                os.path.basename(path)
            )[0]
            for i, ds in enumerate(doc.get("datasets", [])):
                for case in ds.get("tests", []):
                    only = case.get("only_for") or []
                    if only and "spark" not in only:
                        continue
                    if "spark" in (case.get("suppress_test_for") or []):
                        continue
                    yield etype, path, i, ds, case


def iter_excluded_cases():
    """The complement of iter_cases: cases the reference runs only on OTHER
    engines (test_reference_golden_extended.py replays them anyway)."""
    for d in INCLUDED_DIRS:
        for path in sorted(glob.glob(os.path.join(JSON_ROOT, d, "*.json"))):
            doc = json.load(open(path))
            etype = doc.get("expectation_type") or os.path.splitext(
                os.path.basename(path)
            )[0]
            for i, ds in enumerate(doc.get("datasets", [])):
                for case in ds.get("tests", []):
                    only = case.get("only_for") or []
                    excluded = (only and "spark" not in only) or "spark" in (
                        case.get("suppress_test_for") or []
                    )
                    if excluded:
                        yield etype, path, i, ds, case


def _infer_spark_type(values: list) -> str:
    kinds = set()
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            kinds.add("boolean")
        elif isinstance(v, int):
            kinds.add("bigint")
        elif isinstance(v, float):
            kinds.add("double")
        elif isinstance(v, str):
            kinds.add("string")
        elif isinstance(v, datetime.datetime):
            kinds.add("timestamp")
        elif isinstance(v, (list, dict)):
            kinds.add("complex")
        else:
            kinds.add("string")
    if not kinds:
        return "string"
    if kinds == {"bigint"}:
        return "bigint"
    if kinds <= {"bigint", "double"}:
        return "double"
    if len(kinds) == 1:
        k = kinds.pop()
        if k == "complex":
            raise ValueError("complex column")
        return k
    raise ValueError(f"mixed column types: {kinds}")


def build_df(spark, ds: dict):
    data = ds["data"]
    schema_hint = (ds.get("schemas") or {}).get("spark") or {}
    cols = list(data.keys())
    n = max((len(v) for v in data.values()), default=0)
    fields = []
    converters = {}
    for c in cols:
        values = data[c]
        if c in schema_hint:
            t = SPARK_TYPE_MAP.get(schema_hint[c])
            if t is None:
                raise ValueError(f"unmapped schema type {schema_hint[c]}")
        else:
            t = _infer_spark_type(values)
        fields.append(f"`{c}` {t}")
        if t == "timestamp":
            converters[c] = _to_ts
        elif t in ("int", "bigint"):
            converters[c] = lambda v: int(v) if v is not None else None
        elif t in ("float", "double"):
            converters[c] = lambda v: float(v) if v is not None else None
        elif t == "boolean":
            converters[c] = lambda v: bool(v) if v is not None else None
        else:
            converters[c] = lambda v: str(v) if v is not None else None
    rows = []
    for i in range(n):
        row = []
        for c in cols:
            vals = data[c]
            v = vals[i] if i < len(vals) else None
            row.append(converters[c](v))
        rows.append(tuple(row))
    return spark.createDataFrame(rows, ", ".join(fields))


def _to_ts(v):
    if v is None or isinstance(v, datetime.datetime):
        return v
    from dateutil import parser

    return parser.parse(str(v))


def _num(v) -> Optional[float]:
    try:
        if isinstance(v, bool):
            return None
        return float(v)
    except (TypeError, ValueError):
        return None


def _as_dt(v) -> Optional[datetime.datetime]:
    if isinstance(v, datetime.datetime):
        return v
    if isinstance(v, str) and len(v) >= 8 and (v[:4].isdigit() or v[:2].isdigit()):
        try:
            from dateutil import parser

            return parser.parse(v)
        except Exception:
            return None
    return None


def _close(a, b) -> bool:
    na, nb = _num(a), _num(b)
    if na is not None and nb is not None:
        if math.isnan(na) and math.isnan(nb):
            return True
        return abs(na - nb) <= ATOL + RTOL * abs(nb)
    da, db = _as_dt(a), _as_dt(b)
    if da is not None and db is not None:
        return da.replace(tzinfo=None) == db.replace(tzinfo=None)
    return a == b


def _sorted_key(v):
    return (str(type(v).__name__), str(v))


def _norm_element(v, kwargs: dict):
    """Normalize an unexpected_list element for comparison: our pair/
    multicolumn samples are JSON structs keyed by column name; the golden
    corpus uses [a, b] lists (pairs) or {col: val} dicts (multicolumn)."""
    if isinstance(v, str) and v[:1] in "{[":
        try:
            d = json.loads(v)
        except ValueError:
            return v
        if isinstance(d, list):
            return tuple(d)
        if "column_A" in kwargs and "column_B" in kwargs:
            return (d.get(kwargs["column_A"]), d.get(kwargs["column_B"]))
        if "column_list" in kwargs:
            return tuple(d.get(c) for c in kwargs["column_list"])
        return v
    if isinstance(v, list):
        return tuple(v)
    if isinstance(v, dict):
        cols = kwargs.get("column_list") or sorted(v)
        return tuple(v.get(c) for c in cols)
    return v


def compare_lists(got: list, want: list, kwargs: Optional[dict] = None) -> bool:
    kwargs = kwargs or {}
    got = [_norm_element(v, kwargs) for v in got]
    want = [_norm_element(v, kwargs) for v in want]
    if len(got) != len(want):
        return False
    gs = sorted(got, key=_sorted_key)
    ws = sorted(want, key=_sorted_key)
    for g, w in zip(gs, ws):
        if isinstance(g, tuple) and isinstance(w, tuple):
            if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
                return False
        elif not _close(g, w):
            return False
    return True


def compare_observed(got, want) -> bool:
    if isinstance(want, dict) and isinstance(got, dict):
        for k, wv in want.items():
            if k not in got:
                return False
            gv = got[k]
            if isinstance(wv, list) and isinstance(gv, list):
                if not all(_close(g, w) for g, w in zip(gv, wv)) or len(gv) != len(wv):
                    return False
            elif not _close(gv, wv):
                return False
        return True
    if isinstance(want, list) and isinstance(got, list):
        return compare_lists(got, want)
    return _close(got, want)


class SkipCase(Exception):
    pass


def run_case(spark, engine, etype: str, ds: dict, case: dict) -> tuple[bool, str]:
    """Returns (passed, detail). Raises SkipCase for unsupported surface."""
    from great_expectations_spark.core.config import ExpectationSuite

    kwargs = {
        k: v
        for k, v in case["in"].items()
        if k not in ("catch_exceptions", "result_format", "include_config", "meta", "auto", "profiler_config")
    }
    out = case.get("out") or {}
    if "result" in out and isinstance(out["result"], dict):
        out = {**out, **out.pop("result")}
    try:
        df = build_df(spark, ds)
    except Exception as e:
        if "traceback_substring" in out:
            return True, "dataset not constructible on spark (error expected)"
        raise SkipCase(f"dataset not constructible: {type(e).__name__}: {e}") from e

    suite = ExpectationSuite(name="golden")
    suite.add(etype, **kwargs)
    result = engine.validate(df, suite, result_format="COMPLETE")
    evr = result.results[0]

    if "traceback_substring" in out:
        ok = bool(evr.exception_info.get("raised_exception")) or not evr.success
        return ok, "expected error" if ok else "expected an error/failure"

    comparable = {"success", "observed_value", "unexpected_list"} & set(out)
    if evr.exception_info.get("raised_exception"):
        if not comparable:
            # empty `out` with catch_exceptions: the reference only asserts
            # the run doesn't crash — an exception EVR is acceptable
            return True, "error tolerated (no expected output)"
        return False, f"engine exception: {evr.exception_info['exception_message']}"

    if "success" in out and bool(evr.success) != bool(out["success"]):
        return False, f"success {evr.success} != {out['success']} (result={evr.result})"

    r = evr.result or {}
    if "observed_value" in out:
        if not compare_observed(r.get("observed_value"), out["observed_value"]):
            return False, f"observed {r.get('observed_value')!r} != {out['observed_value']!r}"
    if "unexpected_list" in out:
        got = r.get("unexpected_list", r.get("partial_unexpected_list", []))
        if not compare_lists(list(got or []), list(out["unexpected_list"]), kwargs):
            return False, f"unexpected_list {got!r} != {out['unexpected_list']!r}"
    # unexpected_index_list is pandas-row-index semantics — not comparable
    return True, "ok"
