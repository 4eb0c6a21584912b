"""Schema-level expectations — resolved driver-side from df.schema, no job.

On Spark, type assertions are schema checks, not row conditions (reference:
expect_column_values_to_be_of_type.py:414-435, 528-560 — resolves
``getattr(pyspark.sql.types, expected_type)`` and isinstance-checks the
column's DataType). Table-shape expectations compare ``df.columns``
(reference: expect_table_columns_to_match_ordered_list.py,
expect_table_column_count_to_be_between.py etc.).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from great_expectations_spark.core.result import validate_metric_value_between

# aliases for user-friendly type names → Spark DataType classes
_TYPE_ALIASES: dict[str, type] = {
    "int": T.IntegerType,
    "integer": T.IntegerType,
    "long": T.LongType,
    "bigint": T.LongType,
    "short": T.ShortType,
    "byte": T.ByteType,
    "float": T.FloatType,
    "double": T.DoubleType,
    "string": T.StringType,
    "str": T.StringType,
    "varchar": T.StringType,
    "boolean": T.BooleanType,
    "bool": T.BooleanType,
    "date": T.DateType,
    "timestamp": T.TimestampType,
    "timestamp_ltz": T.TimestampType,
    "timestamp_ntz": T.TimestampNTZType,
    "binary": T.BinaryType,
    "decimal": T.DecimalType,
}


def resolve_type(name: str) -> type:
    if name in _TYPE_ALIASES:
        return _TYPE_ALIASES[name]
    # Spark class name, e.g. "IntegerType" (reference resolves the same way)
    cls = getattr(T, name, None)
    if cls is None or not isinstance(cls, type) or not issubclass(cls, T.DataType):
        raise ValueError(f"unknown Spark type name: {name}")
    return cls


def _col_type(df: DataFrame, column: str) -> T.DataType:
    return df.schema[column].dataType


def check_of_type(df: DataFrame, kwargs: dict) -> tuple[bool, dict]:
    column = kwargs["column"]
    actual = _col_type(df, column)
    if kwargs.get("type_") is None:
        # None → vacuous pass (reference expect_column_values_to_be_of_type
        # placeholder semantics)
        return True, {"observed_value": type(actual).__name__}
    expected = resolve_type(kwargs["type_"])
    return isinstance(actual, expected), {"observed_value": type(actual).__name__}


def check_in_type_list(df: DataFrame, kwargs: dict) -> tuple[bool, dict]:
    column = kwargs["column"]
    actual = _col_type(df, column)
    if kwargs.get("type_list") is None:
        return True, {"observed_value": type(actual).__name__}
    types = tuple(resolve_type(t) for t in kwargs["type_list"])
    return isinstance(actual, types), {"observed_value": type(actual).__name__}


def check_column_to_exist(df: DataFrame, kwargs: dict) -> tuple[bool, dict]:
    column = kwargs["column"]
    cols = df.columns
    ok = column in cols
    if ok and kwargs.get("column_index") is not None:
        ok = cols.index(column) == int(kwargs["column_index"])
    return ok, {}


def check_columns_match_ordered_list(df: DataFrame, kwargs: dict) -> tuple[bool, dict]:
    if kwargs.get("column_list") is None:
        # null list → vacuously true (reference golden corpus)
        return True, {"observed_value": list(df.columns)}
    expected = list(kwargs["column_list"])
    observed = list(df.columns)
    success = observed == expected
    result: dict[str, Any] = {"observed_value": observed}
    if not success:
        mismatched = []
        for i in range(max(len(expected), len(observed))):
            e = expected[i] if i < len(expected) else None
            o = observed[i] if i < len(observed) else None
            if e != o:
                mismatched.append({"Expected Column Position": i + 1, "Expected": e, "Found": o})
        result["details"] = {"mismatched": mismatched}
    return success, result


def check_columns_match_set(df: DataFrame, kwargs: dict) -> tuple[bool, dict]:
    if kwargs.get("column_set") is None:
        # null set: vacuous subset-match; with exact_match the observed
        # columns are all unexpected (reference golden corpus)
        observed = sorted(df.columns)
        if kwargs.get("exact_match", True):
            return False, {
                "observed_value": observed,
                "details": {"mismatched": {"unexpected": observed}},
            }
        return True, {"observed_value": observed}
    expected = set(kwargs["column_set"])
    observed = set(df.columns)
    exact = kwargs.get("exact_match", True)
    # exact_match=None is treated as subset-match like the reference
    success = observed == expected if exact else expected.issubset(observed)
    result: dict[str, Any] = {"observed_value": sorted(observed)}
    if not success:
        result["details"] = {
            "mismatched": {
                "unexpected": sorted(observed - expected),
                "missing": sorted(expected - observed),
            }
        }
    return success, result


def check_column_count_between(df: DataFrame, kwargs: dict) -> tuple[bool, dict]:
    return validate_metric_value_between(
        len(df.columns),
        kwargs.get("min_value"),
        kwargs.get("max_value"),
        bool(kwargs.get("strict_min", False)),
        bool(kwargs.get("strict_max", False)),
    )


def check_column_count_equal(df: DataFrame, kwargs: dict) -> tuple[bool, dict]:
    n = len(df.columns)
    return n == int(kwargs["value"]), {"observed_value": n}


SCHEMA_CHECKS: dict[str, Callable[[DataFrame, dict], tuple[bool, dict]]] = {
    "expect_column_values_to_be_of_type": check_of_type,
    "expect_column_values_to_be_in_type_list": check_in_type_list,
    "expect_column_to_exist": check_column_to_exist,
    "expect_table_columns_to_match_ordered_list": check_columns_match_ordered_list,
    "expect_table_columns_to_match_set": check_columns_match_set,
    "expect_table_column_count_to_be_between": check_column_count_between,
    "expect_table_column_count_to_equal": check_column_count_equal,
}
