"""SparkValidationEngine — the user-facing facade.

    engine = SparkValidationEngine(spark)
    result = engine.validate(df, suite, result_format="SUMMARY",
                             partition_by=["fmt"])

One call = the reference's Validator.validate (validator/validator.py:1782-
2065) + the Spark execution engine, compiled into the minimal set of Spark
jobs by plans/planner.py.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from great_expectations_spark.core.config import ExpectationSuite
from great_expectations_spark.core.result import SuiteValidationResult
from great_expectations_spark.plans.planner import SuitePlanner


class SparkValidationEngine:
    def __init__(self, spark: Optional[SparkSession] = None) -> None:
        self.spark = spark

    def validate(
        self,
        df: DataFrame,
        suite: ExpectationSuite,
        result_format: Any = "BASIC",
        partition_by: Optional[list[str]] = None,
        persist: bool = False,
        meta: Optional[dict] = None,
        evaluation_parameters: Optional[dict] = None,
        urn_resolver: Any = None,
        metrics_store: Any = None,
        history_suite_name: Optional[str] = None,
        catch_exceptions: bool = True,
    ) -> SuiteValidationResult:
        """``urn_resolver``: callable (urn string → value) used by
        ``{"$PARAMETER": "urn:great_expectations:validations:..."}`` kwargs —
        pass ``ResultsStoreUrnResolver(store)`` (core/eval_params.py) to
        chain suites against a results store.

        ``metrics_store``: a ResultsStore whose cross-run metric history
        upgrades ``auto=True`` bounds from single-batch point estimates to
        multi-batch bootstrap ranges (profiler.resolve_auto). History is
        scoped to THIS suite's stored runs by default — a shared store root
        holds every suite's metrics under the same keys, and unscoped
        lookups would bootstrap bounds from other tables' volumes; pass
        ``history_suite_name`` to bootstrap a new suite from another
        suite's run history instead.

        ``persist``: True caches ``df`` for the call. Without it the call
        still caches the columns of ``df`` the suite reads when computing
        them runs Python (a pandas_udf kernel such as the image decode) and
        more than one pass reads them, so each row goes through the kernel
        once; a Python column no expectation reads is never computed. Either
        cache is released before the call returns; an input the caller
        already cached is used as is and stays cached.

        ``catch_exceptions``: True (default, the reference's graph_validate
        default — validator.py:956) captures per-expectation failures as
        exception EVRs; False re-raises the first failure out of this call,
        aborting the run, exactly like the reference's runtime_configuration
        {"catch_exceptions": False}."""
        planner = SuitePlanner(
            df,
            suite,
            result_format=result_format,
            partition_by=partition_by,
            spark=self.spark or df.sparkSession,
            persist=persist,
            evaluation_parameters=evaluation_parameters,
            urn_resolver=urn_resolver,
            metrics_store=metrics_store,
            history_suite_name=history_suite_name,
            catch_exceptions=catch_exceptions,
        )
        return planner.run(meta=meta)

    def violations(
        self,
        df: DataFrame,
        suite: ExpectationSuite,
        columns: Optional[list[str]] = None,
    ) -> DataFrame:
        """Violating rows as a DataFrame (COMPLETE mode at scale: write to a
        table instead of collecting — plans/violations.py)."""
        from great_expectations_spark.plans.violations import violations_df

        return violations_df(df, suite, columns=columns)

    def results_df(self, result: SuiteValidationResult) -> DataFrame:
        """Validation results as a DataFrame (for persistence / the driver's
        flagship-query contract)."""
        from great_expectations_spark.sources.stores import results_to_rows, RESULTS_SCHEMA

        spark = self.spark
        rows = results_to_rows(result)
        return spark.createDataFrame(rows, schema=RESULTS_SCHEMA)


def validate(
    df: DataFrame,
    suite: ExpectationSuite,
    result_format: Any = "BASIC",
    partition_by: Optional[list[str]] = None,
    persist: bool = False,
) -> SuiteValidationResult:
    """Module-level convenience wrapper."""
    return SparkValidationEngine(df.sparkSession).validate(
        df, suite, result_format=result_format, partition_by=partition_by, persist=persist
    )
