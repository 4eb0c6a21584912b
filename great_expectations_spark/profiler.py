"""Data-driven suite bootstrapping — the Spark-first answer to the
reference's profilers (``UserConfigurableProfiler``,
profile/user_configurable_profiler.py, and the ``rule_based_profiler/``
machinery behind ``auto=True``, validator/validator.py:300-523).

WHAT is reproduced: profile a batch once, emit an ExpectationSuite covering
table shape, nullity, types, value domains, numeric/datetime ranges, and
uniqueness — the same expectation families the reference's profiler emits.
HOW is Spark-native: every statistic here resolves through
``rule_profiler``'s metric engine, the one resolver and metric vocabulary
the rule-based profiler uses too. ``profile()`` computes every per-column
statistic (count/nulls/min/max/mean, and the PII counts when asked) for
every column in ONE bundled ``df.agg``, and the exact distinct counts in a
second, isolated bundle (a count_distinct inside the shared bundle would
re-key every other metric's buffer) — two jobs, not one per metric per
column like the reference's metric graph — plus one tiny
``distinct().limit(k+1)`` probe per low-cardinality candidate to make the
value-set decision exact.

Emission rules (deterministic given the data — the driver contract's
``profiler`` query cross-checks them against a DuckDB oracle):

- table: columns_to_match_ordered_list; row_count_to_be_between
  (±``row_count_tolerance``, floor/ceil).
- every column: values_to_be_of_type(spark simpleString).
- null fraction == 0 → values_to_not_be_null; 0 < frac <= ``mostly_floor``
  → values_to_not_be_null with mostly = floor((1-frac)*100)/100.
- numeric: min/max_to_be_between at the observed value, mean_to_be_between
  at the observed mean (reference profiler pins observed as both bounds).
- date/timestamp: min/max_to_be_between at the observed bounds.
- exact distinct count <= ``cardinality_limit`` → values_to_be_in_set
  (sorted observed set).
- nonnull > 0 and distinct == nonnull → values_to_be_unique.

``exact=True`` computes distinct counts exactly (the isolated bundle's
count_distincts — Spark rewrites them via expand, cost ~ cols x rows; right
for profiling-sized batches and required for oracle determinism).
``exact=False`` gates on approx_count_distinct(rsd=0.01), which rides the
main bundle, + an exact ``distinct().limit()`` probe only for in-set
candidates — the 10^12-row path, same decisions w.h.p. without the expand.
"""

from __future__ import annotations

import json
import math
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.core.config import ExpectationSuite, deterministic_id
from great_expectations_spark.functions.stats import bootstrap_range_estimate
from great_expectations_spark.operators.conditions import row_domain
from great_expectations_spark.operators.partition import (
    build_categorical_partition_object,
    build_partition_object,
)
from great_expectations_spark.operators.text import pii_total
from great_expectations_spark.rule_profiler import (
    _AGG_METRICS,
    _DISTINCT_METRICS,
    _TEMPORAL,
    ValueSetMultiBatchParameterBuilder,
    _col_domain,
    _is_numeric,
    _metric_expr,
    _percentile_routed,
    _RuleMetricEngine,
)

# auto=True expectation_type -> the rule_profiler._AGG_METRICS metrics whose
# observed batch values fill (min_value, max_value) (reference:
# validator.py:300-523 dispatches auto=True through the rule-based profiler)
_AUTO_BOUNDS: dict[str, tuple[str, str]] = {
    "expect_table_row_count_to_be_between": ("table.row_count",) * 2,
    "expect_column_values_to_be_between": ("column.min", "column.max"),
    "expect_column_min_to_be_between": ("column.min",) * 2,
    "expect_column_max_to_be_between": ("column.max",) * 2,
    "expect_column_mean_to_be_between": ("column.mean",) * 2,
    "expect_column_median_to_be_between": ("column.median",) * 2,
    "expect_column_stdev_to_be_between": ("column.standard_deviation",) * 2,
    "expect_column_sum_to_be_between": ("column.sum",) * 2,
    "expect_column_unique_value_count_to_be_between": (
        "column.distinct_values.count",
    ) * 2,
    "expect_column_proportion_of_unique_values_to_be_between": (
        "column.unique_proportion",
    ) * 2,
    "expect_column_value_lengths_to_be_between": (
        "column.values.length.min",
        "column.values.length.max",
    ),
}
# bounds whose metric's stored cross-run history (the planner's _reg key,
# json-encoded by stores.write_metrics) can bootstrap a RANGE estimate
_HISTORY_TYPES = {
    "expect_table_row_count_to_be_between",
    "expect_column_min_to_be_between",
    "expect_column_max_to_be_between",
    "expect_column_mean_to_be_between",
    "expect_column_median_to_be_between",
    "expect_column_sum_to_be_between",
    "expect_column_stdev_to_be_between",
    "expect_column_unique_value_count_to_be_between",
}
# auto=True types filled with the observed non-null value set
_VALUE_SET_TYPES = {
    "expect_column_values_to_be_in_set",
    "expect_column_distinct_values_to_be_in_set",
    "expect_column_distinct_values_to_contain_set",
    "expect_column_distinct_values_to_equal_set",
}


def auto_history_key(expectation_type: str, kwargs: dict) -> Optional[list[str]]:
    """The stored-metric key parts whose history can bootstrap this
    auto=True expectation's bounds; None when no history rule exists.

    Must mirror the planner's storage identity exactly: ``_compile_agg``
    suffixes a conditioned aggregate's ``_reg`` key with the row_condition
    id, so a conditioned auto expectation fetches the domain-scoped series —
    the bare [metric, column] key holds the WHOLE-TABLE history, and
    bootstrapping a conditioned bound from it would pin the expectation to
    the wrong domain's range."""
    if expectation_type not in _HISTORY_TYPES:
        return None
    parts = [_AUTO_BOUNDS[expectation_type][0]]
    c = kwargs.get("column")
    if c:
        parts.append(c)
    rc = kwargs.get("row_condition")
    if rc:
        cp = kwargs.get("condition_parser", "spark")
        parts.append(deterministic_id({"row_condition": rc, "condition_parser": cp}))
    return parts


def fetch_metric_histories(
    store,
    keys: list[list[str]],
    min_runs: int,
    suite_name: Optional[str] = None,
) -> dict[str, list[float]]:
    """{json_key: [value per historical run]} for EVERY requested metric key
    in ONE Spark job (one grouped aggregation over the metrics table), not
    one scan per key — the one reader of the metrics table here.
    ``suite_name`` scopes the history to one suite's runs — without it a
    shared store root would mix histories from every suite writing the same
    metric key (e.g. two tables' ``table.row_count``), bootstrapping bounds
    from the WRONG table's volumes. A run counts only when its rows for a
    key agree (min == max): the store is append-only, so a retried run can
    have written the same row twice, which collapses to one value, while a
    run whose partition slices were stored without a partition key holds
    one differing row per slice, none of them the table's value. Keys with
    fewer than ``min_runs`` usable runs are omitted. The collect is one row
    per (key, run) — bounded by run count, not data size."""
    if not keys:
        return {}
    try:
        metrics = store.read_metrics()
    except Exception:
        return {}
    wanted = [json.dumps(list(k)) for k in keys]
    m = metrics.filter(
        F.col("metric_key").isin(wanted) & F.col("partition_key").isNull()
    )
    if suite_name is not None:
        m = m.filter(F.col("suite_name") == suite_name)
    v = F.col("value").try_cast("double")
    per_run = m.groupBy("metric_key", "run_id").agg(
        F.min(v).alias("_lo"), F.max(v).alias("_v")
    )
    out: dict[str, list[float]] = {}
    # in run-id order: the grouped rows arrive in any order, and a seeded
    # bootstrap over the history must see the same sequence every time
    for r in sorted(per_run.collect(), key=lambda r: str(r["run_id"])):
        if r["_v"] is not None and r["_lo"] == r["_v"]:
            out.setdefault(r["metric_key"], []).append(r["_v"])
    return {k: v for k, v in out.items() if len(v) >= min_runs}


def resolve_auto(
    df: DataFrame,
    expectation_type: str,
    kwargs: dict,
    store=None,
    min_runs: int = 2,
    false_positive_rate: float = 0.05,
    n_resamples: int = 9999,
    seed: Optional[int] = None,
    suite_name: Optional[str] = None,
    histories: Optional[dict[str, list[float]]] = None,
) -> dict:
    """Fill missing success parameters of an ``auto=True`` expectation.

    With ``store=None`` (or no usable history) the estimate is the observed
    batch statistic — point bounds from ONE batch, resolved by
    rule_profiler's metric engine (``_AUTO_BOUNDS`` names the metric behind
    each bound; exact median/quantiles follow the engine's scale rule).

    With a metrics ``store`` holding >= ``min_runs`` historical runs of the
    expectation's metric, numeric bounds come from the multi-batch BOOTSTRAP
    range estimator instead (reference
    rule_based_profiler/parameter_builder/
    numeric_metric_range_multi_batch_parameter_builder.py +
    estimators/bootstrap_numeric_range_estimator.py): the emitted
    [min_value, max_value] is a range the metric's batch-to-batch
    distribution supports, not a point pin to the current batch.

    ``suite_name`` scopes the history lookup to one suite's stored runs
    (a shared store root holds every suite's metrics — unscoped history
    would bootstrap bounds from other tables' volumes). ``histories`` is an
    optional pre-fetched {json_key: values} map (fetch_metric_histories) so
    a suite with many auto expectations costs ONE history job, not one per
    expectation; ``store`` is not read when it is given.

    Returns new kwargs with ``auto`` removed and bounds filled; raises for
    types without an auto rule."""
    kw = {k: v for k, v in kwargs.items() if k != "auto"}
    t, domain = expectation_type, _col_domain(kw.get("column"))
    if kw.get("row_condition"):
        # estimate from the SAME domain validation will measure (reference
        # metrics carry row_condition in their domain kwargs); the history
        # key carries the row_condition id (auto_history_key), matching the
        # rc-suffixed _reg key the planner stores conditioned values under
        df = df.filter(row_domain(kw))
    engine = _RuleMetricEngine([df])

    if t in _VALUE_SET_TYPES:
        if kw.get("value_set") is None:
            kw["value_set"] = ValueSetMultiBatchParameterBuilder(
                "auto", max_cardinality=10_000
            ).build(engine, domain, {})["value"]
        return kw

    if t == "expect_column_quantile_values_to_be_between":
        ranges = kw.get("quantile_ranges") or {}
        quantiles = ranges.get("quantiles") or [0.25, 0.5, 0.75]
        if ranges.get("value_ranges") is None:
            for i, q in enumerate(quantiles):
                engine.request(f"q{i}", _percentile_routed(kw["column"], q))
            engine.resolve()
            kw["quantile_ranges"] = {
                "quantiles": quantiles,
                "value_ranges": [
                    [engine.history(f"q{i}")[0]] * 2 for i in range(len(quantiles))
                ],
            }
        return kw

    bounds = _AUTO_BOUNDS.get(t)
    if bounds is None:
        raise ValueError(f"auto=True is not supported for {t}")
    need = {
        k: m for k, m in zip(("min_value", "max_value"), bounds) if kw.get(k) is None
    }
    if not need:
        return kw
    parts = auto_history_key(t, kwargs)
    if parts is not None and histories is None and store is not None:
        histories = fetch_metric_histories(store, [parts], min_runs, suite_name)
    vals = None if parts is None else (histories or {}).get(json.dumps(parts))
    if vals is None:
        for m in need.values():
            engine.request(m, _metric_expr(m, domain), distinct=m in _DISTINCT_METRICS)
        engine.resolve()
        kw.update({k: engine.history(m)[0] for k, m in need.items()})
        return kw
    lo, hi = bootstrap_range_estimate(
        vals,
        false_positive_rate=false_positive_rate,
        n_resamples=n_resamples,
        seed=seed,
    )
    if bounds[0] == "table.row_count":
        lo, hi = int(math.floor(lo)), int(math.ceil(hi))
    kw.update({k: v for k, v in (("min_value", lo), ("max_value", hi)) if k in need})
    return kw


def profile(
    df: DataFrame,
    name: str = "profiled",
    columns: Optional[list[str]] = None,
    cardinality_limit: int = 20,
    row_count_tolerance: float = 0.1,
    mostly_floor: float = 0.5,
    exact: bool = True,
    drift_baselines: bool = False,
    kl_threshold: float = 0.1,
    pii_checks: bool = False,
) -> ExpectationSuite:
    """``drift_baselines=True`` additionally emits
    ``expect_column_kl_divergence_to_be_less_than`` per profiled column with
    a partition_object built FROM this batch (continuous Freedman-Diaconis
    histogram for numerics above ``cardinality_limit``; categorical
    values/weights for in-set columns) — the drift-monitoring artifact: the
    profiled suite scores ~0 KL against the profiled batch itself and trips
    when a later batch's distribution moves by more than ``kl_threshold``.
    Opt-in because each baseline costs one extra bounded pass per column and
    the default emission rules are oracle-pinned by the driver contract.

    ``pii_checks=True`` adds a PII-hit count per string column to the
    bundled aggregate and emits ``expect_column_values_to_not_contain_pii``
    for columns that are PII-free in this batch (or nearly so, with the same
    mostly floor as the null rule) — a privacy gate bootstrapped from
    observed data. Opt-in for the same oracle-pinning reason."""
    cols = columns or df.columns
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    str_cols = [c for c in cols if dtypes[c] == "string"] if pii_checks else []
    # the range expectations pinned at the observed value: numeric min, max
    # and mean, temporal min and max — each the one-batch auto=True rule of
    # its type, so each reads its _AUTO_BOUNDS metric
    pins = {
        c: ["expect_column_min_to_be_between", "expect_column_max_to_be_between"]
        + (["expect_column_mean_to_be_between"] if _is_numeric(dtypes[c]) else [])
        for c in cols
        if _is_numeric(dtypes[c]) or dtypes[c] in _TEMPORAL
    }

    engine = _RuleMetricEngine([df])
    engine.request("__n", _AGG_METRICS["table.row_count"](None))
    for c in cols:
        engine.request(f"nn__{c}", F.count(F.col(c)))
        dc = (
            _AGG_METRICS["column.distinct_values.count"](c)
            if exact
            else F.approx_count_distinct(F.col(c), rsd=0.01)
        )
        engine.request(f"dc__{c}", dc, distinct=exact)
        for t in pins.get(c, ()):
            m = _AUTO_BOUNDS[t][0]
            engine.request(f"{m}__{c}", _AGG_METRICS[m](c))
    for c in str_cols:
        engine.request(
            f"pii__{c}", F.sum(F.when(pii_total(F.col(c)) > 0, 1).otherwise(0))
        )
    engine.resolve()

    def stat(alias: str):
        return engine.history(alias)[0]

    n = int(stat("__n"))
    suite = ExpectationSuite(name=name)

    def add_mostly(expectation_type: str, c: str, frac: float) -> None:
        # frac of the considered rows fail: none → a plain expectation, up
        # to mostly_floor → one with mostly floored to two decimals
        if frac == 0.0:
            suite.add(expectation_type, column=c)
        elif frac <= mostly_floor:
            mostly = math.floor((1 - frac) * 100) / 100
            suite.add(expectation_type, column=c, mostly=mostly)

    suite.add("expect_table_columns_to_match_ordered_list", column_list=list(df.columns))
    suite.add(
        "expect_table_row_count_to_be_between",
        min_value=int(math.floor(n * (1 - row_count_tolerance))),
        max_value=int(math.ceil(n * (1 + row_count_tolerance))),
    )

    for c in cols:
        dt = dtypes[c]
        nonnull = int(stat(f"nn__{c}") or 0)
        distinct = int(stat(f"dc__{c}") or 0)
        suite.add("expect_column_values_to_be_of_type", column=c, type_=dt)
        null_frac = (n - nonnull) / n if n else 0.0
        add_mostly("expect_column_values_to_not_be_null", c, null_frac)
        if nonnull:
            for t in pins.get(c, ()):
                v = stat(f"{_AUTO_BOUNDS[t][0]}__{c}")
                suite.add(t, column=c, min_value=v, max_value=v)
        # value-set: gate on the (possibly approx) distinct count, decide
        # exactly with a bounded probe — never collects an unbounded set
        emitted_in_set = False
        if nonnull and distinct <= cardinality_limit * (1 if exact else 2):
            probe = (
                df.select(c)
                .filter(F.col(c).isNotNull())
                .distinct()
                .limit(cardinality_limit + 1)
                .collect()
            )
            if len(probe) <= cardinality_limit:
                values = sorted(
                    (r[0] for r in probe), key=lambda v: (str(type(v).__name__), str(v))
                )
                suite.add(
                    "expect_column_values_to_be_in_set", column=c, value_set=values
                )
                emitted_in_set = True
                if exact:
                    distinct = len(probe)
        if nonnull and distinct == nonnull:
            suite.add("expect_column_values_to_be_unique", column=c)
        if drift_baselines and nonnull:
            po = None
            if emitted_in_set:
                po = build_categorical_partition_object(df, c)
            elif _is_numeric(dt) and distinct > 1:
                po = build_partition_object(df, c, bins="auto")
            if po is not None:
                suite.add(
                    "expect_column_kl_divergence_to_be_less_than",
                    column=c,
                    partition_object=po,
                    threshold=kl_threshold,
                )

    for c in str_cols:
        # denominator = NON-NULL rows: the expectation's considered set
        # excludes nulls (conditions._col_map default), unlike the
        # not_be_null rule where every row is considered — using n here
        # would emit a mostly the profiled batch itself fails (an empty
        # batch has no non-null rows, so it emits nothing)
        nonnull = int(stat(f"nn__{c}") or 0)
        if nonnull:
            hits = int(stat(f"pii__{c}") or 0)
            add_mostly("expect_column_values_to_not_contain_pii", c, hits / nonnull)
    return suite


def volume_assistant(
    store,
    suite_name: Optional[str] = None,
    name: str = "volume",
    quantiles: tuple[float, float] = (0.025, 0.975),
    min_runs: int = 2,
) -> ExpectationSuite:
    """Volume data assistant: bootstrap a row-count expectation from batch
    HISTORY instead of a single batch — the reference's
    VolumeDataAssistant (rule_based_profiler/data_assistant/
    volume_data_assistant.py: table.row_count over recent batches through a
    numeric-range estimator → expect_table_row_count_to_be_between).

    Reads the global ``table.row_count`` rows this engine's stores layer
    persists per run (sources/stores.py write_metrics) through
    fetch_metric_histories — one value per run — takes the empirical
    ``quantiles`` of the historical counts (numpy's ``inverted_cdf``, which
    equals Spark's ``percentile_approx`` at accuracy 10000 on histories of
    fewer than 10000 runs), and emits one
    expect_table_row_count_to_be_between with those bounds. The driver-side
    collect is bounded by run count.
    """
    lo_q, hi_q = quantiles
    if not (0.0 <= lo_q < hi_q <= 1.0):
        raise ValueError("quantiles must satisfy 0 <= lo < hi <= 1")
    key = ["table.row_count"]
    counts = fetch_metric_histories(store, [key], 0, suite_name).get(
        json.dumps(key), []
    )
    if len(counts) < min_runs:
        raise ValueError(
            f"volume_assistant needs >= {min_runs} historical runs, found {len(counts)}"
        )
    lo, hi = np.quantile(counts, [lo_q, hi_q], method="inverted_cdf")
    suite = ExpectationSuite(
        name=name,
        meta={
            "assistant": "volume",
            "history_runs": len(counts),
            "quantiles": [lo_q, hi_q],
        },
    )
    suite.add(
        "expect_table_row_count_to_be_between",
        min_value=int(math.floor(lo)),
        max_value=int(math.ceil(hi)),
    )
    return suite
