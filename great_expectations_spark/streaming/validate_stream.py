"""Structured-Streaming validation.

The reference is batch-only (SURVEY.md §1.1 — no streams/watermarks/state);
this module is new surface for pipelines that land data continuously:

1. ``validation_sink`` / ``validate_stream`` — per-micro-batch suite
   validation via ``foreachBatch``: each micro-batch is a Batch in the
   reference's sense, validated with the same planner (bundled agg passes),
   results appended to a ResultsStore — effectively-once: a retried
   micro-batch whose rows already committed is skipped via run_exists.
2. ``streaming_metrics`` — fully streaming alternative for map expectations:
   compiles every map condition to ``sum(when(unexpected,1))`` aggregates
   over event-time windows with a watermark, so late data folds in and state
   is bounded. Emits one row per (window, metrics) — a live data-quality
   dashboard feed; thresholding/alerting happens downstream.
"""

from __future__ import annotations

from typing import Any, Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.core.config import ExpectationSuite
from great_expectations_spark.plans.violations import unexpected_conditions


def validation_sink(
    suite: ExpectationSuite,
    store: Optional[Any] = None,
    result_format: Any = "BASIC",
    partition_by: Optional[list[str]] = None,
    on_result: Optional[Callable[[Any, int], None]] = None,
    actions: Optional[list] = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback: validate each micro-batch with the full engine.

    ``store``: ResultsStore — results appended per batch with
    run_id = "stream-<batch_id>"; a retried micro-batch whose previous
    attempt already committed its rows is detected (store.run_exists) and
    NOT re-appended, so stored results are effectively-once. Actions and
    ``on_result`` remain at-least-once on retries, the usual foreachBatch
    side-effect contract.
    ``on_result(result, batch_id)``: in-process hook (alerting, metrics).
    ``actions``: notification actions (sources/stores.py roster) fired once
    per micro-batch with an event_type='micro_batch_validated' event —
    the streaming counterpart of the checkpoint action_list; action
    failures never fail the batch (same guarantee as CheckpointRunner).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from great_expectations_spark.engine import SparkValidationEngine

        engine = SparkValidationEngine(batch_df.sparkSession)
        result = engine.validate(
            batch_df, suite, result_format=result_format, partition_by=partition_by
        )
        result.meta["batch_id"] = batch_id
        if store is not None and not store.run_exists(f"stream-{batch_id}"):
            store.write_results(result, run_id=f"stream-{batch_id}")
        if actions:
            from great_expectations_spark.sources.stores import fire_actions

            fire_actions(
                actions,
                {
                    "event_type": "micro_batch_validated",
                    "run_id": f"stream-{batch_id}",
                    "suite_name": suite.name,
                    "batch_id": batch_id,
                    "success": result.success,
                    "statistics": result.statistics,
                },
            )
        if on_result is not None:
            on_result(result, batch_id)

    return process


def validate_stream(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    checkpoint_location: str,
    store: Optional[Any] = None,
    trigger: Optional[dict] = None,
    **sink_kwargs: Any,
):
    """Attach per-micro-batch validation to a streaming DataFrame and start
    the query. ``trigger``: e.g. {"availableNow": True} or
    {"processingTime": "30 seconds"}."""
    writer = stream_df.writeStream.foreachBatch(
        validation_sink(suite, store=store, **sink_kwargs)
    ).option("checkpointLocation", checkpoint_location)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _event_window(
    stream_df: DataFrame, ts_col: str, window_duration: str,
    slide_duration: Optional[str],
):
    """(stream_df, window_col) with TIMESTAMP_NTZ transparently lifted to
    TIMESTAMP (watermarks require it) — shared by every windowed metric."""
    if stream_df.schema[ts_col].dataType.simpleString() == "timestamp_ntz":
        stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    return stream_df, win


def streaming_metrics(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    slide_duration: Optional[str] = None,
) -> DataFrame:
    """Per-event-time-window unexpected counts for every map expectation.

    Pure streaming aggregation (watermark bounds state; map-side partial
    aggregation keeps shuffle at one row per window per partition). Columns:
    window, element_count, then per-expectation `<type>[#i]_unexpected`.
    """
    stream_df, win = _event_window(stream_df, ts_col, window_duration, slide_duration)
    aggs = [F.count(F.lit(1)).alias("element_count")]
    # the batch planner's rule, row_condition domain included
    for label, unexpected in unexpected_conditions(suite):
        aggs.append(F.sum(F.when(unexpected, 1).otherwise(0)).alias(f"{label}_unexpected"))
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(win.alias("window"))
        .agg(*aggs)
    )


def streaming_drift_metrics(
    stream_df: DataFrame,
    column: str,
    partition_object: dict,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    slide_duration: Optional[str] = None,
    eps: float = 1e-6,
    partition_by: Optional[list[str]] = None,
) -> DataFrame:
    """Per-event-time-window drift statistics against a fixed baseline
    ``partition_object`` — PSI and the binned-KS statistic per window (and
    per data partition when ``partition_by`` is given: one output row per
    (window, partition) group, same bounded state shape), computed ENTIRELY
    inside the streaming aggregation:

    - bin/value counts are conditional sums (map-side partials, state
      bounded by the watermark — same shape as ``streaming_metrics``);
    - PSI / KS are closed-form projections over the aggregated counts,
      UNROLLED per bin into plain Catalyst arithmetic (whole-stage codegen;
      no higher-order functions, no Python, no foreachBatch) that mirrors
      ``functions/stats.psi`` (epsilon floor + renormalize) and
      ``ks_from_histograms`` (max |ΔCDF| at bin edges) exactly — the
      baseline side is constant-folded driver-side.

    Continuous partitions use the histogram semantics of the batch deciders
    ([lo,hi) bins, last closed, below/above tails vs expected 0); categorical
    partitions count each expected value plus a lumped other-bucket.
    Columns: window, element_count, nonnull_count, psi, ks_statistic.
    Thresholding/alerting happens downstream (one row per window)."""
    from great_expectations_spark.functions.stats import _norm
    from great_expectations_spark.operators.drift import (
        _bin_condition,
        is_categorical_partition,
    )

    stream_df, win = _event_window(stream_df, ts_col, window_duration, slide_duration)
    col = F.col(column)
    nn = col.isNotNull()
    if is_categorical_partition(partition_object):
        values = list(partition_object["values"])
        conds = [nn & (col == F.lit(v)) for v in values]
        conds.append(nn & ~col.isin(values))  # lumped other-bucket
        expected = [float(w) for w in partition_object["weights"]] + [0.0]
    else:
        bins = [float(b) for b in partition_object["bins"]]
        k = len(bins) - 1
        conds = [nn & (col < F.lit(bins[0]))]
        conds += [
            nn & _bin_condition(col, bins[i], bins[i + 1], i == k - 1)
            for i in range(k)
        ]
        conds.append(nn & (col > F.lit(bins[-1])))
        expected = [0.0] + [float(w) for w in partition_object["weights"]] + [0.0]

    aggs = [F.count(F.lit(1)).alias("element_count"), F.sum(F.when(nn, 1).otherwise(0)).alias("nonnull_count")]
    aggs += [
        F.sum(F.when(c, 1).otherwise(0)).alias(f"_c{i}") for i, c in enumerate(conds)
    ]
    group_cols = [win.alias("window")] + [F.col(c) for c in (partition_by or [])]
    agg = (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(*group_cols)
        .agg(*aggs)
    )

    total = F.col("nonnull_count").cast("double")
    fracs = [F.col(f"_c{i}") / total for i in range(len(conds))]

    # PSI (stats.psi): normalize, floor at eps, renormalize BOTH sides;
    # the expected side is pure constants — folded here, not in the plan
    q = _norm([max(x, eps) for x in _norm(expected)])
    p_floor = [F.greatest(f, F.lit(eps)) for f in fracs]
    p_sum = p_floor[0]
    for pf in p_floor[1:]:
        p_sum = p_sum + pf
    psi_terms = [
        (pf / p_sum - F.lit(qi)) * F.log((pf / p_sum) / F.lit(qi))
        for pf, qi in zip(p_floor, q)
    ]
    psi_expr = psi_terms[0]
    for t in psi_terms[1:]:
        psi_expr = psi_expr + t

    # binned KS (stats.ks_from_histograms): D = max |cum_p - cum_q|
    qc, acc = [], 0.0
    for qi in _norm(expected):
        acc += qi
        qc.append(acc)
    cum, ks_terms = None, []
    for f, qci in zip(fracs, qc):
        cum = f if cum is None else cum + f
        ks_terms.append(F.abs(cum - F.lit(qci)))
    ks_expr = F.greatest(*ks_terms) if len(ks_terms) > 1 else ks_terms[0]

    guard = F.col("nonnull_count") > 0
    return agg.select(
        "window",
        *(partition_by or []),
        "element_count",
        "nonnull_count",
        F.when(guard, psi_expr).alias("psi"),
        F.when(guard, ks_expr).alias("ks_statistic"),
    )


def _duration_ms(s: str) -> int:
    """'1 hour' / '30 minutes' / '10 seconds' / '500 milliseconds' → ms."""
    value, unit = s.split()
    factor = {
        "millisecond": 1, "milliseconds": 1, "ms": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit.lower()]
    return int(float(value) * factor)


def streaming_dedup(
    stream_df: DataFrame,
    key_col: str,
    state_ttl: str = "24 hours",
) -> DataFrame:
    """Cross-micro-batch EXACT dedup with bounded state — the custom
    stateful operator of a streaming training-data pipeline (drop documents
    whose fingerprint was already ingested), built on
    ``applyInPandasWithState``.

    State: one empty marker per seen key, partitioned by the shuffle on
    ``key_col`` (hash-distributed across executors, never driver-side).
    Rows whose key has live state are suppressed; within one micro-batch
    only the first row of a key is emitted. A processing-time timeout of
    ``state_ttl`` expires idle keys so state size is bounded by the
    distinct-key arrival rate × TTL, not the stream's lifetime. Use upstream
    ``F.md5(normalize_text(...))`` (operators/text.py) to build the
    fingerprint key column. Under ``trigger(availableNow=True)`` the query
    does not terminate on its own while keyed state exists (the timeout
    keeps scheduling no-data micro-batches), so stop it once the sink holds
    what you need.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream_df.schema
    ttl_ms = _duration_ms(state_ttl)

    def dedup_fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        first = None
        if not seen:
            for pdf in pdf_iter:
                if len(pdf):
                    first = pdf.iloc[[0]]
                    break
        else:
            for _ in pdf_iter:  # drain (required by the contract)
                pass
        state.update((1,))
        state.setTimeoutDuration(ttl_ms)
        if first is not None:
            yield first

    return (
        stream_df.groupBy(F.col(key_col))
        .applyInPandasWithState(
            dedup_fn,
            outputStructType=out_schema,
            stateStructType="seen int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
