"""Suite planner — compiles an ExpectationSuite into a minimal set of Spark
jobs and executes them.

Physical plan for a suite (contrast: the reference runs one job per metric
bundle per domain + one eager job per VALUE metric —
sparkdf_execution_engine.py:649-743, map_metric_provider.py:2356-2506):

  pass 0 (optional)  df.agg(...)                     prerequisites (z-score
                                                     mean/stddev, auto bins)
  pass 1 (main)      GROUPING SETS ((parts...),())   EVERY bundled aggregate
                       .agg(*all_metric_exprs)       metric for EVERY
                                                     expectation — counts,
                                                     unexpected counts,
                                                     min/max/mean/stddev/sum,
                                                     percentiles, distinct
                                                     counts, histogram bins —
                                                     one scan; GROUPING SETS
                                                     rollup yields per-
                                                     partition verdicts AND
                                                     the global rollup
  pass 2 (per key)   df.groupBy(cols).agg(count)     value-counts family:
                                                     distinct sets, modes,
                                                     uniqueness dup stats,
                                                     categorical drift —
                                                     shuffle-bounded, never a
                                                     global window
  pass 3 (samples)   ONE unioned job over the        partial_unexpected_list /
                     failing map conditions          partial_unexpected_counts
  special passes     anti-joins (referential),       per expectation that
                     ordered windows (increasing)    needs them

Metric identity dedup (reference: validator/metric_configuration.py:64-69,
validation_graph.py:37-42) happens in ``_reg``: two expectations needing
``column.min(l_quantity)`` share one aggregate expression.

Domain (row_condition) filters are folded into aggregate expressions as
``F.when(dom, x)`` so differing domains still share the single scan; when all
expectations share one domain the filter is applied to the DataFrame instead
(predicate pushdown reaches the source scan).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from great_expectations_spark.core.config import (
    ExpectationConfiguration,
    ExpectationSuite,
    deterministic_id,
    substitute_evaluation_parameters,
)
from great_expectations_spark.core.result import (
    ExpectationValidationResult,
    SuiteValidationResult,
    format_map_output,
    parse_result_format,
    suite_statistics,
    validate_mostly,
)
from great_expectations_spark.operators import drift, images, schema_checks, special
from great_expectations_spark.operators.aggregates import AGG_BUILDERS
from great_expectations_spark.operators.conditions import (
    _MAP_BUILDERS,
    _ignore_row_if_considered,
    compile_map_condition,
    translate_row_condition,
)

COMPLETE_CAP = 10_000  # driver-side cap on COMPLETE unexpected_list
DISTINCT_CAP = 65_536  # driver-side cap on collected distinct values
# total driver rows budget for per-partition value-count tops: the
# per-partition cap is BUDGET // n_partitions (floored at 64), so a
# high-cardinality partition_by cannot multiply DISTINCT_CAP into an
# unbounded collect; partitions over their cap fall back to the exact
# bounded aggregate
PARTITION_TOP_BUDGET = 1 << 20


def _caster_for(df: DataFrame, column: Optional[str]) -> Callable[[str], Any]:
    if column is None or column not in df.columns:
        return lambda s: s
    dt = df.schema[column].dataType.simpleString()
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return lambda s: int(s)
    if dt in ("float", "double") or dt.startswith("decimal"):
        return lambda s: float(s)
    if dt == "boolean":
        return lambda s: s == "true"
    return lambda s: s


@dataclass
class _GroupByNeed:
    cols: tuple[str, ...]
    drop_nulls: bool = False
    # row_condition pre-filter (None = whole table); part of the need key
    dom: Optional[Column] = None
    want_dup_stats: bool = False
    want_top: bool = False
    want_dup_sample: bool = False
    # per-partition value-count tops (categorical drift deciders under
    # partition_by); only materialized when the suite has partition_by
    want_partition_top: bool = False


@dataclass
class _GroupByResult:
    dup_row_count: int = 0  # rows belonging to a value with count > 1
    dup_value_count: int = 0  # distinct values with count > 1
    distinct_count: int = 0
    total_count: int = 0
    top: list[tuple[tuple, int]] = field(default_factory=list)  # (values, count)
    dup_sample: list[tuple[tuple, int]] = field(default_factory=list)
    top_truncated: bool = False
    # json(partition_key) -> rows in that partition whose value is a
    # (global) duplicate; populated when the suite has partition_by
    part_dup_rows: dict = field(default_factory=dict)
    part_considered: dict = field(default_factory=dict)
    # json(partition_key) -> partition-local value counts (want_partition_top)
    part_top: dict = field(default_factory=dict)  # pk -> list[(values, count)]
    part_top_truncated: dict = field(default_factory=dict)  # pk -> bool
    part_nonnull: dict = field(default_factory=dict)  # pk -> considered rows
    part_top_cap: int = DISTINCT_CAP  # effective per-partition top cap


class _Ctx:
    """Resolution context handed to decision closures."""

    def __init__(self) -> None:
        self.metrics: dict[str, Any] = {}
        self.groupby: dict[tuple, _GroupByResult] = {}
        self.sample_values: dict[str, list[Any]] = {}
        self.sample_counts: dict[str, list[tuple[Any, int]]] = {}
        self.sample_rows: dict[str, list[dict]] = {}  # include_unexpected_rows
        self.is_partition: bool = False
        self.partition_key: Optional[dict] = None  # set for partition decisions

    def partition_top(self, gb: _GroupByResult) -> tuple[list, bool, Optional[int]]:
        """(top, truncated, nonnull_total) — partition-local when deciding for
        a partition; the single owner of the partition-key serialization used
        to index groupBy tops."""
        if self.is_partition and self.partition_key is not None:
            pk = json.dumps(self.partition_key, sort_keys=True, default=str)
            return (
                gb.part_top.get(pk, []),
                gb.part_top_truncated.get(pk, False),
                gb.part_nonnull.get(pk),
            )
        return gb.top, gb.top_truncated, gb.total_count


@dataclass
class _Item:
    cfg: ExpectationConfiguration
    decide: Callable[[_Ctx], tuple[bool, dict]]
    partition_capable: bool = True  # can emit per-partition verdicts


class SuitePlanner:
    def __init__(
        self,
        df: DataFrame,
        suite: ExpectationSuite,
        result_format: Any = "BASIC",
        partition_by: Optional[list[str]] = None,
        spark: Optional[SparkSession] = None,
        complete_cap: int = COMPLETE_CAP,
        persist: bool = False,
        evaluation_parameters: Optional[dict[str, Any]] = None,
        urn_resolver: Optional[Callable[[str], Any]] = None,
        metrics_store: Any = None,
        history_suite_name: Optional[str] = None,
        catch_exceptions: bool = True,
    ) -> None:
        self.df = df
        self.suite = suite
        self.metrics_store = metrics_store
        # reference validator.py:956-1004: catch_exceptions=True (the
        # graph_validate default) turns per-expectation failures into
        # exception EVRs; False lets the original exception raise out of
        # validate() and abort the run
        self.catch_exceptions = catch_exceptions
        # auto=True history scope: this suite's own runs unless the caller
        # explicitly borrows another suite's history (new-suite onboarding)
        self.history_suite_name = history_suite_name or suite.name
        # binding priority: explicit arg > suite-level (reference
        # validator.py:1942-1966)
        self.evaluation_parameters = {
            **getattr(suite, "evaluation_parameters", {}),
            **(evaluation_parameters or {}),
        }
        self.urn_resolver = urn_resolver
        self.rf = parse_result_format(result_format)
        self.partition_by = list(partition_by or [])
        self.spark = spark or df.sparkSession
        self.complete_cap = complete_cap
        self.persist = persist

        self._main_aggs: dict[str, Column] = {}
        # distinct-style aggregates (count_distinct) run in a SEPARATE
        # bundled pass: a single count_distinct inside the main bundle makes
        # Catalyst re-key the WHOLE bundle by (group, value) through the
        # shuffle — every other metric's buffer would ride a 10^12-key
        # exchange. Isolated, the distinct pass shuffles only (group, value)
        # pairs after map-side dedup.
        self._distinct_aggs: dict[str, Column] = {}
        self._main_keys: dict[str, str] = {}  # key-json -> alias
        self._pre_aggs: dict[str, Column] = {}
        self._groupby_needs: dict[tuple, _GroupByNeed] = {}
        self._sample_specs: list[tuple[str, Column, Column, Optional[str], Optional[str]]] = []
        # (eid, unexpected_cond, value_expr, column_for_cast, unexpected_alias)
        # unexpected_alias: main-pass metric alias; branches with a known-zero
        # global unexpected count are skipped in the sample pass
        self._items: list[_Item] = []
        self._deferred: list[Callable[[], None]] = []  # phase-2 compile (z-score)
        self._errors: list[tuple[ExpectationConfiguration, Exception]] = []

    # ---- registration helpers -------------------------------------------

    def _add_item(
        self,
        cfg: ExpectationConfiguration,
        decide: Callable[[_Ctx], tuple[bool, dict]],
        partition_capable: bool,
    ) -> None:
        """Queue one expectation's decider (run after every pass)."""
        self._items.append(_Item(cfg, decide, partition_capable))

    def _reg(self, key_parts: tuple, expr: Column, distinct: bool = False) -> str:
        """Metric-identity dedup: same key → same aggregate expression."""
        key = json.dumps([str(p) for p in key_parts])
        alias = self._main_keys.get(key)
        if alias is None:
            alias = "m_" + deterministic_id(key)
            self._main_keys[key] = alias
            target = self._distinct_aggs if distinct else self._main_aggs
            target[alias] = expr.alias(alias)
        return alias

    def _reg_pre(self, key_parts: tuple, expr: Column) -> str:
        alias = "p_" + deterministic_id(json.dumps([str(p) for p in key_parts]))
        if alias not in self._pre_aggs:
            self._pre_aggs[alias] = expr.alias(alias)
        return alias

    def _need_groupby(
        self,
        cols: tuple[str, ...],
        drop_nulls: bool,
        dom: Optional[Column] = None,
        rc_id: str = "whole",
        **wants: bool,
    ) -> tuple:
        # keyed by the ROW-CONDITION identity (not the full domain_id, which
        # hashes `column` too) so same-column expectations without a
        # row_condition keep sharing one groupBy pass
        key = (cols, drop_nulls, rc_id)
        need = self._groupby_needs.setdefault(
            key, _GroupByNeed(cols=cols, drop_nulls=drop_nulls, dom=dom)
        )
        for k, v in wants.items():
            setattr(need, k, getattr(need, k) or v)
        return key

    def _domain(self, cfg: ExpectationConfiguration) -> tuple[Column, str]:
        rc = cfg.kwargs.get("row_condition")
        if rc:
            return (
                translate_row_condition(rc, cfg.kwargs.get("condition_parser", "spark")),
                cfg.domain_id,
            )
        return F.lit(True), "whole"

    def _rc_domain(self, cfg: ExpectationConfiguration) -> tuple[Optional[Column], str]:
        """(filter column, stable id) for the cfg's row_condition alone —
        (None, "whole") when absent. Feeds _need_groupby so groupBy-backed
        expectations (uniqueness, distinct-set, most-common) compute their
        groups over the SAME domain their element_count uses."""
        rc = cfg.kwargs.get("row_condition")
        if not rc:
            return None, "whole"
        parser = cfg.kwargs.get("condition_parser", "spark")
        return (
            translate_row_condition(rc, parser),
            deterministic_id({"row_condition": rc, "condition_parser": parser}),
        )

    # ---- compilation -----------------------------------------------------

    def compile(self) -> "SuitePlanner":
        # auto-wire the shared decode projection: image map conditions
        # reference the `_decoded` struct (ONE Arrow decode reused by every
        # image expectation). Callers may enrich_images() themselves; when
        # they haven't, add it here so image suites run through the standard
        # engine AND the per-partition checkpoint path unchanged. Ambiguous
        # wiring (two different bytes columns) is left to the caller.
        # schema expectations describe the USER's table — pin their view
        # before any internal projection (the decode struct below) is added
        self._schema_df = self.df
        img_cfgs = [
            cfg
            for cfg in self.suite.expectations
            if cfg.expectation_type in images.IMAGE_EXPECTATION_TYPES
            and "decoded_col" not in cfg.kwargs
        ]
        if img_cfgs and images.DECODED_COL not in self.df.columns:
            bytes_cols = {cfg.kwargs.get("column", "bytes") for cfg in img_cfgs}
            if len(bytes_cols) == 1 and bytes_cols.issubset(self.df.columns):
                self.df = images.enrich_images(
                    self.df, bytes_col=bytes_cols.pop()
                )

        # pre-fetch the metric histories every auto=True expectation will
        # ask for — ONE grouped-agg job over the metrics store, scoped to
        # THIS suite's runs (a shared store holds other suites' metrics for
        # the same keys), instead of one store scan per auto expectation
        auto_histories = None
        if self.metrics_store is not None:
            from great_expectations_spark.profiler import (
                auto_history_key,
                fetch_metric_histories,
            )

            auto_keys = []
            for cfg in self.suite.expectations:
                if not cfg.kwargs.get("auto"):
                    continue
                try:
                    # keys must come from SUBSTITUTED kwargs — a
                    # $PARAMETER-bound column would otherwise produce a
                    # history key that matches nothing and silently degrade
                    # the bounds to a single-batch point pin
                    sub = substitute_evaluation_parameters(
                        cfg, self.evaluation_parameters, self.urn_resolver
                    )
                except Exception:
                    continue  # the compile loop will surface the failure
                key = auto_history_key(sub.expectation_type, sub.kwargs)
                if key is not None:
                    auto_keys.append(key)
            auto_histories = fetch_metric_histories(
                self.metrics_store, auto_keys, min_runs=2,
                suite_name=self.history_suite_name,
            )

        for cfg in self.suite.expectations:
            t = cfg.expectation_type
            try:
                # expression-language kwargs ({"$PARAMETER": "now()"}) need
                # substitution even with no bound parameters
                cfg = substitute_evaluation_parameters(
                    cfg, self.evaluation_parameters, self.urn_resolver
                )
                if cfg.kwargs.get("auto"):
                    # reference validator.py:300-523: auto=True estimates the
                    # missing success parameters from the batch itself
                    from great_expectations_spark.profiler import resolve_auto

                    cfg = ExpectationConfiguration(
                        expectation_type=t,
                        kwargs=resolve_auto(
                            self.df, t, cfg.kwargs, store=self.metrics_store,
                            suite_name=self.history_suite_name,
                            histories=auto_histories,
                        ),
                        meta=dict(cfg.meta),
                    )
                compile_fn = _COMPILERS.get(t)
                if compile_fn is None:
                    raise KeyError(f"unknown expectation_type: {t}")
                compile_fn(self, cfg)
            except Exception as e:  # compile-time failure → failed EVR
                if not self.catch_exceptions:
                    raise
                self._errors.append((cfg, e))
        return self

    def _compile_schema(self, cfg: ExpectationConfiguration) -> None:
        check = schema_checks.SCHEMA_CHECKS[cfg.expectation_type]
        # _schema_df = the pre-enrichment view: the auto-added `_decoded`
        # struct is engine plumbing and must not appear in table.columns
        success, result = check(self._schema_df, cfg.kwargs)
        self._add_item(
            cfg, lambda ctx, s=success, r=result: (s, dict(r)), partition_capable=False
        )

    def _compile_agg(self, cfg: ExpectationConfiguration) -> None:
        dom, _ = self._domain(cfg)
        _, rc_id = self._rc_domain(cfg)
        # builders key metrics as (metric, column); the expression folds the
        # row_condition, so the key must carry it too or two same-column
        # aggregates with different conditions collide on one alias
        reg = self._reg if rc_id == "whole" else (
            lambda key_parts, expr, **kw: self._reg((*key_parts, rc_id), expr, **kw)
        )
        decide = AGG_BUILDERS[cfg.expectation_type](cfg.kwargs, dom, reg)
        self._add_item(cfg, lambda ctx, d=decide: d(ctx.metrics), partition_capable=True)

    _STRING_INPUT_TYPES = frozenset(
        {
            "expect_column_values_to_match_strftime_format",
            "expect_column_values_to_be_dateutil_parseable",
        }
    )

    def _compile_map(self, cfg: ExpectationConfiguration) -> None:
        if cfg.expectation_type in self._STRING_INPUT_TYPES:
            col = cfg.kwargs.get("column")
            if col in self.df.columns and (
                self.df.schema[col].dataType.simpleString() != "string"
            ):
                raise TypeError(
                    f"Values passed to {cfg.expectation_type} must be of type string."
                )
        mc = compile_map_condition(cfg.expectation_type, cfg.kwargs)
        dom, dom_id = self._domain(cfg)
        mostly = validate_mostly(cfg.kwargs.get("mostly"))

        a_elem = self._reg(("element_count", dom_id), F.count(F.when(dom, F.lit(1))))
        a_cons = self._reg(
            ("considered", dom_id, cfg.expectation_type, str(cfg.success_kwargs))
            if mc.counts_nulls or cfg.kwargs.get("ignore_row_if")
            else ("nonnull", dom_id, ",".join(mc.columns)),
            F.count(F.when(dom & mc.considered, F.lit(1))),
        )
        unexpected_cond = dom & mc.considered & F.coalesce(~mc.expected, F.lit(False))
        a_unexp = self._reg(
            ("unexpected", dom_id, cfg.id), F.count(F.when(unexpected_cond, F.lit(1)))
        )

        eid = cfg.id
        cast_col = mc.sample_cast_column()
        if self.rf["result_format"] != "BOOLEAN_ONLY":
            self._sample_specs.append(
                (eid, unexpected_cond, mc.value_expr, cast_col, a_unexp)
            )
        counts_nulls = mc.counts_nulls
        extra_details = mc.extra_details

        def decide(ctx: _Ctx) -> tuple[bool, dict]:
            elem = ctx.metrics[a_elem] or 0
            considered = ctx.metrics[a_cons] or 0
            unexpected = ctx.metrics[a_unexp] or 0
            if elem == 0 or considered == 0:
                success = True  # vacuous (reference expectation.py:2213-2215)
            else:
                success = ((considered - unexpected) / considered) >= mostly
            out = format_map_output(
                self.rf,
                bool(success),
                element_count=elem,
                nonnull_count=elem if counts_nulls else considered,
                unexpected_count=unexpected,
                unexpected_list=ctx.sample_values.get(eid),
                unexpected_rows=ctx.sample_rows.get(eid),
            )
            result = out.get("result", {})
            if not ctx.is_partition and eid in ctx.sample_counts:
                counts = ctx.sample_counts[eid]
                result["partial_unexpected_counts"] = [
                    {"value": v, "count": c}
                    for v, c in counts[: self.rf["partial_unexpected_count"]]
                ]
            if extra_details and self.rf["result_format"] != "BOOLEAN_ONLY":
                result["details"] = {**result.get("details", {}), **extra_details}
            return bool(success), result

        self._add_item(cfg, decide, partition_capable=True)

    # ---- execution -------------------------------------------------------

    def run(self, meta: Optional[dict] = None) -> SuiteValidationResult:
        self.compile()
        df = self.df.persist() if self.persist else self.df
        # the finally below is the ONLY release of the persist: success, the
        # isolation fallback and every re-raise all leave through it
        try:
            # phases 0-3 share one failure contract. A single type-broken
            # expectation fails a WHOLE pass (e.g. avg() over a string column
            # raises at analysis time in the bundled job) — on any pass
            # failure fall back to per-expectation isolation so the broken one
            # gets an exception EVR and the rest still validate (the reference
            # gets this for free from its one-job-per-metric model), or
            # re-raise under catch_exceptions=False
            try:
                # phase 0: prerequisites (z-score etc.)
                if self._pre_aggs:
                    pre_metrics = df.agg(*self._pre_aggs.values()).collect()[0].asDict()
                    for fin in self._deferred:
                        fin(pre_metrics)  # type: ignore[call-arg]

                # phase 1: the bundled main pass (+ isolated distinct bundle)
                global_metrics, partition_rows = self._run_bundles(df)

                if self.partition_by and not partition_rows and any(
                    it.partition_capable for it in self._items
                ):
                    # a suite of ONLY groupBy-backed expectations registers
                    # no bundled aggregates, so the rollup pass never
                    # enumerated the partitions — enumerate them directly
                    # (bounded by partition count); such deciders read only
                    # groupby results, not metrics
                    pkeys = (
                        df.select(*self.partition_by)
                        .distinct()
                        .orderBy(*self.partition_by)
                        .collect()
                    )
                    partition_rows = [
                        ({c: r[c] for c in self.partition_by}, {}) for r in pkeys
                    ]

                # phase 2: groupBy passes (value-counts family); phase 3:
                # unexpected-value samples
                self._n_partitions = max(1, len(partition_rows))
                ctx = _Ctx()
                ctx.metrics = global_metrics
                for key, need in self._groupby_needs.items():
                    ctx.groupby[key] = self._run_groupby(df, need)
                if self._sample_specs:
                    self._run_samples(df, ctx)
                    if self.rf.get("include_unexpected_rows"):
                        self._run_unexpected_rows(df, ctx)
            except Exception as e:
                if not self.catch_exceptions:
                    raise
                return self._run_isolated(meta, e)

            # decisions (_decide re-raises only under catch_exceptions=False)
            results: list[ExpectationValidationResult] = []
            partition_results: list[ExpectationValidationResult] = []
            for item in self._items:
                results.append(self._decide(item, ctx))
                if item.partition_capable and partition_rows:
                    for pkey, pmetrics in partition_rows:
                        pctx = _Ctx()
                        pctx.metrics = pmetrics
                        pctx.groupby = ctx.groupby
                        pctx.is_partition = True
                        pctx.partition_key = pkey
                        evr = self._decide(item, pctx)
                        evr.partition = pkey
                        partition_results.append(evr)
        finally:
            if self.persist:
                df.unpersist()

        for cfg, err in self._errors:
            results.append(
                ExpectationValidationResult(
                    success=False,
                    expectation_config=cfg.to_dict(),
                    result={},
                    exception_info={
                        "raised_exception": True,
                        "exception_message": f"{type(err).__name__}: {err}",
                        "exception_traceback": None,
                    },
                )
            )

        success = all(r.success for r in results)
        # resolved metrics keyed by their human-readable identity (the _reg
        # key parts), global + per partition — persisted by the stores layer
        # (reference: metric_store.py / StoreMetricsAction)
        alias_to_key = {alias: key for key, alias in self._main_keys.items()}
        out_metrics = {
            "global": {
                alias_to_key[a]: v for a, v in global_metrics.items() if a in alias_to_key
            },
            "partitions": [
                (
                    pkey,
                    {alias_to_key[a]: v for a, v in pmetrics.items() if a in alias_to_key},
                )
                for pkey, pmetrics in partition_rows
            ],
        }
        return SuiteValidationResult(
            success=success,
            results=results,
            statistics=suite_statistics(results),
            meta={"suite_name": self.suite.name, **(meta or {})},
            partition_results=partition_results,
            metrics=out_metrics,
        )

    def _run_bundles(self, df: DataFrame) -> tuple[dict, list[tuple[dict, dict]]]:
        global_metrics: dict[str, Any] = {}
        partition_rows: list[tuple[dict, dict]] = []  # (partition_key, metrics)
        part_index: dict[str, dict] = {}  # json(pkey) -> metrics dict
        for exprs in (list(self._main_aggs.values()), list(self._distinct_aggs.values())):
            if not exprs:
                continue
            if self.partition_by:
                # GROUPING SETS ((partition_cols...), ()) — exactly the two
                # levels consumed below. rollup(a, b, ...) would also compute
                # every intermediate prefix level ((a), (a, b), ...) and ship
                # those agg buffers through the shuffle just to be discarded.
                gid = (1 << len(self.partition_by)) - 1
                res = (
                    df.groupingSets(
                        [[F.col(c) for c in self.partition_by], []],
                        *[F.col(c) for c in self.partition_by],
                    )
                    .agg(F.grouping_id().alias("_gid"), *exprs)
                    .collect()
                )
                for row in res:
                    d = row.asDict()
                    g = d.pop("_gid")
                    pkey = {c: d.pop(c) for c in self.partition_by}
                    if g == gid:
                        global_metrics.update(d)
                    elif g == 0:
                        k = json.dumps(pkey, sort_keys=True, default=str)
                        if k not in part_index:
                            part_index[k] = {}
                            partition_rows.append((pkey, part_index[k]))
                        part_index[k].update(d)
            else:
                global_metrics.update(df.agg(*exprs).collect()[0].asDict())
        return global_metrics, partition_rows

    def _run_isolated(
        self, meta: Optional[dict], bundle_error: Exception
    ) -> SuiteValidationResult:
        """Fallback when a bundled pass fails: validate each expectation in
        its own single-expectation planner so only the offender carries the
        exception (reference catch_exceptions semantics)."""
        results: list[ExpectationValidationResult] = []
        partition_results: list[ExpectationValidationResult] = []
        if len(self.suite.expectations) <= 1:
            for cfg in self.suite.expectations:
                results.append(
                    ExpectationValidationResult(
                        success=False,
                        expectation_config=cfg.to_dict(),
                        result={},
                        exception_info={
                            "raised_exception": True,
                            "exception_message": f"{type(bundle_error).__name__}: {bundle_error}",
                            "exception_traceback": None,
                        },
                    )
                )
        else:
            for cfg in self.suite.expectations:
                sub = SuitePlanner(
                    self.df,
                    ExpectationSuite(name=self.suite.name, expectations=[cfg]),
                    result_format=self.rf,
                    partition_by=self.partition_by,
                    spark=self.spark,
                    complete_cap=self.complete_cap,
                    evaluation_parameters=self.evaluation_parameters,
                    urn_resolver=self.urn_resolver,
                )
                out = sub.run()
                results.extend(out.results)
                partition_results.extend(out.partition_results)
        success = all(r.success for r in results)
        return SuiteValidationResult(
            success=success,
            results=results,
            statistics=suite_statistics(results),
            meta={"suite_name": self.suite.name, **(meta or {})},
            partition_results=partition_results,
        )

    def _decide(self, item: _Item, ctx: _Ctx) -> ExpectationValidationResult:
        try:
            success, result = item.decide(ctx)
            return ExpectationValidationResult(
                success=bool(success),
                expectation_config=item.cfg.to_dict(),
                result=result,
            )
        except Exception as e:
            if not self.catch_exceptions:
                raise
            return ExpectationValidationResult(
                success=False,
                expectation_config=item.cfg.to_dict(),
                result={},
                exception_info={
                    "raised_exception": True,
                    "exception_message": f"{type(e).__name__}: {e}",
                    "exception_traceback": None,
                },
            )

    def _run_unexpected_rows(self, df: DataFrame, ctx: _Ctx) -> None:
        """include_unexpected_rows → full violating rows (capped at
        partial_unexpected_count) per failing expectation, one unioned job
        (reference: expectation.py:2687-2692). The uncapped path is
        plans/violations.py → write to a table."""
        import json as _json

        n = self.rf["partial_unexpected_count"]
        row_json = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        branches = [
            df.filter(cond)
            .select(F.lit(eid).alias("_eid"), row_json.alias("_row"))
            .limit(n)
            for eid, cond, _, _, a_unexp in self._sample_specs
            if a_unexp is None or (ctx.metrics.get(a_unexp) or 0) > 0
        ]
        if not branches:
            return
        unioned = branches[0]
        for b in branches[1:]:
            unioned = unioned.unionAll(b)
        for r in unioned.collect():
            ctx.sample_rows.setdefault(r["_eid"], []).append(_json.loads(r["_row"]))

    def _run_groupby(self, df: DataFrame, need: _GroupByNeed) -> _GroupByResult:
        cols = [F.col(c) for c in need.cols]
        base = df
        if need.dom is not None:
            base = base.filter(need.dom)
        if need.drop_nulls:
            cond = cols[0].isNotNull()
            for c in cols[1:]:
                cond = cond & c.isNotNull()
            base = base.filter(cond)
        grouped = base.groupBy(*cols).agg(F.count(F.lit(1)).alias("_cnt"))
        n_products = sum(
            [need.want_dup_stats, need.want_top, need.want_dup_sample]
        )
        if n_products > 1:
            grouped = grouped.persist()
        out = _GroupByResult()
        try:
            if need.want_dup_stats:
                row = grouped.agg(
                    F.sum(F.when(F.col("_cnt") > 1, F.col("_cnt"))).alias("dup_rows"),
                    F.count(F.when(F.col("_cnt") > 1, F.lit(1))).alias("dup_vals"),
                    F.count(F.lit(1)).alias("distinct"),
                    F.sum("_cnt").alias("total"),
                ).collect()[0]
                out.dup_row_count = int(row["dup_rows"] or 0)
                out.dup_value_count = int(row["dup_vals"] or 0)
                out.distinct_count = int(row["distinct"] or 0)
                out.total_count = int(row["total"] or 0)
            if need.want_top:
                top_rows = (
                    grouped.orderBy(F.desc("_cnt"), *[F.asc(c) for c in need.cols])
                    .limit(DISTINCT_CAP + 1)
                    .collect()
                )
                out.top_truncated = len(top_rows) > DISTINCT_CAP
                out.top = [
                    (tuple(r[c] for c in need.cols), int(r["_cnt"]))
                    for r in top_rows[:DISTINCT_CAP]
                ]
                if not need.want_dup_stats:
                    if out.top_truncated:
                        # the collected top is a prefix — totals from it would
                        # be silently low; one tiny agg over the (already
                        # shuffled) grouped frame keeps them exact
                        row = grouped.agg(
                            F.count(F.lit(1)).alias("distinct"),
                            F.sum("_cnt").alias("total"),
                        ).collect()[0]
                        out.distinct_count = int(row["distinct"] or 0)
                        out.total_count = int(row["total"] or 0)
                    else:
                        out.distinct_count = len(out.top)
                        out.total_count = sum(c for _, c in out.top)
            if need.want_dup_sample:
                dup_rows = (
                    grouped.filter(F.col("_cnt") > 1)
                    .orderBy(F.desc("_cnt"), *[F.asc(c) for c in need.cols])
                    .limit(self.rf["partial_unexpected_count"])
                    .collect()
                )
                out.dup_sample = [
                    (tuple(r[c] for c in need.cols), int(r["_cnt"])) for r in dup_rows
                ]
            if need.want_partition_top and self.partition_by:
                # partition-local value counts for categorical drift under
                # partition_by: one groupBy(partition_cols + value_cols) —
                # partial-aggregated map-side, shuffle keyed by the compound
                # key (never a window over raw rows) — then a row_number cap
                # over the already-aggregated counts relation. Driver-side
                # collect is bounded by DISTINCT_CAP+1 rows PER partition;
                # a partition whose cardinality exceeds the cap is flagged in
                # part_top_truncated and its decider falls back to the exact
                # bounded aggregate on that partition alone.
                from pyspark.sql import Window

                per_part_cap = min(
                    DISTINCT_CAP,
                    max(
                        64,
                        PARTITION_TOP_BUDGET
                        // getattr(self, "_n_partitions", 1),
                    ),
                )
                out.part_top_cap = per_part_cap
                pgrouped = (
                    base.groupBy(*self.partition_by, *need.cols)
                    .agg(F.count(F.lit(1)).alias("_cnt"))
                    .persist()
                )
                try:
                    w = Window.partitionBy(
                        *[F.col(c) for c in self.partition_by]
                    ).orderBy(F.desc("_cnt"), *[F.asc(c) for c in need.cols])
                    prows = (
                        pgrouped.withColumn("_rk", F.row_number().over(w))
                        .filter(F.col("_rk") <= per_part_cap + 1)
                        .collect()
                    )
                    ptots = (
                        pgrouped.groupBy(*self.partition_by)
                        .agg(F.sum("_cnt").alias("_tot"))
                        .collect()
                    )
                finally:
                    pgrouped.unpersist()
                for r in prows:
                    pk = json.dumps(
                        {c: r[c] for c in self.partition_by},
                        sort_keys=True,
                        default=str,
                    )
                    if int(r["_rk"]) > per_part_cap:
                        out.part_top_truncated[pk] = True
                        continue
                    out.part_top.setdefault(pk, []).append(
                        (tuple(r[c] for c in need.cols), int(r["_cnt"]))
                    )
                out.part_nonnull = {
                    json.dumps(
                        {c: r[c] for c in self.partition_by},
                        sort_keys=True,
                        default=str,
                    ): int(r["_tot"] or 0)
                    for r in ptots
                }
                for pk_top in out.part_top.values():
                    pk_top.sort(key=lambda vc: (-vc[1], tuple(str(v) for v in vc[0])))
            if need.want_dup_stats and self.partition_by:
                # attribute globally-duplicated rows to their partitions:
                # semi-join the (usually small) duplicate-value set back to
                # the rows, then count per partition (one bounded shuffle;
                # AQE skew-join covers a pathological dup set). NULL-SAFE
                # equality: compound keys keep NULL components as values
                # (drop_nulls=False), and a plain equi-join would silently
                # drop them from every partition while the global groupBy
                # counts them — eqNullSafe is still an equi-join for the
                # hash-join planner. Dup side renamed above the join.
                dup_vals = grouped.filter(F.col("_cnt") > 1).select(
                    *[F.col(c).alias(f"__dv_{i}") for i, c in enumerate(need.cols)]
                )
                join_cond = F.col(need.cols[0]).eqNullSafe(F.col("__dv_0"))
                for i, c in enumerate(need.cols[1:], start=1):
                    join_cond = join_cond & F.col(c).eqNullSafe(F.col(f"__dv_{i}"))
                prows = (
                    base.join(dup_vals, on=join_cond, how="left_semi")
                    .groupBy(*self.partition_by)
                    .count()
                    .collect()
                )
                out.part_dup_rows = {
                    json.dumps({c: r[c] for c in self.partition_by}, sort_keys=True, default=str): int(r["count"])
                    for r in prows
                }
                crows = base.groupBy(*self.partition_by).count().collect()
                out.part_considered = {
                    json.dumps({c: r[c] for c in self.partition_by}, sort_keys=True, default=str): int(r["count"])
                    for r in crows
                }
        finally:
            if n_products > 1:
                grouped.unpersist()
        return out

    def _run_samples(self, df: DataFrame, ctx: _Ctx) -> None:
        level = self.rf["result_format"]
        partial_n = self.rf["partial_unexpected_count"]
        # the main pass already counted violations — branches whose global
        # unexpected_count is 0 cannot produce sample rows; pruning them
        # makes the happy path (all expectations pass) sample-free
        specs = [
            s
            for s in self._sample_specs
            if s[4] is None or (ctx.metrics.get(s[4]) or 0) > 0
        ]
        if not specs:
            return
        casters = {eid: _caster_for(df, col) for eid, _, _, col, _ in specs}
        if level == "BASIC":
            branches = [
                df.filter(cond)
                .select(
                    F.lit(eid).alias("_eid"), value.cast("string").alias("_val")
                )
                .limit(partial_n)
                for eid, cond, value, _, _ in specs
            ]
            unioned = branches[0]
            for b in branches[1:]:
                unioned = unioned.unionAll(b)
            for r in unioned.collect():
                v = None if r["_val"] is None else casters[r["_eid"]](r["_val"])
                ctx.sample_values.setdefault(r["_eid"], []).append(v)
        else:  # SUMMARY / COMPLETE — exact value counts per expectation.
            # ONE labeled scan (the violations_df plan shape): every failing
            # expectation's (condition, value) pair rides a single projection
            # → posexplode → groupBy(expectation, value) — instead of one
            # full re-scan of the base df per failing expectation. The
            # per-expectation top-cap is a row_number over the (much smaller)
            # post-aggregation counts relation.
            cap = partial_n if level == "SUMMARY" else self.complete_cap
            eids = [eid for eid, *_ in specs]
            entries = F.array(
                *[
                    F.struct(
                        cond.alias("v"), value.cast("string").alias("s")
                    )
                    for _, cond, value, _, _ in specs
                ]
            )
            exploded = (
                df.select(F.posexplode(entries).alias("_i", "_e"))
                .filter(F.col("_e")["v"])
                .select(F.col("_i"), F.col("_e")["s"].alias("_val"))
            )
            counts = exploded.groupBy("_i", "_val").agg(
                F.count(F.lit(1)).alias("_cnt")
            )
            from pyspark.sql import Window

            w = Window.partitionBy("_i").orderBy(F.desc("_cnt"), F.asc("_val"))
            top = (
                counts.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= cap)
            )
            for r in top.collect():
                eid = eids[r["_i"]]
                v = None if r["_val"] is None else casters[eid](r["_val"])
                ctx.sample_counts.setdefault(eid, []).append((v, int(r["_cnt"])))
            for eid, counts in ctx.sample_counts.items():
                counts.sort(key=lambda vc: (-vc[1], str(type(vc[0]).__name__), str(vc[0])))
                expanded: list[Any] = []
                limit = partial_n if level == "SUMMARY" else self.complete_cap
                for v, c in counts:
                    if len(expanded) >= limit:
                        break
                    expanded.extend([v] * min(c, limit - len(expanded)))
                ctx.sample_values[eid] = expanded


# ---- groupBy-based expectations (distinct sets / modes / uniqueness) -----


def _compile_distinct_set(planner: SuitePlanner, cfg: ExpectationConfiguration, mode: str) -> None:
    name = cfg.kwargs["column"]
    value_set = cfg.kwargs.get("value_set")
    rc_dom, rc_id = planner._rc_domain(cfg)
    key = planner._need_groupby(
        (name,), drop_nulls=True, dom=rc_dom, rc_id=rc_id,
        want_top=True, want_partition_top=True,
    )

    def decide(ctx: _Ctx) -> tuple[bool, dict]:
        gb = ctx.groupby[key]
        top, truncated, _ = ctx.partition_top(gb)
        observed = sorted(
            (values[0] for values, _ in top),
            key=lambda x: (str(type(x).__name__), str(x)),
        )
        obs_set = set(observed)
        exp_set = set(value_set or [])
        if mode == "in":
            success = value_set is None or obs_set.issubset(exp_set)
        elif mode == "contain":
            success = exp_set.issubset(obs_set)
        else:  # equal
            success = obs_set == exp_set
        result: dict[str, Any] = {"observed_value": observed}
        if truncated:
            result["details"] = {
                "observed_truncated_at": (
                    gb.part_top_cap if ctx.is_partition else DISTINCT_CAP
                )
            }
        if mode == "in":
            result["details"] = {
                **result.get("details", {}),
                "unexpected_values": sorted(
                    (obs_set - exp_set), key=lambda x: (str(type(x).__name__), str(x))
                ),
            }
        elif mode == "contain":
            result["details"] = {
                **result.get("details", {}),
                "missing_values": sorted(
                    (exp_set - obs_set), key=lambda x: (str(type(x).__name__), str(x))
                ),
            }
        return bool(success), result

    planner._add_item(cfg, decide, partition_capable=True)


def _compile_most_common(planner: SuitePlanner, cfg: ExpectationConfiguration) -> None:
    name = cfg.kwargs["column"]
    value_set = set(cfg.kwargs.get("value_set") or [])
    ties_okay = bool(cfg.kwargs.get("ties_okay", False))
    rc_dom, rc_id = planner._rc_domain(cfg)
    key = planner._need_groupby(
        (name,), drop_nulls=True, dom=rc_dom, rc_id=rc_id,
        want_top=True, want_partition_top=True,
    )

    def decide(ctx: _Ctx) -> tuple[bool, dict]:
        gb = ctx.groupby[key]
        # tops are count-descending, so a truncated prefix still contains
        # every mode — truncation cannot change this verdict
        top, _, _ = ctx.partition_top(gb)
        if not top:
            return True, {"observed_value": []}
        max_cnt = top[0][1]
        modes = sorted(
            (values[0] for values, cnt in top if cnt == max_cnt),
            key=lambda x: (str(type(x).__name__), str(x)),
        )
        inter = len(value_set.intersection(modes))
        if ties_okay:
            success = inter > 0
        else:
            # reference expect_column_most_common_value_to_be_in_set.py:270-275:
            # without ties_okay, a TIE is itself a failure
            success = len(modes) == 1 and inter == 1
        return bool(success), {"observed_value": modes}

    planner._add_item(cfg, decide, partition_capable=True)


def _compile_unique_map(planner: SuitePlanner, cfg: ExpectationConfiguration) -> None:
    """expect_column_values_to_be_unique / expect_compound_columns_to_be_unique.

    Shuffle-bounded groupBy-count instead of the reference's global window
    (column_values_unique.py:79-84, compound_columns_unique.py:150-155) —
    a window over Window.partitionBy(col) materializes every group in one
    task's memory; groupBy + count partial-aggregates map-side and scales.
    """
    if cfg.expectation_type == "expect_column_values_to_be_unique":
        cols = (cfg.kwargs["column"],)
        drop_nulls = True
        iri = None
    else:
        cols = tuple(cfg.kwargs["column_list"])
        drop_nulls = False
        # reference default ignore_row_if="all_values_are_missing"
        # (expect_compound_columns_to_be_unique.py:35) — applied as a
        # domain pre-filter, the same row drop get_domain_records performs
        # (sparkdf_execution_engine.py:522-541); "never" keeps every row;
        # pair-only spellings raise, as in the reference (-> exception EVR)
        from great_expectations_spark.operators.conditions import (
            MULTICOLUMN_IGNORE_POLICIES,
            validate_ignore_row_if,
        )

        validate_ignore_row_if(
            cfg.kwargs.get("ignore_row_if"), MULTICOLUMN_IGNORE_POLICIES
        )
        iri = cfg.kwargs.get("ignore_row_if") or "all_values_are_missing"
        if iri == "never":
            iri = None
    iri_cond = (
        _ignore_row_if_considered([F.col(c) for c in cols], iri, iri)
        if iri
        else None
    )
    mostly = validate_mostly(cfg.kwargs.get("mostly"))
    dom, dom_id = planner._domain(cfg)
    a_elem = planner._reg(("element_count", dom_id), F.count(F.when(dom, F.lit(1))))
    # approx_count_distinct (HLL) rides the single bundled scan; the exact
    # count comes from the shuffle-bounded groupBy pass — reconciling the two
    # is the scale-path sanity check (north rule: hash-distinct + approx
    # reconciliation; at 10^12 rows the approx pass alone can gate cheaply
    # before the shuffle is paid).
    key_col = F.col(cols[0]) if len(cols) == 1 else F.struct(*[F.col(c) for c in cols])
    eff_dom = dom if iri_cond is None else (dom & iri_cond)
    a_approx = planner._reg(
        ("approx_distinct", dom_id, ",".join(cols), iri or "none"),
        F.approx_count_distinct(F.when(eff_dom, key_col), rsd=0.01),
    )
    rc_dom, rc_id = planner._rc_domain(cfg)
    gb_dom, gb_id = rc_dom, rc_id
    if iri_cond is not None:
        # the ignored rows must leave BOTH the duplicate groups and the
        # considered basis; the need key carries the policy or two
        # same-column_list expectations with different policies would share
        # one (wrong) groupBy pass
        gb_dom = iri_cond if gb_dom is None else (gb_dom & iri_cond)
        gb_id = f"{rc_id}|iri:{iri}"
    key = planner._need_groupby(
        cols, drop_nulls=drop_nulls, dom=gb_dom, rc_id=gb_id,
        want_dup_stats=True, want_dup_sample=True,
    )
    rf = planner.rf

    def decide(ctx: _Ctx) -> tuple[bool, dict]:
        gb = ctx.groupby[key]
        elem = ctx.metrics.get(a_elem, 0) or 0
        if ctx.is_partition and ctx.partition_key is not None:
            # per-partition verdict: rows of THIS partition whose value is a
            # global duplicate
            pk = json.dumps(ctx.partition_key, sort_keys=True, default=str)
            considered = gb.part_considered.get(pk, 0)
            unexpected = gb.part_dup_rows.get(pk, 0)
        else:
            considered = gb.total_count
            unexpected = gb.dup_row_count
        if elem == 0 or considered == 0:
            success = True
        else:
            success = ((considered - unexpected) / considered) >= mostly
        sample: list[Any] = []
        limit = rf["partial_unexpected_count"]
        for values, cnt in gb.dup_sample:
            if len(sample) >= limit:
                break
            v = values[0] if len(values) == 1 else json.dumps(list(values), default=str)
            sample.extend([v] * min(cnt, limit - len(sample)))
        out = format_map_output(
            rf,
            bool(success),
            element_count=elem,
            nonnull_count=considered,
            unexpected_count=unexpected,
            unexpected_list=sample if not ctx.is_partition else None,
        )
        result = out.get("result", {})
        if not ctx.is_partition:
            approx = ctx.metrics.get(a_approx)
            exact = gb.distinct_count
            result["details"] = {
                "duplicate_value_count": gb.dup_value_count,
                "distinct_count_exact": exact,
                "distinct_count_approx": int(approx) if approx is not None else None,
                "approx_rel_error": (
                    round(abs(int(approx) - exact) / exact, 6)
                    if approx is not None and exact
                    else None
                ),
            }
        return bool(success), result

    planner._add_item(cfg, decide, partition_capable=True)


_GROUPBY_COMPILERS: dict[str, Callable[[SuitePlanner, ExpectationConfiguration], None]] = {
    "expect_column_distinct_values_to_be_in_set": lambda p, c: _compile_distinct_set(p, c, "in"),
    "expect_column_distinct_values_to_contain_set": lambda p, c: _compile_distinct_set(p, c, "contain"),
    "expect_column_distinct_values_to_equal_set": lambda p, c: _compile_distinct_set(p, c, "equal"),
    "expect_column_most_common_value_to_be_in_set": _compile_most_common,
    "expect_column_values_to_be_unique": _compile_unique_map,
    "expect_compound_columns_to_be_unique": _compile_unique_map,
    # expect_multicolumn_values_to_be_unique is NOT here: despite the name,
    # its reference semantics are WITHIN-RECORD uniqueness (deprecated alias
    # of expect_select_column_values_to_be_unique_within_record —
    # dataset.py:4603-4626 "records can be duplicated"), so it compiles
    # through the map-condition registry, not the groupBy pass
}


# expectation type -> fn(planner, cfg): the ONE dispatch table, built from the
# family tables (operators.images registered its map types on import above)
_COMPILERS: dict[str, Callable[[SuitePlanner, ExpectationConfiguration], None]] = {
    **dict.fromkeys(schema_checks.SCHEMA_CHECKS, SuitePlanner._compile_schema),
    **dict.fromkeys(_MAP_BUILDERS, SuitePlanner._compile_map),
    **dict.fromkeys(AGG_BUILDERS, SuitePlanner._compile_agg),
    **_GROUPBY_COMPILERS,
    **drift.DRIFT_COMPILERS,
    **special.SPECIAL_COMPILERS,
}
